"""Distributed connected components over candidate-pair graphs.

Engine extension beyond the reference (SURVEY.md §7.5): the reference's dedup
surface stops at candidate pairs; a 100 TB dedup pipeline must collapse the
pair list into canonical duplicate clusters without collecting to the driver.

Algorithm: iterative min-label propagation — every node repeatedly adopts the
minimum label in its closed neighborhood; converges in O(graph diameter)
rounds. Duplicate-cluster graphs are near-cliques (diameter ≤ 2-3), so the
round count is tiny and independent of data volume. Each round is one shuffle
join on the (symmetrized) edge list; lineage is truncated per round with
``localCheckpoint`` so the plan does not grow with iterations — on a real
cluster swap for ``checkpoint`` against a reliable store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _copartition_ckpt(df: DataFrame, *cols: str, eager: bool = False) -> DataFrame:
    """Checkpoint `df` hash-partitioned on `cols` at the session's
    canonical shuffle partition count, with the partitioning RECORDED on
    the checkpoint (guide §2.4: establish the partitioning once).

    Every iterative operator in this module joins a STATIC relation
    (edges) against a per-round frame on the same key every round. A
    bare ``localCheckpoint`` loses the layout: under AQE the physical
    plan is an ``AdaptiveSparkPlanExec`` whose ``outputPartitioning`` is
    ``UnknownPartitioning`` (measured on 4.1: the checkpoint's
    ``Scan ExistingRDD`` prints ``UnknownPartitioning(0)`` even after an
    explicit repartition), so EnsureRequirements re-exchanges the edge
    table EVERY round. Planning just this checkpoint subtree with AQE
    off makes the LogicalRDD record ``hashpartitioning(cols, n)`` and
    the per-round joins reuse it — the static side is never shuffled
    again. The subtrees checkpointed here are scans/unions/distincts
    where losing AQE's runtime re-planning costs nothing; the per-round
    join/aggregate plans keep AQE.

    The explicit count pins the layout: a bare ``repartition(col)``
    would be AQE-coalescible to a run-dependent count.
    ``spark.sql.shuffle.partitions`` is the session's scale knob (local
    default = core count; cluster deploys size it for the data), so the
    value is scale-adaptive, not a local constant."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return _ckpt_partitioned(
        df.repartition(n, *[F.col(c) for c in cols]), eager=eager
    )


def _ckpt_partitioned(df: DataFrame, eager: bool = False) -> DataFrame:
    """``localCheckpoint`` that RECORDS the subtree's output partitioning
    on the resulting LogicalRDD by planning the checkpointed subtree with
    AQE off (see `_copartition_ckpt` — under AQE the snapshot is always
    ``UnknownPartitioning``). Split out of `_copartition_ckpt` so the
    repartition-free form stays available; recording per-ROUND loop
    frames' partitioning this way was measured (sssp/reachability,
    sf0.1 and sf1) and REJECTED: it halves the job count but forces the
    round subtrees to plan without AQE, whose coalescing of tiny
    frontier exchanges is worth more at bench scale than the removed
    exchanges, and whose skew/broadcast promotion matters at cluster
    scale (evidence in OPTIMIZATION_r09.md)."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # physical planning happens inside this call — the non-AQE plan
        # exposes the partitioning the LogicalRDD snapshots
        return df.localCheckpoint(eager=eager)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


#: driver-route bound for `connected_components`: symmetrized edge lists
#: at or under 2× this many rows (2 longs each, ≈ a few MB) are solved
#: with driver-side union-find instead of O(diameter) distributed rounds.
#: Same adaptive-routing family as the dedup bitmask route: the gate is
#: ONE exact count over the already-materialized edge table, both routes
#: are exact, and above the bound the shuffle-shaped loop keeps the job
#: completable at any scale. Bound calibration (r9): 1M sym rows is a
#: 16 MB Arrow transfer + ~1.5 s of path-compressed union-find on the
#: driver — measured on the sf1 dedup graph (585,200 sym rows: 1.8 s
#: toPandas + 0.6 s union-find) vs ~5 distributed min-label rounds at
#: one blocking job + several exchanges each. Far below any driver
#: memory hazard; truly large graphs still take the loop.
#:
#: DRIVER-HEAP DERIVATION (r10, VERDICT r9 #9): the bound is a memory
#: budget, not a tuning constant. Worst-case driver footprint at the
#: gate: 2 × 500k sym rows × 16 B (two longs) = 16 MB Arrow transfer,
#: ~3× that transiently as pandas + the union-find dict ≈ 50 MB — 0.2%
#: of the 24 GiB local driver heap (session.py), and still < 5% of a
#: minimal 1 GiB cluster driver. Anyone raising it should re-derive:
#: bound ≤ driver_heap × 0.005 / (16 B × 3). Pinned by
#: tests/test_graph.py::test_driver_route_gate_arithmetic.
_CC_DRIVER_MAX_EDGES = 500_000

#: driver-bookkeeping bound for the frontier loops (`sssp_bounded`,
#: `bounded_reachability`): when the graph's destination-node domain is
#: at or under this many nodes, the per-round frontier/distance STATE is
#: kept in a driver dict and only the edge relaxation stays distributed
#: (guide §8: decide with small rows, move big rows once). Each round is
#: then ONE job — edge scan ⋈ broadcast frontier → aggregate → Arrow
#: collect of ≤ |V| rows (≤ 32 MB at the bound) — instead of the 4-6
#: AQE stage jobs the all-DataFrame round pays for its checkpoint joins.
#: The distributed loop remains the route above the bound, so huge
#: graphs never put per-node state on the driver.
#:
#: DRIVER-HEAP DERIVATION (r10, VERDICT r9 #9): per-round Arrow collect
#: is ≤ |V| × 16 B (node id + dist longs) = 32 MB at the bound, and the
#: cumulative dist dict ≤ |V| entries ≈ 150 MB of CPython dict — 0.7%
#: of the 24 GiB local driver heap; a cluster driver under 4 GiB should
#: scale the bound down proportionally (bound ≈ driver_heap × 0.03 /
#: 75 B-per-entry). Pinned by
#: tests/test_graph.py::test_driver_route_gate_arithmetic.
_FRONTIER_DRIVER_MAX_NODES = 2_000_000


def _frontier_driver_gate(e: DataFrame, dst_col: str, bound: int) -> bool:
    """True when the frontier loops may bookkeep on the driver: integral
    node ids (the dict/Arrow path is only built for them) and a
    destination-node domain within `bound` (ONE exact distinct-count over
    the already-checkpointed edge table — O(|E|) once, amortized against
    the per-round jobs it removes)."""
    if not bound:
        return False
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    ok = (ByteType, ShortType, IntegerType, LongType)
    fields = {f.name: f.dataType for f in e.schema.fields}
    if not isinstance(fields["u"], ok) or not isinstance(fields["v"], ok):
        return False
    return e.select("v").distinct().count() <= bound


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    strict: bool = False,
    driver_max_edges: int = _CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Resolve connected components of an undirected graph.

    Parameters
    ----------
    edges : DataFrame with two integral id columns (``src``, ``dst``).
    max_iter : safety bound; propagation stops at the first fixpoint.
    strict : when True, raise if ``max_iter`` is exhausted before the
        fixpoint; when False, emit a ``RuntimeWarning`` and return the
        partial labels. Unconverged labels are WRONG clusters (a long chain
        longer than ``max_iter`` hops has not finished merging) — never
        consume them silently.

    Returns (node: long, component: long) where ``component`` is the minimum
    node id reachable from ``node``. Isolated nodes (no edges) are not
    emitted — callers union them back if singleton clusters matter.

    Route (r9, guide §1/§5): the min-label loop pays one blocking job plus
    several exchanges PER ROUND, which at bench scale dominates — the
    dedup candidate graphs measured here are a few hundred edges paying
    ~1 s of round latency. When the symmetrized edge list is small (gate:
    its exact row count, read from the same job that materializes the
    checkpoint), the components are solved with union-find on the driver
    (union-by-min + path compression — identical min-reachable-id answer)
    and re-enter the plan as one Arrow-built local relation. The
    distributed O(diameter) loop remains the route above the bound, so
    cluster-scale graphs never touch the driver.
    """
    import warnings
    if max_iter < 1:
        raise ValueError(f"connected_components needs max_iter >= 1, got {max_iter}")
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # symmetrize once; reused by every round — checkpoint to cut re-read of
    # the (possibly expensive) candidate-pair lineage. The count both
    # materializes the (lazy) checkpoint and sizes the route: one job.
    sym = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_sym = sym.count()
    if n_sym <= 2 * driver_max_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        # Arrow path (guide §6 "Arrow for driver transfers"): at the
        # bound, row-based collect() pays py4j per-row deserialization
        # for up to 1M rows; toPandas moves the same rows as a few Arrow
        # batches (measured 1.8 s vs multi-second collect at 585k rows).
        sym_pdf = sym.toPandas()
        for u, v in zip(
            sym_pdf.iloc[:, 0].tolist(), sym_pdf.iloc[:, 1].tolist()
        ):
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:  # union-by-min: the root IS the component label
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        spark = edges.sparkSession
        if not parent:
            return spark.createDataFrame([], "node long, component long")
        import pandas as pd

        nodes = sorted(parent)
        return spark.createDataFrame(
            pd.DataFrame(
                {"node": nodes, "component": [find(n) for n in nodes]},
                dtype="int64",
            ),
            schema="node long, component long",
        )
    # distributed route: the gate above proved the graph LARGE, so the
    # §2.4 trade flips — co-partition the edge table on the loop's join
    # key once (one extra exchange of sym, reusing the cached rows) and
    # every round's sym⋈labels join is exchange-free on the edge side.
    # At bench scale the same move measured 1.2-1.7x SLOWER (pinning the
    # checkpoint partitioning blocks AQE from coalescing the tiny per-
    # round exchanges — evidence in OPTIMIZATION_r09.md), which is why
    # it lives behind the size gate instead of applying universally.
    sym = _copartition_ckpt(sym, "v")
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        # min label over each node's neighbors (shuffle on node id)
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("u", "node")
        )
        merged = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                    "label"
                ),
            )
            # LAZY checkpoint + count: the count's job materializes the
            # round's checkpoint AND answers the fixpoint test — one
            # blocking action per round instead of two (same fold as
            # sssp_bounded, VERDICT r8 #3; lineage still truncates, the
            # next round reads the cached RDD)
            .localCheckpoint(eager=False)
        )
        changed = merged.filter(F.col("label") != F.col("old_label")).count()
        labels = merged.select("node", "label")
        if changed == 0:
            break
    else:
        msg = (
            f"connected_components did not converge within max_iter={max_iter} "
            f"({changed} labels still changing); returned components are "
            "incomplete merges — raise max_iter (rounds needed ≈ graph diameter)"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select("node", F.col("label").alias("component"))


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int | None = None,
    copartition: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list: returns (node, rank)
    after `iters` synchronous updates of
    ``rank(v) = (1-d)/N + d * Σ_{u→v} rank(u)/outdeg(u)``
    (simplified model: dangling-node mass is not redistributed — documents
    the same convention as the classic Spark example).

    Distributed shape per iteration: one equi-join of the edge list with the
    current ranks on the source key plus one aggregation on the destination
    key — both plain shuffles on node ids, no driver data. Only N (one
    count) reaches the driver. Iterations grow the lineage linearly; for
    long runs pass `checkpoint_every` to truncate it with localCheckpoint
    (same discipline as merge's read-before-overwrite). The deterministic
    fixed-iteration form (no convergence test) keeps the result
    oracle-checkable by CTE unrolling.
    """
    # materialize the (possibly expensive) edge derivation ONCE: the loop
    # re-reads edges every iteration, and without this the full upstream
    # lineage (joins/distinct) re-executes per iteration — the classic
    # iterative-algorithm caching rule. LAZY checkpoints (r9): the
    # mandatory `n` count materializes edges+nodes in ONE job (edges'
    # RDD caches mid-job and every later reference reuses it), and `e`
    # materializes inside the final action — 3 eager driver barriers
    # folded into the actions the algorithm already needs.
    # `copartition` (guide §2.4, cluster knob): hash-partition the static
    # loop relations on their per-iteration join keys ONCE so every
    # iteration's edge-side join is exchange-free — an iteration then
    # pays exactly the mass-aggregation shuffle PageRank fundamentally
    # requires. OFF by default: at bench scale the pinned layout blocks
    # AQE from coalescing the tiny per-round exchanges and measured
    # 1.46x slower (interleaved A/B, OPTIMIZATION_r09.md); on a cluster
    # where the edge table dwarfs a round's rank traffic, turn it on.
    _ck = (
        (lambda d, k: _copartition_ckpt(d, k))
        if copartition
        else (lambda d, k: d.localCheckpoint(eager=False))
    )
    edges = edges.localCheckpoint(eager=False)
    nodes = _ck(
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct(),
        "node",
    )
    n = nodes.count()
    out_deg = edges.groupBy(src_col).agg(F.count("*").alias("outdeg"))
    e = _ck(
        edges.join(out_deg, src_col)
        .select(
            F.col(src_col).alias("e_src"), F.col(dst_col).alias("e_dst"), "outdeg"
        ),
        "e_src",
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iters):
        contribs = (
            e.join(ranks, e["e_src"] == ranks["node"])
            .select(
                F.col("e_dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    collect_bounded: bool = False,
    copartition: bool = False,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) over a (weighted) edge list:
    returns (node, hub, auth) after `iters` synchronous rounds of
    ``auth(v) = Σ_{u→v} w·hub(u)`` then ``hub(u) = Σ_{u→v} w·auth(v)``,
    each half-step L1-normalized (sum of scores = 1) so the scale stays
    engine-exact without the usual L2 norm's sqrt.

    Distributed shape per round: two edge⋈score equi-joins + two
    aggregations, shuffling on node ids only; the normalizer is a 1-row
    aggregate broadcast back (never a driver round-trip). Deterministic
    fixed-iteration form — oracle-checkable by CTE unrolling, same
    convention as `pagerank`. Nodes that never occur as a source (or
    destination) report hub (auth) = 0.
    """
    if iters < 1:
        raise ValueError(f"hits() needs iters >= 1, got {iters}")
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    if collect_bounded:
        # r9 optimization (guide §8 — decide with small rows): the CALLER
        # asserts the collapsed edge list is schema-bounded (e.g. the
        # ≤25×25 nation matrix), so one job collects it and the fixed
        # HITS rounds run on the driver — replacing per-round checkpoint
        # jobs + AQE stage waves over a ≤625-row table with microseconds
        # of arithmetic. Per-node sums accumulate in sorted (src, dst)
        # edge order — deterministic; the engine↔oracle agreement after
        # the caller's 6-dp round is the same FP tolerance class the
        # shuffle-ordered distributed sums already relied on (oracle
        # re-verified at sf0.01 and sf0.1). The result re-enters the
        # plan as ONE SQL VALUES literal (a py4j call per row would cost
        # more than the query).
        rows = edges.select(
            F.col(src_col).alias("s"),
            F.col(dst_col).alias("d"),
            w.cast("double").alias("w"),
        ).collect()
        es = sorted((r["s"], r["d"], float(r["w"])) for r in rows)
        hubs_d = {u: 1.0 for u, _, _ in es}
        auths_d: dict = {}
        for _ in range(iters):
            a_raw: dict = {}
            for u, v, ew in es:
                h = hubs_d.get(u)
                if h is not None:
                    a_raw[v] = a_raw.get(v, 0.0) + ew * h
            a_tot = 0.0
            for v in sorted(a_raw):
                a_tot += a_raw[v]
            auths_d = {v: a_raw[v] / a_tot for v in a_raw}
            h_raw: dict = {}
            for u, v, ew in es:
                a = auths_d.get(v)
                if a is not None:
                    h_raw[u] = h_raw.get(u, 0.0) + ew * a
            h_tot = 0.0
            for u in sorted(h_raw):
                h_tot += h_raw[u]
            hubs_d = {u: h_raw[u] / h_tot for u in h_raw}
        nodes_d = sorted({u for u, _, _ in es} | {v for _, v, _ in es})
        spark = edges.sparkSession

        def esc(x) -> str:
            return str(x).replace("'", "''")

        vals = ", ".join(
            f"('{esc(nd)}', CAST('{hubs_d.get(nd, 0.0)!r}' AS DOUBLE),"
            f" CAST('{auths_d.get(nd, 0.0)!r}' AS DOUBLE))"
            for nd in nodes_d
        )
        return spark.sql(
            f"SELECT node, hub, auth FROM VALUES {vals} AS t(node, hub, auth)"
        )
    # lazy like the loop below: no action happens until the caller's —
    # e/nodes cache on first use inside that job and every later
    # reference (two per half-step for e) reads the cached RDD.
    # `copartition` (guide §2.4, cluster knob — rationale in pagerank):
    # TWO co-partitioned copies of the static edge list (space-for-
    # shuffle): each HITS round joins edges on e_src (auth half-step)
    # AND on e_dst (hub half-step) — one cached copy per key makes both
    # per-round joins exchange-free on the edge side; the dst copy
    # derives FROM the cached src copy, so the upstream edge lineage
    # still executes once. Off by default (bench-scale A/B evidence in
    # OPTIMIZATION_r09.md).
    e = (
        edges.select(
            F.col(src_col).alias("e_src"),
            F.col(dst_col).alias("e_dst"),
            w.cast("double").alias("e_w"),
        )
    )
    if copartition:
        e = _copartition_ckpt(e, "e_src")
        e_by_dst = _copartition_ckpt(e, "e_dst")
    else:
        e = e.localCheckpoint(eager=False)
        e_by_dst = e
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .unionByName(e.select(F.col("e_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hubs = e.select(F.col("e_src").alias("node")).distinct().withColumn(
        "h", F.lit(1.0)
    )
    auths = None
    for _ in range(iters):
        a_raw = (
            e.join(hubs, e.e_src == hubs.node)
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.sum(F.col("e_w") * F.col("h")).alias("a"))
        )
        a_tot = a_raw.agg(F.sum("a").alias("a_tot"))
        # LAZY checkpoint BEFORE the next half-step consumes the frame
        # (r9 optimization): the old eager checkpoints sat AFTER h_raw
        # was already built on the un-checkpointed auths plan, so every
        # iteration executed the auth join+agg twice (once inside the
        # hub checkpoint's job, once for auths' own eager job) and paid
        # two extra blocking jobs. Checkpointing lazily right here keeps
        # the lineage truncation (plan is LogicalRDD immediately) while
        # the downstream half-step computes-and-caches it exactly once,
        # with zero extra blocking actions. Same float ops in the same
        # order — results identical.
        auths = a_raw.crossJoin(F.broadcast(a_tot)).select(
            "node", (F.col("a") / F.col("a_tot")).alias("a")
        ).localCheckpoint(eager=False)
        h_raw = (
            e_by_dst.join(auths, e_by_dst.e_dst == auths.node)
            .groupBy(F.col("e_src").alias("node"))
            .agg(F.sum(F.col("e_w") * F.col("a")).alias("h"))
        )
        h_tot = h_raw.agg(F.sum("h").alias("h_tot"))
        hubs = h_raw.crossJoin(F.broadcast(h_tot)).select(
            "node", (F.col("h") / F.col("h_tot")).alias("h")
        ).localCheckpoint(eager=False)
    return (
        nodes.join(hubs, "node", "left")
        .join(auths, "node", "left")
        .select(
            "node",
            F.coalesce("h", F.lit(0.0)).alias("hub"),
            F.coalesce("a", F.lit(0.0)).alias("auth"),
        )
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    copartition: bool = False,
) -> DataFrame:
    """Per-node triangle counts via degree-ordered wedge closing
    ("compact-forward" / Schank-Wagner).

    The naive wedge join (all 2-paths through each middle node) blows up as
    Σ deg(v)² — on a power-law graph the hub nodes alone make that
    intractable at scale. Directing every edge from the (degree, id)-smaller
    endpoint to the larger one bounds every out-degree by O(√|E|), so the
    wedge set is Σ outdeg(v)² = O(|E|^1.5) — the best known bound for exact
    triangle enumeration, achieved here with two equi-joins (shuffles on
    node ids) and no driver data.

    Each triangle is enumerated exactly once (its rank-smallest vertex is
    the wedge apex), then credited to all three corners. Returns
    (node, n_triangles).
    """
    # canonical undirected edge set (a < b), self-loops dropped.
    # Materialized eagerly: it feeds the degree table AND the orientation
    # join — without the checkpoint the (possibly expensive) upstream edge
    # derivation re-executes per consumer, same discipline as pagerank.
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
        # lazy (r9): caches on first use inside the caller's single
        # action; both consumers (degree table, orientation join) read
        # the cached RDD — no standalone blocking job
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient each edge toward the (degree, id)-larger endpoint
    ranked = (
        und.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # directed feeds both wedge sides and the closing-edge probe (3 uses):
    # checkpoint so the orientation joins run once, not three times
    directed = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("vid"),
        # `copartition` (guide §2.4, cluster knob — rationale in
        # pagerank): with hash(u) recorded, the e1⋈e2 wedge self-join
        # needs no exchange on either side — only the closing-edge join
        # shuffles
    ).transform(
        lambda d: _copartition_ckpt(d, "u")
        if copartition
        else d.localCheckpoint(eager=False)
    )
    e1 = directed.select(
        F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx"), F.col("vid").alias("xi")
    )
    e2 = directed.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy"), F.col("vid").alias("yi")
    )
    # wedges at apex u, ordered so the closing edge is oriented x -> y
    wedges = e1.join(e2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("xi") < F.col("yi")))
    )
    closing = directed.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    return (
        tris.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
    copartition: bool = False,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), made
    deterministic: every node starts labeled with its own id; each round it
    adopts the most frequent label among its neighbors, ties broken by the
    smallest label. Fixed round count → CTE-unrollable value oracle (the
    stochastic/asynchronous variants are NOT reproducible across engines,
    which is why this engine pins the deterministic form).

    Per round: one join of the symmetrized edge list with the labels (hash
    exchange on node id), one (node, label) count aggregate, one per-node
    window for the argmax — all key-partitioned, no global ordering, no
    driver data. Lineage is truncated per round. Returns (node, label).
    """
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(
            edges.filter(F.col(src) != F.col(dst)).select(
                F.col(dst).alias("u"), F.col(src).alias("v")
            )
        )
        .distinct()
        # `copartition` (guide §2.4, cluster knob — rationale in
        # pagerank): cache the edge list hash(u)-partitioned so each
        # round's e⋈labels join is exchange-free on the edge side
        .transform(
            lambda d: _copartition_ckpt(d, "u")
            if copartition
            else d.localCheckpoint(eager=False)
        )
    )
    labels = e.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label").asc())
    for _ in range(iters):
        neigh = e.join(labels, e["u"] == labels["node"]).select(
            F.col("v").alias("node"), "label"
        )
        counts = neigh.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
            # lazy (r9): fixed-iteration loop with no convergence probe —
            # nothing here needs its own blocking job; the caller's action
            # materializes each round's cache in sequence
            .localCheckpoint(eager=False)
        )
    return labels


def bounded_reachability(
    edges: DataFrame,
    sources: DataFrame,
    depth: int,
    src: str = "src",
    dst: str = "dst",
    copartition: bool = False,
    driver_max_nodes: int = _FRONTIER_DRIVER_MAX_NODES,
) -> DataFrame:
    """Multi-source BFS with a hop bound: (node, hops) for every node
    reachable from `sources` (a 1-column DataFrame named `node`) within
    `depth` hops, `hops` = the minimum distance.

    The scale-safe form of hierarchy expansion / transitive closure:
    unbounded recursive traversal on a big graph is a latency landmine, so
    the depth is an explicit contract (the oracle mirrors it as a bounded
    recursive CTE). Per hop: one frontier⋈edges join + an anti-join against
    the visited set — the frontier never re-expands settled nodes, so total
    work is O(edges within `depth` hops), not O(depth · edges). Lineage is
    truncated per hop.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    # `copartition` (guide §2.4, cluster knob — rationale in pagerank):
    # cache the edge list hash(u)-partitioned so the per-hop frontier
    # join never re-shuffles the edge table
    e = (
        _copartition_ckpt(e, "u")
        if copartition
        else e.localCheckpoint(eager=False)
    )
    # DRIVER-BOOKKEEPING route (r9 — rationale in sssp_bounded): visited
    # and frontier are ≤ |V| while edges are unbounded, so with a
    # driver-bounded node domain the BFS state lives in a dict and each
    # hop is ONE job (edge scan ⋈ broadcast frontier → distinct → Arrow
    # collect). First-seen hop == minimum hop, exactly the distributed
    # anti-join's semantics.
    if _frontier_driver_gate(e, "v", driver_max_nodes):
        import pandas as pd

        spark = edges.sparkSession
        src_pdf = (
            sources.select("node")
            .distinct()
            .limit(driver_max_nodes + 1)
            .toPandas()
        )
        if len(src_pdf) <= driver_max_nodes:
            hops_map: dict = {int(n): 0 for n in src_pdf["node"].tolist()}
            if not hops_map:
                return spark.createDataFrame([], "node long, hops int")
            frontier_ids = list(hops_map)
            for d in range(1, depth + 1):
                fdf = spark.createDataFrame(
                    pd.DataFrame({"u": pd.array(frontier_ids, dtype="int64")})
                )
                nxt_pdf = (
                    e.join(F.broadcast(fdf), "u")
                    .select("v")
                    .distinct()
                    .toPandas()
                )
                nxt = [
                    v for v in nxt_pdf["v"].tolist() if v not in hops_map
                ]
                if not nxt:
                    break
                for v in nxt:
                    hops_map[v] = d
                frontier_ids = nxt
            ns = sorted(hops_map)
            return spark.createDataFrame(
                pd.DataFrame(
                    {
                        "node": pd.array(ns, dtype="int64"),
                        "hops": pd.array(
                            [hops_map[n] for n in ns], dtype="int32"
                        ),
                    }
                ),
                schema="node long, hops int",
            )
    visited = sources.select(F.col("node")).distinct().withColumn(
        "hops", F.lit(0)
    ).localCheckpoint(eager=False)
    frontier = visited
    # ONE blocking job per hop (r9, same fold as sssp_bounded): the lazy
    # checkpoint's count() materializes the hop's frontier AND answers
    # the emptiness probe; visited's checkpoint is lazy and materializes
    # on first use next hop (or in the caller's action).
    for d in range(1, depth + 1):
        nxt = (
            e.join(frontier.select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(d))
        )
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited


def kcore(
    edges: DataFrame,
    k: int,
    iters: int,
    src: str = "src",
    dst: str = "dst",
    copartition: bool = False,
) -> DataFrame:
    """k-core peeling over an undirected graph, a FIXED `iters` rounds:
    each round recomputes degrees and drops every node with degree < k
    (both its edge endpoints leave the edge set), exposing new low-degree
    nodes for the next round. Returns (node, deg) for the survivors with
    their residual degree.

    The fixed round count is the determinism contract (same reason
    `pagerank`/`label_propagation` fix iterations): the result after
    exactly R rounds is well-defined whether or not the peel has
    converged, so an independent engine reproduces it as R unrolled CTEs.
    Peeling converges in at most |V| rounds but near-always in a handful —
    callers wanting the fixpoint raise `iters` until a round removes
    nothing.

    Scale shape: per round one degree aggregation + two left-semi joins
    (both endpoints against the survivor set) — all equi-joins on the node
    id; the survivor set is a 1-column table that AQE broadcasts once it
    shrinks. Lineage is truncated per round.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # `copartition` (guide §2.4, cluster knob — rationale in
        # pagerank): with hash(u) recorded, the per-round degree
        # aggregate folds into one HashAggregate with NO exchange and
        # the broadcast semi-joins preserve the layout into the next
        # round's checkpoint — a peel round then moves no edge bytes
        .transform(
            lambda d: _copartition_ckpt(d, "u")
            if copartition
            else d.localCheckpoint(eager=False)
        )
    )
    cur = sym
    # lazy per-round checkpoints (r9): fixed round count, no fixpoint
    # probe — the caller's one action materializes each round's cache in
    # sequence (keep is referenced twice per round and reads the cached
    # parent, so lineage still cannot grow)
    for _ in range(iters):
        keep = (
            cur.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
        )
        cur = (
            cur.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    return cur.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))


def sssp_bounded(
    edges: DataFrame,
    sources: DataFrame,
    depth: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    collapsed: bool = False,
    assume_nonnegative: bool = False,
    copartition: bool = False,
    driver_max_nodes: int = _FRONTIER_DRIVER_MAX_NODES,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths with a hop bound: (node,
    dist) where dist is the minimum total edge weight over paths of at
    most `depth` edges from any source (Bellman-Ford, frontier form).

    Like `bounded_reachability`, the hop bound is the scale contract —
    it makes the cost O(depth) rounds of (frontier⋈edges + min-agg) and
    lets a DuckDB depth-guarded recursive CTE oracle the exact values.
    The frontier carries only nodes whose tentative distance IMPROVED
    last round (delta-stepping's work-skipping property): settled
    regions of a 100 TB graph are never re-joined, and the loop exits
    early when no distance improves. Weights should be integral (long)
    so min-of-path-sums is exact across engines.

    Negative weights are rejected: with the hop bound they would be
    well-defined, but the early-exit then loses paths a longer horizon
    would still improve — fail loudly rather than silently under-relax.
    """
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
    )
    # parallel edges collapse to their cheapest — fewer rows per round.
    # `collapsed=True` (r9): the caller asserts (u, v) pairs are already
    # unique (e.g. built by a distinct() on the key pair), making this
    # groupBy a full-shuffle identity — skip it. min() over unique keys
    # returns the row unchanged, so the assertion can only ever save
    # work, never change a value.
    if not collapsed:
        e = e.groupBy("u", "v").agg(F.min("w").alias("w"))
    # `copartition` (guide §2.4, cluster knob — rationale in pagerank):
    # one up-front shuffle buys an exchange-free edge side for all
    # `depth` Bellman-Ford rounds
    e = (
        _copartition_ckpt(e, "u", eager=True)
        if copartition
        else e.localCheckpoint(eager=True)
    )
    # guard AFTER the checkpoint: probing the raw lineage would execute
    # the (possibly expensive) upstream edge derivation a whole extra
    # time just for the sign check — on the cached collapsed edges it is
    # one cheap scan. `assume_nonnegative=True` (r9): the caller proves
    # non-negativity by construction (e.g. weight = k % 7 + 1) and skips
    # the scan.
    if not assume_nonnegative and e.filter(F.col("w") < 0).limit(1).count() > 0:
        raise ValueError("sssp_bounded requires non-negative weights")
    # DRIVER-BOOKKEEPING route (r9, guide §8 "decide with small rows"):
    # the per-round state (dist, frontier) is ≤ |V| rows while the edge
    # table can be arbitrarily large — so when |V| is driver-bounded,
    # keep the state in a dict, re-enter each round's frontier as an
    # Arrow local relation force-broadcast into the edge join (the edge
    # side is never exchanged), and Arrow-collect the ≤ |V| candidate
    # minima. One job per round; the relaxation arithmetic stays JVM-side
    # and IEEE-identical, and the driver merge is exactly the
    # left-join/filter/union-min of the distributed round below.
    if _frontier_driver_gate(e, "v", driver_max_nodes):
        import pandas as pd

        spark = edges.sparkSession
        src_pdf = (
            sources.select("node")
            .distinct()
            .limit(driver_max_nodes + 1)
            .toPandas()
        )
        if len(src_pdf) <= driver_max_nodes:
            dist_map: dict = {int(n): 0 for n in src_pdf["node"].tolist()}
            if not dist_map:
                return spark.createDataFrame([], "node long, dist long")
            frontier_map = dist_map
            for _ in range(depth):
                fdf = spark.createDataFrame(
                    pd.DataFrame(
                        {
                            "u": pd.array(
                                list(frontier_map.keys()), dtype="int64"
                            ),
                            "dist": list(frontier_map.values()),
                        }
                    )
                )
                cand_pdf = (
                    e.join(F.broadcast(fdf), "u")
                    .select(
                        F.col("v").alias("node"),
                        (F.col("dist") + F.col("w")).alias("cand"),
                    )
                    .groupBy("node")
                    .agg(F.min("cand").alias("cand"))
                    .toPandas()
                )
                improved_map: dict = {}
                for n_, c_ in zip(
                    cand_pdf["node"].tolist(), cand_pdf["cand"].tolist()
                ):
                    old = dist_map.get(n_)
                    if old is None or c_ < old:
                        improved_map[n_] = c_
                if not improved_map:
                    break
                dist_map.update(improved_map)
                frontier_map = improved_map
            out_t = (
                "double"
                if any(isinstance(x, float) for x in dist_map.values())
                else "long"
            )
            ns = sorted(dist_map)
            return spark.createDataFrame(
                pd.DataFrame(
                    {
                        "node": pd.array(ns, dtype="int64"),
                        "dist": [dist_map[n_] for n_ in ns],
                    }
                ),
                schema=f"node long, dist {out_t}",
            )
    dist = (
        sources.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    # ONE blocking job per round (VERDICT r8 #3; was three: eager
    # frontier checkpoint + isEmpty probe + eager dist checkpoint). Both
    # checkpoints are LAZY; the round's count() is the only action — it
    # materializes this round's frontier checkpoint AND (on first use)
    # the previous round's dist checkpoint, and the count doubles as the
    # early-exit test. By induction each round carries exactly one
    # unmaterialized dist checkpoint whose plan is depth-1 over already-
    # materialized checkpoints, so lineage stays constant-depth — the
    # property the old eager checkpoints bought with two extra blocking
    # jobs per round.
    for _ in range(depth):
        cand = (
            e.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        improved = (
            cand.join(dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("node", F.col("cand").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if improved.count() == 0:
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
        frontier = improved
    return dist


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hub_degree: int = 100,
    label_fn=None,
) -> DataFrame:
    """Adamic–Adar link-prediction scores for every candidate `dst`-side
    pair sharing at least one `src`-side neighbor in a bipartite edge set:
    score(a, b) = Σ over common neighbors u of 1/ln(deg(u)) — the classic
    common-neighbor predictor that discounts promiscuous neighbors
    (Adamic & Adar, 2003).

    Output: (node_a, node_b, n_common, score) with node_a < node_b.

    Scale shape: one degree aggregation, then the pair enumeration is a
    self-equi-join on the shared neighbor — wedge volume Σ_u deg(u)², the
    same budget as triangle counting. Neighbors with degree above
    `max_hub_degree` are dropped BEFORE the join (the standard hub guard:
    a u connected to everything creates deg² ≈ |V|² pairs while
    contributing only 1/ln(deg) ≈ 0 evidence per pair — at 100 TB the cap
    is what keeps the wedge volume linear-ish in |E|). Degree is computed
    on the FULL graph first, so the discount 1/ln(deg) is unbiased by the
    cap; deg-1 neighbors carry no pair anyway (ln(1) = 0 would divide by
    zero — they are excluded with the hubs).

    r10 NOTE (guide §1.5 — measured and kept AS-IS): two restructures
    were benched against this shape and both lost. (1) Neighbor-list
    explode (collect_set → sorted list → nested transform/slice pair
    generation): 1 fact scan / 2 exchanges instead of 4 / 11, but
    Spark's higher-order array functions are interpreted (no whole-stage
    codegen) and the full bench measured 7.6 s vs 2.6 s — the wedge
    generation must stay in codegen. (2) The same join with `ew` lazily
    checkpointed (upstream once instead of twice): 3.3–3.5 s vs 2.8 s
    min-of-3 interleaved — the checkpoint write/read of the edge-weight
    table costs more than the duplicated aggregation subtree it saves,
    because the duplicate branches are cheap codegen pipelines over
    broadcast joins. Evidence in OPTIMIZATION_r10.md.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("w")).distinct()
    deg = e.groupBy("u").agg(F.count("*").alias("deg"))
    ok = deg.filter((F.col("deg") >= 2) & (F.col("deg") <= max_hub_degree))
    ew = e.join(ok, "u").withColumn(
        "inv_log_deg", F.lit(1.0) / F.log(F.col("deg").cast("double"))
    )
    a = ew.select("u", F.col("w").alias("node_a"), "inv_log_deg")
    b = ew.select("u", F.col("w").alias("node_b"))
    agg = (
        a.join(b, "u")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(
            F.count("*").alias("n_common"),
            F.round(F.sum("inv_log_deg"), 6).alias("score"),
        )
    )
    if label_fn is None:
        return agg
    # post-aggregation relabel (guide §2.3 — shuffle fewer bytes): the
    # wedge join + pair aggregate above ran on the caller's NARROW keys
    # (ints), and only the Σdeg² -collapsed pair table pays the string
    # materialization. label_fn need not be order-preserving: the pair
    # set is orientation-deduped on the int key, and n_common/score are
    # orientation-symmetric, so least/greatest on the LABELS reproduces
    # the exact rows a label-keyed run would emit.
    la, lb = label_fn(F.col("node_a")), label_fn(F.col("node_b"))
    return agg.select(
        F.least(la, lb).alias("node_a"),
        F.greatest(la, lb).alias("node_b"),
        "n_common",
        "score",
    )
