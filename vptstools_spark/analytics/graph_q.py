"""Graph analytics over the harness star schema: PageRank on the
customer→supplier trade graph (edges = distinct (custkey, suppkey) pairs
from orders ⋈ lineitem).

Complements `operators/graph.py`'s connected components (used by the dedup
cluster queries): CC resolves equivalence classes, PageRank ranks nodes by
link mass — the two standard iterative-graph shapes a data-pipeline engine
needs. Both run as fixed-iteration join+aggregate loops (one shuffle pair
per iteration, model-free), so the oracle can unroll them as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.io import table

#: fixed iteration count — deterministic, CTE-unrollable (see module doc)
_PR_ITERS = 3
_PR_DAMPING = 0.85


def _trade_edges_int(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct (customer, supplier) trade edges on INT node ids:
    customer c → node 2c, supplier s → node 2s+1 (bijective to the
    'c…'/'s…' string labels). r9 optimization, guide §2.3 — the
    iterative consumers shuffle these ids every round, and 8-byte longs
    beat concat'ed strings through every exchange; queries whose OUTPUT
    carries node labels re-attach them after the iteration (pagerank), 
    and histogram outputs (sssp, reachability) never see node ids at
    all, so results are identical."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
    )


def q_pagerank_trade(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the bipartite customer→supplier graph, 3 iterations,
    d=0.85 (`operators/graph.py:pagerank`): top-25 suppliers by link mass.
    Ranks are rounded to 6 dp before the final order/limit so the result is
    FP-aggregation-order independent (ties break on the node id)."""
    from vptstools_spark.operators.graph import pagerank

    # int node ids through all 3 iterations (see _trade_edges_int); the
    # 's…' labels attach AFTER the loop and BEFORE the orderBy/limit, so
    # the tie-break is the same string ordering as before
    pr = pagerank(
        _trade_edges_int(spark, sf), iters=_PR_ITERS, damping=_PR_DAMPING
    )
    return (
        pr.filter(F.col("node") % 2 == 1)
        .select(
            F.concat(
                F.lit("s"), ((F.col("node") - 1) / 2).cast("long").cast("string")
            ).alias("node"),
            F.round("rank", 6).alias("pr"),
        )
        .orderBy(F.col("pr").desc(), "node")
        .limit(25)
    )


def q_triangle_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Top-15 parts by triangle count in the co-purchase graph (parts are
    adjacent when some order contains both; restricted to partkey < 400 to
    keep the toy graph's density realistic). Uses the degree-ordered wedge
    enumeration (`operators/graph.py:triangle_count`) whose wedge volume is
    O(|E|^1.5); the oracle counts the same triangles with the naive
    a<b<c triple join, which only the oracle's scale can afford."""
    from vptstools_spark.operators.graph import triangle_count

    l = table(spark, sf, "lineitem").filter(F.col("l_partkey") < 400)
    l1 = l.select("l_orderkey", F.col("l_partkey").alias("pa"))
    l2 = l.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        l1.join(l2, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return (
        triangle_count(edges)
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(15)
    )


_KCORE_K = 10
_KCORE_ROUNDS = 3


def q_kcore_parts(spark: SparkSession, sf: str) -> DataFrame:
    """k-core peeling (k=10, 3 fixed rounds) over the part co-purchase
    graph (partkey < 300): survivors with residual degree, top-20. Each
    round removes every part whose co-purchase degree fell below k —
    the standard dense-subgraph primitive (`operators/graph.py:kcore`);
    fixed rounds make it unrollable as oracle CTEs."""
    from vptstools_spark.operators.graph import kcore

    l = (
        table(spark, sf, "lineitem")
        .filter(F.col("l_partkey") < 300)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    l1 = l.select("l_orderkey", F.col("l_partkey").alias("pa"))
    l2 = l.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        l1.join(l2, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    return (
        kcore(edges, k=_KCORE_K, iters=_KCORE_ROUNDS)
        .orderBy(F.col("deg").desc(), "node")
        .limit(20)
    )


_KCORE_ORACLE = f"""
WITH l AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 300
), e0 AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM l a JOIN l b USING (l_orderkey)
    WHERE a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
), k0 AS (
    SELECT u FROM e0 GROUP BY u HAVING COUNT(*) >= {_KCORE_K}
), e1 AS (
    SELECT e.u, e.v FROM e0 e
    JOIN k0 x ON e.u = x.u JOIN k0 y ON e.v = y.u
), k1 AS (
    SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= {_KCORE_K}
), e2 AS (
    SELECT e.u, e.v FROM e1 e
    JOIN k1 x ON e.u = x.u JOIN k1 y ON e.v = y.u
), k2 AS (
    SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= {_KCORE_K}
), e3 AS (
    SELECT e.u, e.v FROM e2 e
    JOIN k2 x ON e.u = x.u JOIN k2 y ON e.v = y.u
)
SELECT u AS node, COUNT(*) AS deg
FROM e3 GROUP BY u ORDER BY deg DESC, node LIMIT 20
"""


_TRIANGLE_ORACLE = """
WITH e AS (
    SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
    FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
    WHERE l1.l_partkey < 400 AND l2.l_partkey < 400
      AND l1.l_partkey < l2.l_partkey
), tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, COUNT(*) AS n_triangles
FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
GROUP BY 1
ORDER BY n_triangles DESC, node
LIMIT 15
"""


def q_label_prop_communities(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic synchronous label propagation (2 rounds) over the part
    co-purchase graph: top-15 communities by size. Mode update with
    smallest-label tie-break (`operators/graph.py:label_propagation`) so the
    rounds unroll as SQL CTEs — the stochastic variant would be
    unverifiable across engines."""
    from vptstools_spark.operators.graph import label_propagation

    l = table(spark, sf, "lineitem").filter(F.col("l_partkey") < 300)
    l1 = l.select("l_orderkey", F.col("l_partkey").alias("pa"))
    l2 = l.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        l1.join(l2, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    labels = label_propagation(edges, iters=2)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(15)
    )


def _label_prop_round(k: int) -> str:
    return f"""
n{k} AS (
    SELECT e.v AS node, l.label, COUNT(*) AS cnt
    FROM edges e JOIN l{k - 1} l ON e.u = l.node
    GROUP BY 1, 2
),
l{k} AS (
    SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        FROM n{k}
    ) WHERE rn = 1
)"""


_LABEL_PROP_ORACLE = f"""
WITH und AS (
    SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
    FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
    WHERE l1.l_partkey < 300 AND l2.l_partkey < 300
      AND l1.l_partkey < l2.l_partkey
),
edges AS (
    SELECT a AS u, b AS v FROM und UNION SELECT b, a FROM und
),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
{_label_prop_round(1)},
{_label_prop_round(2)}
SELECT label AS community, COUNT(*) AS n_nodes
FROM l2 GROUP BY 1
ORDER BY n_nodes DESC, community
LIMIT 15
"""


def q_trade_reachability(spark: SparkSession, sf: str) -> DataFrame:
    """Hop-distance histogram of a multi-source BFS (3 hops) from three
    seed suppliers over the undirected customer-supplier trade graph
    (`operators/graph.py:bounded_reachability`). The depth bound is the
    operator's contract — the scale-safe form of transitive closure — and
    the oracle mirrors it as a depth-guarded recursive CTE."""
    from vptstools_spark.operators.graph import bounded_reachability

    # int node ids (see _trade_edges_int): hop-histogram output, node
    # identities never surface — identical result, narrower shuffles
    e = _trade_edges_int(spark, sf)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = spark.range(3).select((F.col("id") * 2 + 1).alias("node"))
    reach = bounded_reachability(sym, seeds, depth=3)
    return (
        reach.groupBy("hops")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("hops")
    )


_REACH_ORACLE = """
WITH RECURSIVE trade AS (
    SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS u,
                    's' || CAST(l_suppkey AS VARCHAR) AS v
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
sym AS (SELECT u, v FROM trade UNION SELECT v, u FROM trade),
reach(node, d) AS (
    SELECT 's' || CAST(i AS VARCHAR), 0 FROM unnest([0, 1, 2]) AS t(i)
    UNION
    SELECT s.v, r.d + 1 FROM reach r JOIN sym s ON s.u = r.node WHERE r.d < 3
),
dist AS (SELECT node, MIN(d) AS hops FROM reach GROUP BY node)
SELECT hops, COUNT(*) AS n_nodes FROM dist GROUP BY hops ORDER BY hops
"""


def q_sssp_trade(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source WEIGHTED shortest paths, 4-hop bound, over the
    undirected trade graph (`operators/graph.py:sssp_bounded` —
    frontier Bellman-Ford). Edge weights are a deterministic function
    of the (custkey, suppkey) pair so the DuckDB oracle reproduces them
    exactly; integral weights make min-of-path-sums engine-exact. The
    result is the distance histogram: nodes per minimum cost. The hop
    bound is the operator contract (scale-safe transitive closure), and
    the frontier carries only improved nodes — settled regions never
    re-join."""
    from vptstools_spark.operators.graph import sssp_bounded

    # int node ids end to end (see _trade_edges_int): the output is the
    # distance HISTOGRAM — node identities never reach the result, and
    # distances are exact integer path sums, so the relabeling changes
    # nothing while every per-round exchange carries 8-byte longs
    # instead of concat'ed strings (guide §2.3)
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    e = pairs.select(
        (F.col("o_custkey").cast("long") * 2).alias("src"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        ((F.col("o_custkey") * 31 + F.col("l_suppkey")) % 7 + 1)
        .cast("long")
        .alias("weight"),
    )
    sym = e.unionByName(
        e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    seeds = spark.range(1, 4).select((F.col("id") * 2 + 1).alias("node"))
    # collapsed: pairs.distinct() + the parity encoding make every
    # (src, dst) unique even after symmetrization (endpoint parities
    # differ), so the operator's parallel-edge collapse would be an
    # identity shuffle; assume_nonnegative: weight = k % 7 + 1 ∈ [1, 7]
    # by construction (both r9 — values unchanged, one shuffle and one
    # guard scan saved)
    d = sssp_bounded(sym, seeds, depth=4, collapsed=True, assume_nonnegative=True)
    return d.groupBy("dist").agg(F.count("*").alias("n_nodes")).orderBy("dist")


_SSSP_ORACLE = """
WITH RECURSIVE trade AS (
    SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
we AS (
    SELECT 'c' || CAST(ck AS VARCHAR) AS u,
           's' || CAST(sk AS VARCHAR) AS v,
           CAST((ck * 31 + sk) % 7 + 1 AS BIGINT) AS w
    FROM trade
),
sym AS (SELECT u, v, w FROM we UNION SELECT v, u, w FROM we),
reach(node, d, h) AS (
    SELECT 's' || CAST(i AS VARCHAR), CAST(0 AS BIGINT), 0
    FROM unnest([1, 2, 3]) AS t(i)
    UNION
    SELECT s.v, r.d + s.w, r.h + 1
    FROM reach r JOIN sym s ON s.u = r.node
    WHERE r.h < 4
),
dist AS (SELECT node, MIN(d) AS dist FROM reach GROUP BY node)
SELECT dist, COUNT(*) AS n_nodes FROM dist GROUP BY dist ORDER BY dist
"""


def q_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 predicted supplier–supplier links by Adamic–Adar score over
    the bipartite trade graph (`operators/graph.py:adamic_adar`): supplier
    pairs sharing customers, each shared customer discounted by
    1/ln(its supplier-degree); hub customers (degree > 100) excluded
    before the wedge join. Global top-k is orderBy+limit →
    TakeOrderedAndProject, never a single-partition window."""
    from vptstools_spark.operators.graph import adamic_adar

    # r9 optimization (guide §2.3 — shuffle fewer bytes): the Σdeg²-sized
    # wedge join runs on the raw INT (custkey, suppkey) pairs — 16 bytes a
    # row through the heavy exchange instead of two concat'ed strings —
    # and the 's'-prefixed labels attach AFTER the pair aggregation
    # (least/greatest on the labels restores the exact string-canonical
    # (node_a, node_b) orientation, so rows are identical; oracle
    # re-verified at sf0.01 and sf0.1).
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    out = adamic_adar(
        pairs,
        max_hub_degree=100,
        label_fn=lambda c: F.concat(F.lit("s"), c.cast("string")),
    )
    return out.orderBy(F.col("score").desc(), "node_a", "node_b").limit(20)


def q_hits_nation(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs/authorities over the nation-level trade graph: an edge
    supplier-nation → customer-nation weighted by shipped revenue. The
    fact joins collapse to a ≤25×25 weighted edge list BEFORE the
    iterations, so each of the 2 HITS rounds is a join+aggregate over a
    constant-size table (`operators/graph.py:hits`); fixed iterations +
    L1 normalization keep it value-oracle-checkable by CTE unrolling."""
    from vptstools_spark.operators.graph import hits

    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src_key"),
            F.col("c_nationkey").alias("dst_key"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("w")
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("src_key"),
                                 F.col("n_name").alias("src"))),
            "src_key",
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("dst_key"),
                                 F.col("n_name").alias("dst"))),
            "dst_key",
        )
        .select("src", "dst", "w")
    )
    # collect_bounded: the nation matrix is schema-bounded (≤25 nations
    # at every sf), so the HITS rounds run driver-side on the collected
    # ≤625-row edge list (operators/graph.py:hits, r9)
    out = hits(edges, iters=2, weight_col="w", collect_bounded=True)
    return out.select(
        F.col("node").alias("nation"),
        F.round("hub", 6).alias("hub"),
        F.round("auth", 6).alias("auth"),
    )


QUERIES = {
    "hits_nation": q_hits_nation,
    "sssp_trade": q_sssp_trade,
    "triangle_parts": q_triangle_parts,
    "link_prediction": q_link_prediction,
    "trade_reachability": q_trade_reachability,
    "label_prop_communities": q_label_prop_communities,
    "pagerank_trade": q_pagerank_trade,
    "kcore_parts": q_kcore_parts,
}

# one rank-update CTE per iteration: rank_i(v) = (1-d)/N + d * Σ_{u→v} rank_{i-1}(u)/outdeg(u)
_PR_STEP = """
    r{i} AS (
        SELECT n.node,
               ({one_minus_d} / nn.n) + 0.85 * COALESCE(SUM(p.rank / deg.outdeg), 0) AS rank
        FROM nodes n
        CROSS JOIN nn
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN deg ON deg.src = e.src
        LEFT JOIN r{prev} p ON p.node = e.src
        GROUP BY n.node, nn.n
    )
"""


def _pagerank_sql() -> str:
    # 1 - 0.85 computed in Python so the double literal matches the Spark
    # side's F.lit((1.0 - damping) / n) bit-for-bit
    steps = ",\n".join(
        _PR_STEP.format(i=i, prev=i - 1, one_minus_d=repr(1.0 - _PR_DAMPING))
        for i in range(1, _PR_ITERS + 1)
    )
    return f"""
    WITH edges AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    {steps}
    SELECT node, ROUND(rank, 6) AS pr
    FROM r{_PR_ITERS}
    WHERE node LIKE 's%'
    ORDER BY pr DESC, node
    LIMIT 25
    """


ORACLES = {
    "link_prediction": """
        WITH e AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS u,
                            's' || CAST(l_suppkey AS VARCHAR) AS w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        d AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY u),
        ok AS (
            SELECT u, 1.0 / ln(CAST(deg AS DOUBLE)) AS ild
            FROM d WHERE deg BETWEEN 2 AND 100
        ),
        ew AS (SELECT e.u, e.w, ok.ild FROM e JOIN ok USING (u)),
        p AS (
            SELECT a.w AS node_a, b.w AS node_b,
                   COUNT(*) AS n_common,
                   ROUND(SUM(a.ild), 6) AS score
            FROM ew a JOIN ew b ON a.u = b.u AND a.w < b.w
            GROUP BY 1, 2
        )
        SELECT node_a, node_b, n_common, score
        FROM p ORDER BY score DESC, node_a, node_b LIMIT 20
    """,
    "triangle_parts": _TRIANGLE_ORACLE,
    "sssp_trade": _SSSP_ORACLE,
    "trade_reachability": _REACH_ORACLE,
    "label_prop_communities": _LABEL_PROP_ORACLE,
    "pagerank_trade": _pagerank_sql(),
    "kcore_parts": _KCORE_ORACLE,
}

# HITS unrolled: 2 rounds of (auth from hubs, hub from auths), each
# half-step L1-normalized — mirrors operators/graph.py:hits exactly.
ORACLES["hits_nation"] = """
    WITH edges AS (
        SELECT ns.n_name AS src, nc.n_name AS dst,
               SUM(l_extendedprice * (1 - l_discount)) AS w
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        GROUP BY 1, 2
    ),
    nodes AS (
        SELECT src AS node FROM edges
        UNION
        SELECT dst FROM edges
    ),
    h0 AS (SELECT DISTINCT src AS node, 1.0 AS h FROM edges),
    a1r AS (
        SELECT e.dst AS node, SUM(e.w * h0.h) AS a
        FROM edges e JOIN h0 ON h0.node = e.src GROUP BY 1
    ),
    a1 AS (SELECT node, a / (SELECT SUM(a) FROM a1r) AS a FROM a1r),
    h1r AS (
        SELECT e.src AS node, SUM(e.w * a1.a) AS h
        FROM edges e JOIN a1 ON a1.node = e.dst GROUP BY 1
    ),
    h1 AS (SELECT node, h / (SELECT SUM(h) FROM h1r) AS h FROM h1r),
    a2r AS (
        SELECT e.dst AS node, SUM(e.w * h1.h) AS a
        FROM edges e JOIN h1 ON h1.node = e.src GROUP BY 1
    ),
    a2 AS (SELECT node, a / (SELECT SUM(a) FROM a2r) AS a FROM a2r),
    h2r AS (
        SELECT e.src AS node, SUM(e.w * a2.a) AS h
        FROM edges e JOIN a2 ON a2.node = e.dst GROUP BY 1
    ),
    h2 AS (SELECT node, h / (SELECT SUM(h) FROM h2r) AS h FROM h2r)
    SELECT n.node AS nation,
           ROUND(COALESCE(h2.h, 0.0), 6) AS hub,
           ROUND(COALESCE(a2.a, 0.0), 6) AS auth
    FROM nodes n
    LEFT JOIN h2 ON h2.node = n.node
    LEFT JOIN a2 ON a2.node = n.node
"""


def q_apsp_nations(spark: SparkSession, sf: str) -> DataFrame:
    """All-pairs shortest paths over the nation logistics graph (edge =
    mean order→ship latency in days between supplier and customer
    nation), by min-plus matrix SQUARING: 5 doublings cover paths of up
    to 32 hops on the ≤25-node graph. The fact joins collapse to the
    edge matrix FIRST; every squaring is then one self-join + MIN
    aggregate over a ≤625-row checkpointed table — relational algebra as
    linear algebra, with iteration cost independent of fact size. Edge
    weights pre-round to 6 dp, and each squaring adds exactly two
    level-(k-1) values, so the doubles are engine-identical by
    construction."""
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("sk"), F.col("c_nationkey").alias("ck")
        )
        .agg(
            # |latency|: the synthetic fixture contains ship-before-order
            # rows, and negative edges would give min-plus a negative
            # cycle (distances diverge with the hop cap)
            F.round(
                F.avg(F.abs(F.datediff("l_shipdate", "o_orderdate"))), 6
            ).alias("w")
        )
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("sk"),
                                   F.col("n_name").alias("src"))), "sk")
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("ck"),
                                   F.col("n_name").alias("dst"))), "ck")
        .select("src", "dst", "w")
    )
    # r9 optimization (guide §8: decide with small rows): the edge matrix
    # is BOUNDED BY SCHEMA — nations ≤ 25 at every scale factor, so the
    # matrix is ≤ 625 rows forever. One job collapses the fact tables to
    # that matrix; the 5 min-plus squarings then run on the driver over
    # the SAME rounded doubles (min is order-independent and wa+wb is the
    # identical IEEE-754 addition, so every value matches the distributed
    # plan bit-for-bit — oracle re-verified), and the closure re-enters
    # the plan as a literal table. This replaces 6 checkpointed ≤625-row
    # shuffle rounds (~36 AQE stage-jobs of pure scheduling overhead)
    # with one collect of a schema-bounded matrix — the same bounded-
    # driver-readout class as the ANN anchor collect. A >2048-row matrix
    # (impossible for nations; defensive for reuse on other graphs) falls
    # back to the distributed squaring loop.
    rows = edges.collect()
    if len(rows) <= 2048:
        d: dict = {(r["src"], r["dst"]): float(r["w"]) for r in rows}
        # diagonal = exactly 0.0 (the distributed form unions a 0-weight
        # diag row per node; with non-negative weights the first MIN
        # collapses any self-edge to 0, so overwriting here is identical)
        for x in {k[0] for k in d} | {k[1] for k in d}:
            d[(x, x)] = 0.0
        for _ in range(5):  # 2^5 = 32 hops >= any 25-node diameter
            nd: dict = {}
            by_src: dict = {}
            for (a_, m_), w_ in d.items():
                by_src.setdefault(m_, []).append((a_, w_))
            # min-plus square: nd[a, c] = min over m of d[a, m] + d[m, c]
            for (m_, c_), wb in d.items():
                for a_, wa in by_src.get(m_, ()):
                    k_ = (a_, c_)
                    v_ = wa + wb
                    if k_ not in nd or v_ < nd[k_]:
                        nd[k_] = v_
            d = nd
        # one SQL VALUES literal, ONE py4j call: building 600 struct
        # literals through F.lit/F.struct costs ~4 py4j round trips per
        # row (~seconds of pure driver latency); the SQL text parses
        # JVM-side in one hop. repr(float) is shortest-round-trip, and
        # the string->double cast restores the exact bits; round(…, 4)
        # stays in-plan so the HALF_UP mode is Spark's, as before.
        def esc(x: str) -> str:
            return x.replace("'", "''")

        vals = ", ".join(
            f"('{esc(a_)}', '{esc(b_)}', CAST('{w_!r}' AS DOUBLE))"
            for (a_, b_), w_ in sorted(d.items())
            if a_ != b_
        )
        return spark.sql(
            "SELECT src, dst, ROUND(w, 4) AS dist_days "
            f"FROM VALUES {vals} AS t(src, dst, w)"
        )
    # distributed fallback: checkpointed squaring loop (pre-r9 shape)
    nodes = (
        edges.select(F.col("src").alias("x"))
        .unionByName(edges.select(F.col("dst").alias("x")))
        .distinct()
    )
    diag = nodes.select(
        F.col("x").alias("src"), F.col("x").alias("dst"), F.lit(0.0).alias("w")
    )
    d = edges.unionByName(diag).localCheckpoint(eager=True)
    for _ in range(5):  # 2^5 = 32 hops >= any 25-node diameter
        a = d.select(F.col("src"), F.col("dst").alias("m"), F.col("w").alias("wa"))
        b = d.select(F.col("src").alias("m"), F.col("dst"), F.col("w").alias("wb"))
        d = (
            a.join(b, "m")
            .groupBy("src", "dst")
            .agg(F.min(F.col("wa") + F.col("wb")).alias("w"))
            .localCheckpoint(eager=True)
        )
    return d.filter(F.col("src") != F.col("dst")).select(
        "src", "dst", F.round("w", 4).alias("dist_days")
    )


ORACLES["apsp_nations"] = """
    WITH edges AS (
        SELECT ns.n_name AS src, nc.n_name AS dst,
               ROUND(AVG(ABS(DATE_DIFF('day', CAST(o_orderdate AS DATE),
                                       CAST(l_shipdate AS DATE)))), 6) AS w
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        GROUP BY 1, 2
    ),
    nodes AS (
        SELECT src AS x FROM edges UNION SELECT dst FROM edges
    ),
    d0 AS (
        SELECT src, dst, w FROM edges
        UNION ALL
        SELECT x, x, 0.0 FROM nodes
    ),
    d1 AS (
        SELECT a.src, b.dst, MIN(a.w + b.w) AS w
        FROM d0 a JOIN d0 b ON a.dst = b.src GROUP BY 1, 2
    ),
    d2 AS (
        SELECT a.src, b.dst, MIN(a.w + b.w) AS w
        FROM d1 a JOIN d1 b ON a.dst = b.src GROUP BY 1, 2
    ),
    d3 AS (
        SELECT a.src, b.dst, MIN(a.w + b.w) AS w
        FROM d2 a JOIN d2 b ON a.dst = b.src GROUP BY 1, 2
    ),
    d4 AS (
        SELECT a.src, b.dst, MIN(a.w + b.w) AS w
        FROM d3 a JOIN d3 b ON a.dst = b.src GROUP BY 1, 2
    ),
    d5 AS (
        SELECT a.src, b.dst, MIN(a.w + b.w) AS w
        FROM d4 a JOIN d4 b ON a.dst = b.src GROUP BY 1, 2
    )
    SELECT src, dst, ROUND(w, 4) AS dist_days
    FROM d5 WHERE src <> dst
"""

QUERIES["apsp_nations"] = q_apsp_nations


# ---------------------------------------------------------------- round 7


def q_assortativity_trade(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the (bipartite) customer-supplier trade
    graph: Pearson correlation, over distinct trade edges, between the
    customer's degree and the supplier's degree — do busy buyers trade
    with busy sellers? Degrees are one groupBy over the edge list,
    broadcast back; the statistic is one integer-exact moment fold (all
    sums < 2^53, so the closed form is bit-identical cross-engine)."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=False)  # consumed by 2 degree tables + join
    )
    dc = edges.groupBy("o_custkey").agg(F.count("*").alias("dx"))
    ds = edges.groupBy("l_suppkey").agg(F.count("*").alias("dy"))
    m = (
        edges.join(dc, "o_custkey")
        .join(F.broadcast(ds), "l_suppkey")
        .agg(
            # cast the moment sums to double BEFORE the closed form: the
            # variance product (n*sxx - sx²)(n*syy - sy²) is ~1e30 on
            # this graph — far past long range (ANSI overflow), and the
            # oracle must round at the same points, so both engines do
            # the identical double arithmetic from identical exact sums
            F.count("*").cast("double").alias("n"),
            F.sum("dx").cast("double").alias("sx"),
            F.sum("dy").cast("double").alias("sy"),
            F.sum(F.col("dx") * F.col("dx")).cast("double").alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).cast("double").alias("syy"),
            F.sum(F.col("dx") * F.col("dy")).cast("double").alias("sxy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("long").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


ORACLES["assortativity_trade"] = """
    WITH edges AS (
        SELECT DISTINCT o_custkey, l_suppkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), dc AS (SELECT o_custkey, COUNT(*) AS dx FROM edges GROUP BY 1),
    ds AS (SELECT l_suppkey, COUNT(*) AS dy FROM edges GROUP BY 1),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(dx) AS DOUBLE) AS sx,
               CAST(SUM(dy) AS DOUBLE) AS sy,
               CAST(SUM(dx * dx) AS DOUBLE) AS sxx,
               CAST(SUM(dy * dy) AS DOUBLE) AS syy,
               CAST(SUM(dx * dy) AS DOUBLE) AS sxy
        FROM edges JOIN dc USING (o_custkey) JOIN ds USING (l_suppkey)
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)),
                 6) AS assortativity
    FROM m
"""
QUERIES["assortativity_trade"] = q_assortativity_trade


def q_modularity_regions(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity of the REGION partition over the weighted
    nation-trade graph (edge weight = lineitem count between customer
    nation and supplier nation, symmetrized): how much more trade stays
    inside regions than a degree-preserving random graph predicts. The
    fact folds once to a <= 625-row directed-pair aggregate; the
    symmetrization, degrees, and Q = sum_ij (A_ij - k_i k_j / 2m)
    delta(c_i, c_j) / 2m are all closed-form over that bounded table."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    d = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    # symmetrize: A = D + D^T (diagonal doubles — the standard undirected
    # reading of a directed count matrix)
    a = (
        d.unionByName(
            d.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("a"))
        .localCheckpoint(eager=False)
    )
    n = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("u"), F.col("n_regionkey").alias("cu")
    )
    deg = a.groupBy("u").agg(F.sum("a").alias("k"))
    two_m = a.agg(F.sum("a").alias("m2"))
    ku = deg.select(F.col("u"), F.col("k").alias("ku"))
    kv = deg.select(F.col("u").alias("v"), F.col("k").alias("kv"))
    cu = n
    cv = n.select(F.col("u").alias("v"), F.col("cu").alias("cv"))
    q = (
        a.join(F.broadcast(ku), "u")
        .join(F.broadcast(kv), "v")
        .join(F.broadcast(cu), "u")
        .join(F.broadcast(cv), "v")
        .crossJoin(F.broadcast(two_m))
        .filter(F.col("cu") == F.col("cv"))
        .agg(
            F.sum(
                (F.col("a") - F.col("ku") * F.col("kv") / F.col("m2"))
                / F.col("m2")
            ).alias("q")
        )
    )
    return q.select(F.round("q", 6).alias("modularity"))


ORACLES["modularity_regions"] = """
    WITH d AS (
        SELECT c_nationkey AS u, s_nationkey AS v,
               CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
    ), a AS (
        SELECT u, v, SUM(w) AS a FROM (
            SELECT u, v, w FROM d
            UNION ALL SELECT v AS u, u AS v, w FROM d
        ) GROUP BY u, v
    ), deg AS (SELECT u, SUM(a) AS k FROM a GROUP BY u),
    m AS (SELECT SUM(a) AS m2 FROM a)
    SELECT ROUND(SUM((a.a - ku.k * kv.k / m2) / m2), 6) AS modularity
    FROM a
    JOIN deg ku ON ku.u = a.u
    JOIN deg kv ON kv.u = a.v
    JOIN nation nu ON nu.n_nationkey = a.u
    JOIN nation nv ON nv.n_nationkey = a.v
    CROSS JOIN m
    WHERE nu.n_regionkey = nv.n_regionkey
"""
QUERIES["modularity_regions"] = q_modularity_regions


def q_local_clustering(spark: SparkSession, sf: str) -> DataFrame:
    """Local clustering coefficient c(v) = 2·T(v) / (deg(v)·(deg(v)−1))
    over the part co-purchase graph (partkey < 400, the triangle_parts
    graph) — the per-node cohesion readout. Triangles come from the
    degree-ordered wedge enumeration (O(|E|^1.5), never the naive Σdeg²
    wedge join); degrees fold the deduped undirected edge list once.
    Coefficients are exact rationals of integers rendered at 6 dp;
    top-15 by (coefficient, node) via two-phase TakeOrdered."""
    from vptstools_spark.operators.graph import triangle_count

    l = table(spark, sf, "lineitem").filter(F.col("l_partkey") < 400)
    l1 = l.select("l_orderkey", F.col("l_partkey").alias("pa"))
    l2 = l.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        l1.join(l2, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangle_count(edges)
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                2.0 * F.coalesce("n_triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1.0)),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy(F.col("clustering_coeff").desc(), "node")
        .limit(15)
    )


ORACLES["local_clustering"] = """
    WITH e AS (
        SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS s,
               GREATEST(a.l_partkey, b.l_partkey) AS d
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < 400 AND b.l_partkey < 400
          AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT s AS node FROM e UNION ALL SELECT d FROM e
        ) GROUP BY 1
    ), tri AS (
        SELECT node, COUNT(*) AS t FROM (
            SELECT e1.s AS node FROM e e1
            JOIN e e2 ON e2.s = e1.d
            JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d
            UNION ALL
            SELECT e1.d FROM e e1
            JOIN e e2 ON e2.s = e1.d
            JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d
            UNION ALL
            SELECT e2.d FROM e e1
            JOIN e e2 ON e2.s = e1.d
            JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d
        ) GROUP BY 1
    )
    SELECT deg.node, deg.deg,
           CAST(COALESCE(tri.t, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(tri.t, 0) / (deg.deg * (deg.deg - 1.0)), 6)
               AS clustering_coeff
    FROM deg LEFT JOIN tri USING (node)
    WHERE deg.deg >= 2
    ORDER BY clustering_coeff DESC, node
    LIMIT 15
"""
QUERIES["local_clustering"] = q_local_clustering
