"""Event-stream analytics: calendar windows, sessionization, semi-structured
extraction over the events table (SURVEY §2.8). The expressions are plain
DataFrame functions, so they also run under Structured Streaming
(readStream + watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vptstools_spark.io import table

#: session gap in microseconds (30 min)
SESSION_GAP_US = 30 * 60 * 1_000_000


def q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling calendar window (the reference's daily/monthly partitions are
    this with coarser granularity, SURVEY §2.5)."""
    e = table(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def q_events_hop_window(spark: SparkSession, sf: str) -> DataFrame:
    """HOPPING window aggregation (2-hour windows sliding every hour) via
    Spark's native `window()` — the overlapping-window primitive behind
    trend monitors; each event expands map-side to its two covering
    windows, then one partial→final aggregate (same shape streaming uses
    with a watermark). The oracle derives the covering window starts
    arithmetically."""
    e = table(spark, sf, "events")
    return (
        e.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd'T'HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def q_events_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE active days per user
    (day − dense rank = island id — the canonical SQL islands trick),
    reported as top-20 users by streak with deterministic tie-break.
    Windows are user-partitioned; the top-20 is TakeOrderedAndProject,
    never a global sort."""
    e = table(spark, sf, "events").filter(F.col("user_id") < 200)
    days = e.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "island",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("streak"),
        F.min("d").alias("start_d"),
    )
    best = streaks.groupBy("user_id").agg(
        F.max(F.struct("streak", F.col("start_d").cast("string").alias("sd"))).alias("b"),
        F.count("*").alias("n_islands"),
    )
    return (
        best.select(
            "user_id",
            F.col("b.streak").alias("longest_streak"),
            F.col("b.sd").alias("streak_start"),
            "n_islands",
        )
        .orderBy(F.col("longest_streak").desc(), "user_id")
        .limit(20)
    )


def q_events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization via lag window (30-min inactivity gap):
    sessions-per-user. Batch twin of applyInPandasWithState sessionization."""
    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff is defined for both TIMESTAMP and TIMESTAMP_NTZ (the
    # testdata's parquet annotation has flipped between rounds), and is
    # timezone-free — unlike unix_micros, which rejects NTZ inputs.
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    new_sess = F.when(gap_us.isNull() | (gap_us > SESSION_GAP_US), 1).otherwise(0)
    return (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def q_events_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction from the JSON props column."""
    e = table(spark, sf, "events")
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.count("*").alias("n_events"),
        )
    )


def q_events_running(spark: SparkSession, sf: str) -> DataFrame:
    """Running-sum window frame per user — deterministic accumulation order,
    so the doubles are bit-identical to the oracle's."""
    e = table(spark, sf, "events").filter(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


def q_events_lag_delta(spark: SparkSession, sf: str) -> DataFrame:
    """lag() analytic: per-user value delta between consecutive events."""
    e = table(spark, sf, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    )


def q_events_asof_purchase_click(spark: SparkSession, sf: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): each purchase gets the user's
    most recent prior-or-simultaneous click value. Oracle: DuckDB's native
    ASOF LEFT JOIN."""
    from vptstools_spark.operators.asof import asof_join_backward

    e = table(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("cvalue"))
    )
    joined = asof_join_backward(purchases, clicks, on="user_id", payload_cols=["cvalue"])
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
        F.round("cvalue_right", 2).alias("prior_click_value"),
    )


def q_events_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest as-of join with tolerance (operators/asof.py
    `asof_join_nearest` — pandas merge_asof(direction='nearest')
    semantics, exact ties backward): each purchase gets the click value
    CLOSEST in time within 2 days, either direction. Same one-shuffle
    union-tag plan as the backward join, two window frames over ONE sort.
    Oracle: per-purchase argmin over |Δts| with the backward tie-break,
    null beyond tolerance."""
    from vptstools_spark.operators.asof import asof_join_nearest

    e = table(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("cvalue"))
    )
    joined = asof_join_nearest(
        purchases, clicks, on="user_id", payload_cols=["cvalue"],
        tolerance=172800.0,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
        F.round("cvalue_right", 2).alias("nearest_click_value"),
    )


def q_events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): users reaching each stage,
    where each stage must occur at-or-after the previous stage's first hit.
    Each stage is a per-user MIN pre-aggregated *before* its join — three
    small keyed joins instead of a per-user sequence scan; all three stage
    tables shuffle on user_id once and AQE coalesces."""
    e = table(spark, sf, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


def q_sync_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Anti-entropy table sync, coarse stage
    (`operators/scd.py:segment_sync_hashes`): two orders snapshots — the
    new one drops every 10007th key and bumps every 9973rd key's price —
    reduced to 256 order-independent XOR segment digests per side; output
    = the DIRTY segments only (digest or count mismatch). At 100 TB this
    is the pass that turns "diff two tables" into "diff the ~3 segments
    that changed" before `snapshot_diff` recurses row-level; XOR makes
    the digest shuffle-plan-independent and bit-identical cross-engine."""
    from vptstools_spark.operators.scd import segment_sync_hashes

    orders = table(spark, sf, "orders")
    old = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    new = orders.filter(F.col("o_orderkey") % 10007 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 9973 == 0, F.col("o_totalprice") + F.lit(1.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    a = segment_sync_hashes(old, ["o_orderkey"], n_segments=256)
    b = segment_sync_hashes(new, ["o_orderkey"], n_segments=256)
    bn = b.select(
        F.col("segment"),
        F.col("digest").alias("digest_new"),
        F.col("n_rows").alias("n_new"),
    )
    return (
        a.join(bn, "segment", "full_outer")
        .filter(
            ~F.col("digest").eqNullSafe(F.col("digest_new"))
            | ~F.col("n_rows").eqNullSafe(F.col("n_new"))
        )
        .select(
            "segment",
            F.coalesce("n_rows", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .orderBy("segment")
    )


#: session-scoped versioned-table memo (pure function of the sf dir)
_TT_CACHE: dict = {}


def q_tt_version_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Time travel exercised through the value gate
    (`plans/timetravel.py`): commit orders as version 0, commit a
    deterministic upsert (bump every 89th key's price, tombstone every
    97th) as version 1, then classify v0→v1 changes with `diff_versions`
    — pinned snapshot reads + COW commits + the snapshot-diff composition
    all sit under the oracle, which recomputes the expected classes from
    the raw table."""
    import tempfile

    from vptstools_spark.plans.timetravel import commit_initial, commit_upsert, diff_versions

    key = ("tt_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus",
            (F.col("o_orderkey") % 8).cast("int").alias("part"),
        )
        path = tempfile.mkdtemp(prefix="tt_orders_")
        commit_initial(o, path, ["part"])
        delta = (
            o.filter(
                (F.col("o_orderkey") % 89 == 0) | (F.col("o_orderkey") % 97 == 0)
            )
            .withColumn(
                "o_totalprice",
                F.when(
                    F.col("o_orderkey") % 89 == 0,
                    F.col("o_totalprice") + F.lit(1.0),
                ).otherwise(F.col("o_totalprice")),
            )
            .withColumn("is_delete", F.col("o_orderkey") % 97 == 0)
        )
        commit_upsert(spark, path, delta, keys=["o_orderkey"], delete_col="is_delete")
        _TT_CACHE[key] = path
    d = diff_versions(spark, _TT_CACHE[key], 0, 1, keys=["o_orderkey"])
    return (
        d.groupBy("change")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .orderBy("change")
    )


def q_clone_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Shallow clone under the value gate (`plans/clone.py`): commit
    orders as a versioned table, zero-copy clone it (hard links — no
    data bytes rewritten), then DIVERGE the two: the clone MOR-deletes
    every third key, the source appends a shifted copy of every 97th
    order. Reading both sides and aggregating proves (a) the clone
    equalled the snapshot, (b) mutations on either side are invisible
    to the other — the oracle recomputes both final states analytically
    from the raw table, so any cross-contamination (shared delete
    vectors, leaked appends, clobbered files) breaks the value match.
    At 100 TB a clone is O(file-list) driver metadata: fork cost is
    independent of table size."""
    import tempfile

    from vptstools_spark.plans.clone import shallow_clone
    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        delete_where,
        read_version,
    )

    key = ("clone_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_orderkey") % 8).cast("int").alias("part"),
        )
        src = tempfile.mkdtemp(prefix="clone_src_")
        commit_initial(o, src, ["part"])
        dst = tempfile.mkdtemp(prefix="clone_dst_") + "/t"
        shallow_clone(spark, src, dst)
        delete_where(spark, dst, "o_orderkey % 3 = 0")
        commit_append(
            spark,
            src,
            o.filter(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(200_000_000))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0)),
        )
        _TT_CACHE[key] = (src, dst)
    src, dst = _TT_CACHE[key]
    sides = [("source", src), ("clone", dst)]
    parts = [
        read_version(spark, p).select(F.lit(name).alias("side"), "o_orderkey", "o_totalprice")
        for name, p in sides
    ]
    both = parts[0].unionByName(parts[1])
    return (
        both.groupBy("side")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("side")
    )


def q_gdpr_erasure(spark: SparkSession, sf: str) -> DataFrame:
    """Right-to-be-forgotten lifecycle
    (`plans/governance.py:erase_and_forget`): orders commit as a
    versioned table, every customer with custkey % 37 == 0 demands
    erasure — equality tombstones land instantly (zero-scan commit),
    the purge rewrites only the files holding subject rows, history
    expires, vacuum removes the bytes. The result carries the surviving
    aggregate AND the lifecycle's own proof metrics (raw-byte residual
    = 0, surviving version count = 1), all recomputed analytically by
    the oracle — a value match proves erasure was exact: nothing extra
    deleted, nothing left behind."""
    import tempfile

    from vptstools_spark.plans.governance import erase_and_forget
    from vptstools_spark.plans.timetravel import (
        _list_versions,
        commit_initial,
        read_version,
    )

    key = ("gdpr_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        path = tempfile.mkdtemp(prefix="gdpr_orders_")
        commit_initial(o, path, [])
        subjects = (
            o.select("o_custkey")
            .filter(F.col("o_custkey") % 37 == 0)
            .distinct()
        )
        proof = erase_and_forget(spark, path, subjects, ["o_custkey"])
        _TT_CACHE[key] = (path, proof)
    path, proof = _TT_CACHE[key]
    t = read_version(spark, path)
    agg = t.agg(
        F.count("*").alias("v_n_rows"),
        F.sum("o_orderkey").cast("long").alias("v_key_sum"),
    ).selectExpr(
        "stack(2, 'n_rows', v_n_rows, 'key_sum', v_key_sum) "
        "as (metric, value)"
    )
    proof_rows = spark.createDataFrame(
        [
            ("n_residual_raw", int(proof["n_residual_raw"])),
            ("n_versions", len(_list_versions(spark, path))),
        ],
        "metric string, value long",
    )
    return agg.unionByName(proof_rows).orderBy("metric")


def q_tt_widen_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only TYPE WIDENING
    (`plans/timetravel.py:widen_column_types`, Iceberg-v3 shape): orders
    commit with o_custkey narrowed to int, the column widens to bigint
    (no file rewritten), then an append lands keys beyond the int range
    — the final scan spans one narrow-typed and one wide-typed file
    generation, unified by the recorded cast. The oracle recomputes the
    union analytically, so the value match proves the widened read is
    loss-free across both generations."""
    import tempfile

    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        read_version,
        widen_column_types,
    )

    key = ("widen_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            F.col("o_orderkey").cast("int").alias("k"),
            "o_totalprice",
        )
        path = tempfile.mkdtemp(prefix="widen_orders_")
        commit_initial(o, path, [])
        widen_column_types(spark, path, {"k": "bigint"})
        big = table(spark, sf, "orders").filter(
            F.col("o_orderkey") % 131 == 0
        ).select(
            (F.col("o_orderkey") + F.lit(2**40)).alias("k"),
            (F.col("o_totalprice") + F.lit(0.5)).alias("o_totalprice"),
        )
        commit_append(spark, path, big)
        _TT_CACHE[key] = path
    t = read_version(spark, _TT_CACHE[key])
    return t.agg(
        F.count("*").alias("n_rows"),
        F.sum("k").cast("decimal(38,0)").cast("double").alias("key_sum"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
        F.max("k").alias("max_key"),
    )


def q_cluster_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """OPTIMIZE ZORDER as a commit
    (`plans/maintenance.py:cluster_versioned_table`): orders commit in a
    hash-scattered layout (every file spans the full key range), a MOR
    delete lands, then the table re-clusters on the Morton curve over
    (custkey, orderkey) — deletes materialize, and the commit's footer
    min/max manifests become tight in BOTH dimensions, so the pruned
    read admits a file subset (measured in tests: ~1/3 of files vs all
    before). The value gate proves the rewrite lost nothing: clustered
    pruned scan ≡ analytic filter over raw orders minus the deleted
    keys."""
    import tempfile

    from vptstools_spark.plans.maintenance import cluster_versioned_table
    from vptstools_spark.plans.timetravel import (
        commit_initial,
        delete_where,
        read_version_where,
    )

    key = ("cluster_orders", sf)
    if key not in _TT_CACHE:
        o = (
            table(spark, sf, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .repartition(8, "o_orderkey")
        )
        path = tempfile.mkdtemp(prefix="zcluster_")
        commit_initial(o, path, [], stats_cols=["o_custkey", "o_orderkey"])
        delete_where(spark, path, "o_orderkey % 50 = 0")
        cluster_versioned_table(
            spark, path, ["o_custkey", "o_orderkey"], n_files=16
        )
        _TT_CACHE[key] = path
    t = read_version_where(
        spark,
        _TT_CACHE[key],
        [("o_custkey", ">=", 100), ("o_custkey", "<=", 300)],
    )
    return t.agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
    )


def q_pe_evolved_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-spec evolution under the value gate
    (`plans/timetravel.py:evolve_partitioning`): orders commit
    UNPARTITIONED as v0, the spec evolves to `part` (metadata-only — no
    rewrite), then a COW upsert bumps every 83rd key's price — which must
    MIGRATE the pre-evolution files (their partition values are
    undecidable from the path: carrying one would duplicate its touched
    rows, skipping its untouched rows would lose data). The final scan
    spans both layout generations (part from the hive path in new files,
    from the data column in old ones). The oracle recomputes the final
    state analytically from the raw table, so a value match proves the
    evolution + migration lost and duplicated nothing."""
    import tempfile

    from vptstools_spark.plans.timetravel import (
        commit_initial,
        commit_upsert,
        evolve_partitioning,
        read_version,
    )

    key = ("pe_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            (F.col("o_orderkey") % 6).cast("int").alias("part"),
        )
        path = tempfile.mkdtemp(prefix="pe_orders_")
        commit_initial(o, path, [])
        evolve_partitioning(spark, path, ["part"])
        delta = o.filter(F.col("o_orderkey") % 83 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(5.0)
        )
        commit_upsert(spark, path, delta, keys=["o_orderkey"])
        _TT_CACHE[key] = path
    t = read_version(spark, _TT_CACHE[key])
    return (
        t.groupBy("part")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
        )
        .orderBy("part")
    )


def q_tt_rename_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Column RENAME under the value gate
    (`plans/timetravel.py:rename_columns`): orders commit as v0, the
    `o_totalprice` column renames to `price` (metadata-only — per-file
    schema epochs, no rewrite), then an append lands under the NEW name —
    so the final scan mixes files whose footers disagree on the column's
    physical name and the epoch fold must reconcile them. The oracle
    recomputes the final state from the raw table; a value match proves
    no row read the wrong column (or NULL) across the rename boundary."""
    import tempfile

    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        read_version,
        rename_columns,
    )

    key = ("tt_rename", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            (F.col("o_orderkey") % 4).cast("int").alias("part"),
        )
        path = tempfile.mkdtemp(prefix="tt_rename_")
        commit_initial(o, path, ["part"])
        rename_columns(spark, path, {"o_totalprice": "price"})
        delta = o.filter(F.col("o_orderkey") % 97 == 0).select(
            (F.col("o_orderkey") + F.lit(1000000000)).alias("o_orderkey"),
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(1.0)).alias("price"),
            "part",
        )
        commit_append(spark, path, delta)
        _TT_CACHE[key] = path
    t = read_version(spark, _TT_CACHE[key])
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.round(F.sum("price"), 2).alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


def q_hp_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Hidden partitioning under the value gate
    (`plans/timetravel.py` partition transforms): orders commit with a
    months(o_orderdate) HIDDEN partition column — never supplied by the
    writer, never visible to readers — then an append lands (derived
    automatically) and `read_version_pruned` answers a date-range
    predicate by mapping it onto the derived column (planning-time
    partition pruning) plus the exact residual row filter. The oracle
    recomputes from the raw table, so a value match proves the
    transform mapping is boundary-exact (off-by-one at the partition
    edge would show immediately)."""
    import tempfile

    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        read_version_pruned,
    )

    key = ("hp_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
        )
        path = tempfile.mkdtemp(prefix="hp_orders_")
        # months granularity: ~80 partitions over the 6.5-year testdata —
        # the Iceberg partition-count discipline (days here would mint
        # ~2400 directories of tiny files)
        # cluster rows by the month BEFORE the partitioned write so each
        # partition gets one file, not one per shuffle task
        month = F.trunc(F.to_date(F.col("o_orderdate")), "month")
        commit_initial(
            o.filter(F.col("o_orderkey") % 5 != 0).repartition(16, month),
            path,
            ["p_month"],
            partition_transforms={"p_month": ("months", "o_orderdate")},
        )
        commit_append(spark, path, o.filter(F.col("o_orderkey") % 5 == 0))
        _TT_CACHE[key] = path
    import datetime

    t = read_version_pruned(
        spark,
        _TT_CACHE[key],
        "o_orderdate",
        ">=",
        datetime.datetime(1997, 6, 15, 12, 0, 0),
    )
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


def q_hp_hours_scan(spark: SparkSession, sf: str) -> DataFrame:
    """hours() hidden partitioning (`plans/timetravel.py` — the last
    transform of the Iceberg set, for SUB-DAILY event tables): three
    days of events commit under an hours(ts) derived partition column
    (72 hour-directories — the partition-count discipline that makes
    hours wrong for multi-month data and right for short hot windows),
    and `read_version_pruned` maps a timestamp range predicate onto the
    lexicographically-monotone 'yyyy-MM-dd-HH' rendering for
    planning-time pruning plus the exact residual filter. The oracle
    recomputes from the raw table — boundary-exactness at the partition
    edge (the 09:xx hour straddles the 09:30 cut) is what the value
    match proves."""
    import datetime
    import tempfile

    from vptstools_spark.plans.timetravel import (
        commit_initial,
        read_version_pruned,
    )

    key = ("hp_hours_events", sf)
    if key not in _TT_CACHE:
        e = table(spark, sf, "events").filter(
            (F.col("ts") >= F.lit("2024-01-10"))
            & (F.col("ts") < F.lit("2024-01-13"))
        ).select("event_id", "user_id", "event_type", "ts", "value")
        path = tempfile.mkdtemp(prefix="hp_hours_events_")
        # cluster by the hour before the partitioned write: one file per
        # hour-partition, not one per shuffle task
        commit_initial(
            e.repartition(8, F.date_format("ts", "yyyy-MM-dd-HH")),
            path,
            ["p_hour"],
            partition_transforms={"p_hour": ("hours", "ts")},
        )
        _TT_CACHE[key] = path
    t = read_version_pruned(
        spark,
        _TT_CACHE[key],
        "ts",
        ">=",
        datetime.datetime(2024, 1, 11, 9, 30, 0),
    )
    return (
        t.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("user_id").cast("long").alias("user_sum"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("event_type")
    )


def q_jv_orders_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally-maintained join view under the value gate
    (`plans/joinview.py`): orders ⋈ customer persisted at an initial
    state (⅔ of orders, ⅘ of customers), then both sides churn —
    left: append the missing third, MOR-delete every 59th key;
    right: append the missing fifth, MOR-upsert every 97th customer to
    segment 'VIP' — and ONE incremental refresh advances the view across
    all four commits via the signed delta algebra ΔA⋈B_new + A_old⋈ΔB.
    The oracle recomputes the FINAL join state analytically from the raw
    tables, so a value match proves the maintained view converged to the
    full re-join without ever running one."""
    import tempfile

    from vptstools_spark.plans.joinview import (
        JoinViewDef,
        build_joinview,
        read_joinview,
        refresh_joinview,
    )
    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        commit_upsert_mor,
        delete_where,
    )

    key = ("jv_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey",
            F.col("o_custkey").alias("custkey"),
            "o_totalprice",
            (F.col("o_orderkey") % 8).cast("int").alias("part"),
        )
        c = table(spark, sf, "customer").select(
            F.col("c_custkey").alias("custkey"), "c_mktsegment"
        )
        lp = tempfile.mkdtemp(prefix="jv_orders_l_")
        rp = tempfile.mkdtemp(prefix="jv_orders_r_")
        vp = tempfile.mkdtemp(prefix="jv_orders_v_")
        commit_initial(o.filter(F.col("o_orderkey") % 3 != 0), lp, ["part"])
        commit_initial(c.filter(F.col("custkey") % 5 != 0), rp, [])
        defn = JoinViewDef(
            name="jv_orders",
            left_path=lp,
            right_path=rp,
            on=["custkey"],
            select=["o_orderkey", "custkey", "o_totalprice", "c_mktsegment", "part"],
            partition_by=["part"],
        )
        build_joinview(spark, defn, vp)
        # churn both sides, multiple commits each
        commit_append(spark, lp, o.filter(F.col("o_orderkey") % 3 == 0))
        delete_where(spark, lp, "o_orderkey % 59 = 0")
        commit_append(spark, rp, c.filter(F.col("custkey") % 5 == 0))
        commit_upsert_mor(
            spark,
            rp,
            c.filter(F.col("custkey") % 97 == 0).withColumn(
                "c_mktsegment", F.lit("VIP")
            ),
            keys=["custkey"],
        )
        refresh_joinview(spark, vp)
        _TT_CACHE[key] = vp
    view, _ = read_joinview(spark, _TT_CACHE[key])
    return (
        view.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
            ).cast("double").alias("price_sum"),
        )
        .orderBy("c_mktsegment")
    )


def q_wap_audit_publish(spark: SparkSession, sf: str) -> DataFrame:
    """Write-audit-publish exercised through the value gate
    (`plans/branches.py:wap_publish`): commit orders as a versioned
    table, stage a POISONED delta (negated prices) on a WAP branch —
    the audit must reject it and main must stay at one version — then
    stage the clean delta (key-shifted copy of every 101st row), audit,
    fast-forward publish, and tag the published snapshot. The result
    reads THROUGH THE TAG and carries the commit count, so the oracle
    (raw-table recompute + the literal expected version count) proves
    both that the bad rows never became visible and that the good rows
    did — the whole fork→audit→merge→tag lifecycle under one hash."""
    import tempfile

    from vptstools_spark.plans.branches import (
        AuditFailedError,
        create_tag,
        read_tag,
        wap_publish,
    )
    from vptstools_spark.plans.timetravel import commit_initial, history

    key = ("wap_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            (F.col("o_orderkey") % 8).cast("int").alias("part"),
        )
        path = tempfile.mkdtemp(prefix="wap_orders_")
        commit_initial(o, path, ["part"])
        delta = o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(1000000000)
        )

        def audit(staged: DataFrame) -> bool:
            neg = staged.filter(F.col("o_totalprice") < 0).count()
            dups = (
                staged.groupBy("o_orderkey")
                .count()
                .filter(F.col("count") > 1)
                .count()
            )
            return neg == 0 and dups == 0

        poisoned = delta.withColumn("o_totalprice", -F.col("o_totalprice"))
        try:
            wap_publish(spark, path, poisoned, audit)
            raise AssertionError("poisoned delta must not publish")
        except AuditFailedError:
            pass
        wap_publish(spark, path, delta, audit)
        create_tag(spark, path, "audited")
        _TT_CACHE[key] = path
    path = _TT_CACHE[key]
    n_versions = len(history(spark, path))
    return (
        read_tag(spark, path, "audited")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .withColumn("n_versions", F.lit(n_versions))
        .orderBy("o_orderstatus")
    )


def q_cdc_eq_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-scan CDC merge under the value gate
    (`plans/timetravel.py:commit_upsert_eq`): one atomic commit applies
    a CDC batch — updates (every 97th key re-priced), deletes (every
    59th key tombstoned), inserts (key-shifted copies of every 101st
    row) — by recording an equality-delete ENTRY plus the appended
    files, scanning no data file at write (the no-scan property is
    pytest-proven with the data files moved away). The strict sequence
    rule keeps the commit's own inserts exempt from its own entry; the
    oracle recomputes the merged state from the raw table."""
    import tempfile

    from vptstools_spark.plans.timetravel import (
        commit_initial,
        commit_upsert_eq,
        read_version,
    )

    key = ("cdc_eq_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            (F.col("o_orderkey") % 8).cast("int").alias("part"),
        )
        path = tempfile.mkdtemp(prefix="cdc_eq_orders_")
        commit_initial(o, path, ["part"])
        updates = o.filter(F.col("o_orderkey") % 97 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(5.0)
        ).withColumn("is_del", F.lit(False))
        deletes = o.filter(F.col("o_orderkey") % 59 == 0).withColumn(
            "is_del", F.lit(True)
        )
        inserts = o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(30_000_000)
        ).withColumn("is_del", F.lit(False))
        cdc = updates.unionByName(deletes).unionByName(inserts)
        commit_upsert_eq(spark, path, cdc, ["o_orderkey"], delete_col="is_del")
        _TT_CACHE[key] = path
    return (
        read_version(spark, _TT_CACHE[key])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


def q_fs_skipped_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Commit-tracked FILE SKIPPING under the value gate
    (`plans/timetravel.py` stats_cols / read_version_pruned): orders
    commit range-clustered on o_orderkey with a footer-derived per-file
    [min, max] manifest; an append extends the key range (its files get
    stats automatically); then a key-range read cuts the file list at
    planning time from the manifest alone and applies the exact residual
    filter. The pytest suite proves files are actually skipped
    (tests/test_file_skipping.py); the oracle here proves the pruned
    read's VALUES equal a full-scan filter — skipping is purely I/O."""
    import tempfile

    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        read_version_pruned,
    )

    key = ("fs_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        path = tempfile.mkdtemp(prefix="fs_orders_")
        # range-cluster so per-file key ranges are tight (the zorder/
        # sort-before-write discipline that makes manifests useful)
        commit_initial(
            o.filter(F.col("o_orderkey") % 3 != 0).repartitionByRange(
                8, "o_orderkey"
            ),
            path,
            stats_cols=["o_orderkey", "o_totalprice"],
        )
        commit_append(
            spark,
            path,
            o.filter(F.col("o_orderkey") % 3 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
            .repartitionByRange(4, "o_orderkey"),
        )
        _TT_CACHE[key] = path
    t = read_version_pruned(
        spark, _TT_CACHE[key], "o_orderkey", ">=", 10_000_000
    )
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


def q_dv_equality_read(spark: SparkSession, sf: str) -> DataFrame:
    """EQUALITY deletes under the value gate
    (`plans/timetravel.py:delete_where_eq` — Iceberg-v2 equality
    deletes): orders commit as a versioned table, every 59th key is
    deleted by committing the KEY TUPLES alone (the commit scans no data
    file — proven by `tests/test_eq_deletes.py` with the files moved
    away), then an append RE-ADDS half of the deleted keys with new
    totals — the sequence-scoping rule must keep the re-added rows while
    the originals stay deleted. Both the merge-on-read snapshot
    (broadcast anti-join with per-file seq eligibility) and the purged
    snapshot (equality deletes folded into the files they hit) must
    match the oracle's recomputation from the raw table."""
    import tempfile

    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        delete_where_eq,
        purge_deletes,
        read_version,
    )

    key = ("eq_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            (F.col("o_orderkey") % 8).cast("int").alias("part"),
        )
        path = tempfile.mkdtemp(prefix="eq_orders_")
        commit_initial(o, path, ["part"])                          # v0
        delete_where_eq(                                            # v1
            spark,
            path,
            o.filter(F.col("o_orderkey") % 59 == 0).select("o_orderkey"),
            ["o_orderkey"],
        )
        readded = o.filter(
            (F.col("o_orderkey") % 59 == 0) & (F.col("o_orderkey") % 2 == 0)
        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        commit_append(spark, path, readded)                         # v2
        purge_deletes(spark, path)                                  # v3
        _TT_CACHE[key] = path
    path = _TT_CACHE[key]

    def agg(df: DataFrame, stage: str) -> DataFrame:
        return (
            df.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("price_sum"),
            )
            .withColumn("stage", F.lit(stage))
        )

    return agg(read_version(spark, path, 2), "mor").unionByName(
        agg(read_version(spark, path, 3), "purged")
    ).orderBy("stage", "o_orderstatus")


def q_occ_rebase_commits(spark: SparkSession, sf: str) -> DataFrame:
    """Concurrent writers under logical OCC (`plans/occ.py`): an appender
    LOSES the physical commit race to an interleaved append and REBASES —
    republishing its already-written files against the new head instead
    of failing with `CommitConflictError` — then a compaction commits on
    top via the same publish loop. The race is staged deterministically
    (the loser's publish fires the winner first, the Delta conflict-
    matrix shape), and the oracle proves the merged history equals the
    SERIAL result: every row of all three writers present exactly once.
    Output also pins n_versions (= 4: initial, winner, rebased loser,
    compaction) and n_rebased (= 1 commit carrying a txn rebase record).
    Reference: Delta Lake concurrency-control docs (Append vs Append
    never conflicts); reference repo has no concurrency story."""
    import tempfile

    from vptstools_spark.plans import occ
    from vptstools_spark.plans.timetravel import (
        _list_versions,
        _read_commit,
        commit_append,
        commit_initial,
        read_version,
    )

    key = ("occ_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            (F.col("o_orderkey") % 4).cast("int").alias("part"),
        )
        path = tempfile.mkdtemp(prefix="occ_orders_")
        commit_initial(o.filter(F.col("o_orderkey") % 3 == 0), path, ["part"])
        winner_df = o.filter(F.col("o_orderkey") % 3 == 2)
        real_commit = occ._commit
        state = {"fired": False}

        def racing(sp, p, v, *a, **kw):
            # the loser's first publish attempt: the winner commits
            # first, so the original create-exclusive loses and the
            # loop must rebase (tests/test_occ.py uses the same stage)
            if not state["fired"]:
                state["fired"] = True
                commit_append(spark, path, winner_df)
            return real_commit(sp, p, v, *a, **kw)

        occ._commit = racing
        try:
            occ.append_atomic(
                spark, path, o.filter(F.col("o_orderkey") % 3 == 1)
            )
        finally:
            occ._commit = real_commit
        occ.compact_atomic(spark, path, min_files=2)
        _TT_CACHE[key] = path
    path = _TT_CACHE[key]
    vs = _list_versions(spark, path)
    n_rebased = sum(
        1 for v in vs if _read_commit(spark, path, v).get("txn") is not None
    )
    return (
        read_version(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("price_sum"),
        )
        .withColumn("n_versions", F.lit(len(vs)))
        .withColumn("n_rebased", F.lit(n_rebased))
        .orderBy("o_orderstatus")
    )


def q_dv_delete_read(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read deletes under the value gate
    (`plans/timetravel.py:delete_where`): commit orders as a versioned
    table, DELETE every 59th key via position-delete vectors (no file
    rewritten), blind-APPEND a key-shifted copy of every 101st original
    row, then read BOTH the merge-on-read snapshot (vectors applied as a
    broadcast anti-join at scan) and the purged snapshot (file-scoped
    compaction) — the two stages must agree with each other and with the
    oracle, which recomputes the surviving multiset from the raw table."""
    import tempfile

    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        delete_where,
        purge_deletes,
        read_version,
    )

    key = ("dv_orders", sf)
    if key not in _TT_CACHE:
        o = table(spark, sf, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            (F.col("o_orderkey") % 8).cast("int").alias("part"),
        )
        path = tempfile.mkdtemp(prefix="dv_orders_")
        commit_initial(o, path, ["part"])                       # v0
        delete_where(spark, path, "o_orderkey % 59 = 0")        # v1
        appended = o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(20_000_000)
        )
        commit_append(spark, path, appended)                    # v2
        purge_deletes(spark, path)                              # v3
        _TT_CACHE[key] = path
    path = _TT_CACHE[key]

    def agg(df: DataFrame, stage: str) -> DataFrame:
        return (
            df.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
            )
            .withColumn("stage", F.lit(stage))
        )

    return agg(read_version(spark, path, 2), "mor").unionByName(
        agg(read_version(spark, path, 3), "purged")
    ).orderBy("stage", "o_orderstatus")


def q_cdf_order_changes(spark: SparkSession, sf: str) -> DataFrame:
    """Change data feed under the value gate
    (`plans/timetravel.py:table_changes`): over the same versioned
    orders table as `dv_delete_read` (v0 initial, v1 MOR delete of every
    59th key, v2 blind append), read the feed from the beginning through
    v2 and fold it per (commit, change type). The MOR commits derive
    their rows from commit artifacts alone — vectors joined back to the
    files they hit — so the oracle recomputing each class from the raw
    table checks both the insert and the materialized-delete paths."""
    q_dv_delete_read(spark, sf)  # ensure the versioned table is built
    from vptstools_spark.plans.timetravel import table_changes

    path = _TT_CACHE[("dv_orders", sf)]
    ch = table_changes(spark, path, -1, 2)
    return (
        ch.groupBy("_commit_version", "_change_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .orderBy("_commit_version", "_change_type")
    )


def q_metadata_rowcount(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only COUNT(*) under the value gate
    (`plans/timetravel.py:snapshot_rowcount` — the Iceberg
    manifests-answer-count trick): every commit records per-file footer
    row counts, so counting any version of the shared dv_orders history
    (v0 initial / v1 MOR delete / v2 append / v3 purge) is commit-JSON
    arithmetic plus a driver-side read of the broadcast-small delete
    vectors — the data files are never scanned. The oracle recomputes
    each version's cardinality from the raw table, so a stale file_rows
    map, a mis-scoped vector subtraction, or a purge that changed row
    content would all break the match."""
    q_dv_delete_read(spark, sf)  # ensure the versioned table is built
    from vptstools_spark.plans.timetravel import snapshot_rowcount

    path = _TT_CACHE[("dv_orders", sf)]
    rows = [
        (v, snapshot_rowcount(spark, path, v)) for v in (0, 1, 2, 3)
    ]
    return spark.createDataFrame(rows, "version int, n_rows long").orderBy(
        "version"
    )


def q_events_funnel_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion-window funnel — the time-boxed variant of
    `events_funnel`: each stage must land within 7 days of the PREVIOUS
    stage's first hit (view → click ≤ 7d → purchase ≤ 7d), the form
    marketing attribution actually uses (an unbounded funnel overcounts
    conversions that straggle in months later). Same scale shape: each
    stage pre-aggregates to a per-user MIN before its join, three keyed
    joins sharing the user_id exchange."""
    e = table(spark, sf, "events")
    week = F.expr("INTERVAL 7 DAYS")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") >= F.col("v_ts")) & (F.col("ts") <= F.col("v_ts") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") >= F.col("c_ts")) & (F.col("ts") <= F.col("c_ts") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click_7d")))
        .crossJoin(pu.agg(F.count("*").alias("n_purchase_7d")))
    )


def q_events_resample_locf(spark: SparkSession, sf: str) -> DataFrame:
    """Daily resample with last-observation-carried-forward: a calendar
    spine (sequence+explode — generated, never shuffled) cross-joined with
    the user dim, left-joined to per-day aggregates, gaps filled by
    last(ignorenulls) over an ordered window. The canonical time-series
    gap-fill; one exchange on user_id covers the join and the window."""
    e = table(spark, sf, "events").filter(F.col("user_id") < 10)
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.round(F.avg("value"), 4).alias("day_val"))
    users = daily.select("user_id").distinct()
    spine = users.crossJoin(
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.to_date(F.lit("2024-01-01")),
                    F.to_date(F.lit("2024-01-30")),
                )
            ).alias("day")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day_str"),
            F.last("day_val", ignorenulls=True).over(w).alias("filled_val"),
        )
    )


def q_events_resample_interp(spark: SparkSession, sf: str) -> DataFrame:
    """Daily resample with LINEAR INTERPOLATION across gaps (the lerp twin
    of `events_resample_locf`, TimescaleDB's `interpolate()` semantics):
    same spine/left-join shape, then each gap day takes
    prev + (next − prev) · Δdays/Δspan from the bracketing observations;
    leading gaps backfill, trailing gaps carry forward. Two mirrored
    per-key windows (last-non-null before, first-non-null after) share ONE
    (user, day) sort — still a single key exchange. Observed days pass
    through untouched (and dodge the 0/0 span of a degenerate bracket);
    day_vals are pre-rounded so the lerp arithmetic is IEEE-identical
    cross-engine."""
    e = table(spark, sf, "events").filter(F.col("user_id") < 10)
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.round(F.avg("value"), 4).alias("day_val"))
    users = daily.select("user_id").distinct()
    spine = users.crossJoin(
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.to_date(F.lit("2024-01-01")),
                    F.to_date(F.lit("2024-01-30")),
                )
            ).alias("day")
        )
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_val").isNotNull(), F.col("day"))
    j = (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("_pv", F.last("day_val", ignorenulls=True).over(wp))
        .withColumn("_pd", F.last(obs_day, ignorenulls=True).over(wp))
        .withColumn("_nv", F.first("day_val", ignorenulls=True).over(wf))
        .withColumn("_nd", F.first(obs_day, ignorenulls=True).over(wf))
    )
    frac = F.datediff(F.col("day"), F.col("_pd")).cast("double") / F.datediff(
        F.col("_nd"), F.col("_pd")
    ).cast("double")
    interp = (
        F.when(F.col("day_val").isNotNull(), F.col("day_val"))
        .when(F.col("_pv").isNull(), F.col("_nv"))
        .when(F.col("_nv").isNull(), F.col("_pv"))
        .otherwise(F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day_str"),
        F.round(interp, 4).alias("interp_val"),
    )


def q_events_markov(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event stream:
    P(next event type | current) with transition counts. One lag window
    per user (the sessionize sort, reused shape) then a (prev, cur) count
    aggregate; probabilities are count ÷ row-total — a single
    integer÷integer division, so the doubles are engine-identical. The
    behavioral-analytics primitive behind next-action prediction and
    anomaly scoring of event sequences."""
    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("cur_type"))
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("n_total"))
    return pairs.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "cur_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_total"), 6).alias("p"),
    )


def q_events_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Native session windows (`F.session_window`, 30-min gap) — the built-in
    form of the lag-based sessionization in `events_sessionize`, and the same
    operator Structured Streaming uses for streaming sessions. The oracle
    derives sessions with the portable lag/cumsum SQL — native operator vs
    first-principles semantics."""
    e = table(spark, sf, "events")
    sess = e.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count("*").alias("n_events")
    )
    return sess.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("n_events"),
    )


def q_events_json_schema(spark: SparkSession, sf: str) -> DataFrame:
    """Schema'd semi-structured parsing: `from_json` with an explicit struct
    schema (vs. the regexp extraction in `events_json_extract`) — the JSON
    tokenizer runs JVM-side once, fields project as typed columns."""
    e = table(spark, sf, "events")
    parsed = e.withColumn("p", F.from_json("props", "k INT"))
    return (
        parsed.filter(F.col("p.k") > 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_high"),
            F.sum("p.k").cast("long").alias("sum_k"),
        )
    )


def q_events_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval range join via bin bucketing
    (`operators/rangejoin.py:binned_interval_join` — equi-join on the bin
    id, never a nested-loop): per-user activity inside the 2-hour window
    opened by their first event."""
    from vptstools_spark.operators.rangejoin import binned_interval_join

    e = table(spark, sf, "events")
    iv = e.groupBy("user_id").agg(F.min("ts").alias("start_ts"))
    iv = iv.withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 2 HOURS"))
    hits = binned_interval_join(
        e.select("user_id", "ts", "value"),
        iv,
        point_col="ts",
        start_col="start_ts",
        end_col="end_ts",
        keys=["user_id"],
        bin_seconds=3600,
    )
    return hits.groupBy("user_id").agg(
        F.count("*").alias("n_in_window"),
        F.round(F.sum("value"), 2).alias("window_value"),
    )



def q_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week
    (anchored at 2024-01-01 so the week index is engine-independent), then
    distinct-user counts per (cohort_week, week_offset) — the classic
    activation/retention triangle. Two hash aggregations and one broadcast-
    sized join on user_id; no windows, no skew (cohorts are bounded by the
    calendar)."""
    e = table(spark, sf, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.to_date(F.lit("2024-01-01"))) / 7
    ).cast("long")
    uw = e.select("user_id", week.alias("week")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_scd2_event_types(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 attribute history: per user, validity intervals of their
    event_type runs (`operators/scd.py:scd2_from_log` — change-point lag
    flag + lead close, one hash exchange on user_id, no self-join).
    Restricted to user_id < 30 to keep the history table driver-printable;
    event_id breaks same-timestamp ties deterministically."""
    from vptstools_spark.operators.scd import scd2_from_log

    e = table(spark, sf, "events").filter(F.col("user_id") < 30)
    return scd2_from_log(
        e.select("user_id", "event_type", "ts", "event_id"),
        key="user_id",
        attr="event_type",
        ts="ts",
        order_cols=["event_id"],
    )


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Keyed snapshot diff (operators/scd.py:snapshot_diff): two orders
    snapshots derived deterministically — the OLD one is missing every
    97th key, the NEW one drops every 101st and bumps every 89th key's
    total price — then classified added/removed/changed in one full-outer
    join on key fingerprints. Summary: per-class key count + key checksum
    (the checksum pins WHICH keys landed in each class, not just how
    many)."""
    from vptstools_spark.operators.scd import snapshot_diff

    orders = table(spark, sf, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + F.lit(1.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    d = snapshot_diff(old, new, keys=["o_orderkey"])
    return (
        d.groupBy("change")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .orderBy("change")
    )


def q_events_dwell_time(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-event dwell-time statistics per event type: the per-user lag
    window yields consecutive gaps; gaps are attributed to the ARRIVING
    event's type (how long users linger before doing X — the engagement
    metric behind feed ranking and session-quality scores). One sort per
    user partition shared with the other lag queries; integer microsecond
    arithmetic so the oracle matches bit-for-bit."""
    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    return (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("gap_us", gap_us)
        .filter(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            # exact integer µs sum, ONE double division: aggregation-order-
            # insensitive, unlike AVG over per-row double gaps
            F.round(F.sum("gap_us") / F.count("*") / 1000000.0, 4).alias("avg_gap_s"),
            (F.max("gap_us") / 1000000.0).alias("max_gap_s"),
            (F.min("gap_us") / 1000000.0).alias("min_gap_s"),
        )
    )


def q_attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to the
    user's most recent PRECEDING non-purchase event type. One per-user
    window (`last(..., ignorenulls)` over unbounded-preceding..-1 rows)
    shared with the other lag queries — no self-join, no driver state;
    purchases with no preceding touch report as 'direct'."""
    e = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("channel", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(F.count("*").alias("n_conversions"))
    )


def q_revenue_mom(spark: SparkSession, sf: str) -> DataFrame:
    """Month-over-month revenue growth WITHOUT a global window: the
    monthly aggregate self-joins on the previous calendar month (an
    |months|-row broadcast join), so the plan has no single-partition
    ordered window — the pattern that survives when the time series is
    billions of rows wide per month. DECIMAL month sums make the growth
    ratio engine-exact."""
    o = table(spark, sf, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    prev = monthly.select(
        F.date_format(
            F.add_months(F.to_date(F.concat(F.col("month"), F.lit("-01"))), 1),
            "yyyy-MM",
        ).alias("month"),
        F.col("rev").alias("prev_rev"),
    )
    return (
        monthly.join(F.broadcast(prev), "month", "left")
        .select(
            "month",
            F.round(F.col("rev").cast("double"), 2).alias("revenue"),
            F.round(
                (F.col("rev") - F.col("prev_rev")).cast("double")
                / F.col("prev_rev").cast("double"),
                6,
            ).alias("mom_growth"),
        )
    )




def q_feature_pit_join(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-store point-in-time join (`operators/asof.py:
    point_in_time_join` — Feast-style leakage-free feature assembly):
    each purchase (the label row) is enriched with two feature tables AS
    OF the purchase moment — click engagement features (last click value
    + cumulative click count, with a 30-day TTL: staler matches come
    back NULL rather than silently training) and view recency features
    (no TTL). Whole-row as-of semantics: all columns of one feature
    table come from the SAME feature row. Oracle: DuckDB native ASOF
    LEFT JOINs + the TTL CASE, microsecond-exact at the boundary."""
    from vptstools_spark.operators.asof import point_in_time_join

    e = table(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.round("value", 2).alias("purchase_value"),
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("cval"), F.count("*").alias("nc"))
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    clickf = clicks.select(
        "user_id", "ts",
        F.round("cval", 2).alias("cvalue"),
        F.sum("nc").over(wc).alias("clicks_cum"),
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("vvalue"))
    )
    out = point_in_time_join(
        purchases,
        [
            {
                "df": clickf,
                "on": "user_id",
                "ts_col": "ts",
                "payload_cols": ["cvalue", "clicks_cum"],
                "prefix": "clk_",
                "ttl_seconds": 30 * 86400,
            },
            {
                "df": views,
                "on": "user_id",
                "ts_col": "ts",
                "payload_cols": ["vvalue"],
                "prefix": "vw_",
            },
        ],
        label_ts_col="ts",
    )
    return out.select(
        "event_id", "user_id", "purchase_value",
        "clk_cvalue", "clk_clicks_cum", "vw_vvalue",
    )



def q_attribution_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Linear multi-touch attribution: every touch (non-purchase event)
    between two purchases shares the NEXT purchase's value equally —
    the fractional-credit counterpart of `attribution_last_touch`.

    One per-user window assigns each event its purchase-segment index
    (count of strictly-preceding purchases); touches and purchases then
    re-join on (user, segment) — two aggregates and one equi-join on a
    key that subdivides users, so the plan parallelizes beyond user
    cardinality and holds no per-user state. Purchases with no preceding
    touch in their segment drop (no credit to assign)."""
    e = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = e.withColumn(
        "seg", F.count(F.when(F.col("event_type") == "purchase", 1)).over(w)
    )
    touches = (
        seg.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "seg", "event_type")
        .agg(F.count("*").alias("n_et"))
    )
    seg_tot = touches.groupBy("user_id", "seg").agg(
        F.sum("n_et").alias("n_touch")
    )
    purchases = seg.filter(F.col("event_type") == "purchase").select(
        "user_id", "seg", F.col("value").cast("double").alias("pval")
    )
    credited = (
        purchases.join(seg_tot, ["user_id", "seg"])
        .join(touches, ["user_id", "seg"])
        .select(
            "event_type",
            "n_et",
            (F.col("pval") * F.col("n_et") / F.col("n_touch")).alias("credit"),
        )
    )
    return credited.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum("n_et").alias("n_touches"),
        F.round(F.sum("credit"), 4).alias("credit"),
    )


def q_attribution_time_decay(spark: SparkSession, sf: str) -> DataFrame:
    """Time-decay multi-touch attribution: each touch's share of the next
    purchase's value is weighted by 2^(-age_in_days) relative to that
    purchase (day-granular halving). Decay base 2 with an INTEGER day
    exponent is exact in binary floating point, so the weights are
    engine-reproducible where pow(0.7, x) would not be (same argument as
    ewma_revenue). Plan shape = `attribution_linear`: one per-user
    segment window, then (user, segment)-keyed joins - no per-user
    serialization."""
    e = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = e.withColumn(
        "seg", F.count(F.when(F.col("event_type") == "purchase", 1)).over(w)
    )
    touches = seg.filter(F.col("event_type") != "purchase").select(
        "user_id", "seg", "event_type", F.col("ts").alias("t_touch")
    )
    purchases = seg.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "seg",
        F.col("ts").alias("t_purchase"),
        F.col("value").cast("double").alias("pval"),
    )
    # whole days as floor(seconds/86400): Spark's timestampdiff(DAY,...)
    # counts complete 24h periods but DuckDB's date_diff('day',...) counts
    # calendar-midnight crossings - the second-based floor is the one
    # rendering both engines define identically
    age_days = F.floor(
        F.expr("timestampdiff(SECOND, t_touch, t_purchase)") / 86400
    )
    weighted = purchases.join(touches, ["user_id", "seg"]).withColumn(
        "w", F.pow(F.lit(2.0), -age_days.cast("double"))
    )
    seg_tot = weighted.groupBy("user_id", "seg").agg(
        F.sum("w").alias("w_tot")
    )
    return (
        weighted.join(seg_tot, ["user_id", "seg"])
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count("*").alias("n_touches"),
            F.round(
                F.sum(F.col("pval") * F.col("w") / F.col("w_tot")), 4
            ).alias("credit"),
        )
    )


def q_events_trigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 behavioral trigrams: consecutive event-type triples inside
    each user's timeline (lead x2 over the per-user window), counted
    corpus-wide - the sequential-pattern complement of `events_markov`'s
    first-order transitions. Two-phase top-k (TakeOrderedAndProject), no
    global sort."""
    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "e1", "e2", "e3")
        .limit(20)
    )


QUERIES = {
    "attribution_linear": q_attribution_linear,
    "attribution_time_decay": q_attribution_time_decay,
    "events_trigrams": q_events_trigrams,
    "feature_pit_join": q_feature_pit_join,
    "events_dwell_time": q_events_dwell_time,
    "attribution_last_touch": q_attribution_last_touch,
    "revenue_mom": q_revenue_mom,
    "snapshot_diff": q_snapshot_diff,
    "sync_segments": q_sync_segments,
    "tt_version_diff": q_tt_version_diff,
    "clone_divergence": q_clone_divergence,
    "cluster_pruned_scan": q_cluster_pruned_scan,
    "tt_widen_scan": q_tt_widen_scan,
    "gdpr_erasure": q_gdpr_erasure,
    "pe_evolved_scan": q_pe_evolved_scan,
    "tt_rename_scan": q_tt_rename_scan,
    "hp_pruned_scan": q_hp_pruned_scan,
    "wap_audit_publish": q_wap_audit_publish,
    "dv_delete_read": q_dv_delete_read,
    "metadata_rowcount": q_metadata_rowcount,
    "occ_rebase_commits": q_occ_rebase_commits,
    "dv_equality_read": q_dv_equality_read,
    "fs_skipped_scan": q_fs_skipped_scan,
    "cdc_eq_merge": q_cdc_eq_merge,
    "hp_hours_scan": q_hp_hours_scan,
    "cdf_order_changes": q_cdf_order_changes,
    "jv_orders_refresh": q_jv_orders_refresh,
    "events_hourly": q_events_hourly,
    "events_hop_window": q_events_hop_window,
    "events_streaks": q_events_streaks,
    "scd2_event_types": q_scd2_event_types,
    "retention_cohorts": q_retention_cohorts,
    "events_interval_join": q_events_interval_join,
    "events_json_schema": q_events_json_schema,
    "events_session_window": q_events_session_window,
    "events_sessionize": q_events_sessionize,
    "events_json_extract": q_events_json_extract,
    "events_running": q_events_running,
    "events_lag_delta": q_events_lag_delta,
    "events_asof_join": q_events_asof_purchase_click,
    "events_asof_nearest": q_events_asof_nearest,
    "events_funnel": q_events_funnel,
    "events_resample_locf": q_events_resample_locf,
    "events_resample_interp": q_events_resample_interp,
    "events_markov": q_events_markov,
    "events_funnel_windowed": q_events_funnel_windowed,
}

ORACLES = {
    "events_dwell_time": """
        WITH g AS (
            SELECT event_type,
                   epoch_us(ts) - LAG(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                       AS gap_us
            FROM events
        )
        SELECT event_type,
               COUNT(*) AS n_gaps,
               ROUND(SUM(gap_us) / COUNT(*) / 1000000.0, 4) AS avg_gap_s,
               MAX(gap_us) / 1000000.0 AS max_gap_s,
               MIN(gap_us) / 1000000.0 AS min_gap_s
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY event_type
    """,
    "attribution_last_touch": """
        WITH t AS (
            SELECT event_type,
                   LAST_VALUE(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS) OVER
                       (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS channel
            FROM events
        )
        SELECT COALESCE(channel, 'direct') AS channel,
               COUNT(*) AS n_conversions
        FROM t WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    "revenue_mom": """
        WITH m AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders GROUP BY 1
        )
        SELECT m.month,
               ROUND(CAST(m.rev AS DOUBLE), 2) AS revenue,
               ROUND(CAST(m.rev - p.rev AS DOUBLE) / CAST(p.rev AS DOUBLE), 6)
                   AS mom_growth
        FROM m LEFT JOIN m p
          ON p.month = strftime(date_trunc('month',
                 CAST(m.month || '-01' AS DATE)) - INTERVAL 1 MONTH, '%Y-%m')
    """,
    "jv_orders_refresh": """
        WITH lo AS (
            SELECT o_orderkey, o_custkey AS custkey, o_totalprice
            FROM orders WHERE o_orderkey % 59 <> 0
        ), rc AS (
            SELECT c_custkey AS custkey,
                   CASE WHEN c_custkey % 97 = 0 THEN 'VIP'
                        ELSE c_mktsegment END AS c_mktsegment
            FROM customer
        )
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS price_sum
        FROM lo JOIN rc USING (custkey)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "cdf_order_changes": """
        SELECT 0 AS _commit_version, 'insert' AS _change_type,
               COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        UNION ALL
        SELECT 1, 'delete', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        FROM orders WHERE o_orderkey % 59 = 0
        UNION ALL
        SELECT 2, 'insert', COUNT(*),
               CAST(SUM(o_orderkey + 20000000) AS BIGINT)
        FROM orders WHERE o_orderkey % 101 = 0
        ORDER BY _commit_version, _change_type
    """,
    "cdc_eq_merge": """
        WITH merged AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(18,2))
                   + CASE WHEN o_orderkey % 97 = 0 THEN 5.0 ELSE 0 END AS p
            FROM orders
            -- deleted unless the update half re-inserts the key
            WHERE o_orderkey % 59 <> 0 OR o_orderkey % 97 = 0
            UNION ALL
            SELECT o_orderkey + 30000000, o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(18,2))
            FROM orders WHERE o_orderkey % 101 = 0
        )
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               ROUND(CAST(SUM(p) AS DOUBLE), 2) AS price_sum
        FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "fs_skipped_scan": """
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey + 10000000) AS BIGINT) AS key_sum,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS price_sum
        FROM orders
        WHERE o_orderkey % 3 = 0
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "dv_equality_read": """
        WITH cur AS (
            SELECT o_orderkey AS k, o_orderstatus AS st,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS p
            FROM orders WHERE o_orderkey % 59 <> 0
            UNION ALL
            SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(18,2)) + 1.0
            FROM orders
            WHERE o_orderkey % 59 = 0 AND o_orderkey % 2 = 0
        ),
        a AS (
            SELECT st AS o_orderstatus, COUNT(*) AS n_rows,
                   CAST(SUM(k) AS BIGINT) AS key_sum,
                   ROUND(CAST(SUM(p) AS DOUBLE), 2) AS price_sum
            FROM cur GROUP BY st
        )
        SELECT o_orderstatus, n_rows, key_sum, price_sum, stage
        FROM a CROSS JOIN (VALUES ('mor'), ('purged')) s(stage)
        ORDER BY stage, o_orderstatus
    """,
    "hp_hours_scan": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(user_id) AS BIGINT) AS user_sum,
               ROUND(SUM(value), 2) AS value_sum
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-11 09:30:00'
          AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-13'
        GROUP BY event_type ORDER BY event_type
    """,
    "occ_rebase_commits": """
        SELECT o_orderstatus,
               COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS price_sum,
               -- v0 initial + winner append + REBASED loser + compaction
               4 AS n_versions,
               1 AS n_rebased
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "dv_delete_read": """
        WITH cur AS (
            SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
            FROM orders WHERE o_orderkey % 59 <> 0
            UNION ALL
            SELECT o_orderkey + 20000000, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 101 = 0
        ),
        a AS (
            SELECT st AS o_orderstatus, COUNT(*) AS n_rows,
                   CAST(SUM(k) AS BIGINT) AS key_sum,
                   ROUND(SUM(p), 2) AS price_sum
            FROM cur GROUP BY st
        )
        SELECT o_orderstatus, n_rows, key_sum, price_sum, stage
        FROM a CROSS JOIN (VALUES ('mor'), ('purged')) s(stage)
        ORDER BY stage, o_orderstatus
    """,
    "wap_audit_publish": """
        WITH base AS (
            SELECT o_orderkey, o_orderstatus FROM orders
        ), final AS (
            SELECT o_orderkey, o_orderstatus FROM base
            UNION ALL
            SELECT o_orderkey + 1000000000, o_orderstatus
            FROM base WHERE o_orderkey % 101 = 0
        )
        -- n_versions = 2: v0 (initial) + the one published WAP merge;
        -- the rejected poisoned delta must not have added a commit
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               2 AS n_versions
        FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "hp_pruned_scan": """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               ROUND(SUM(o_totalprice), 2) AS price_sum
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-06-15 12:00:00'
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "tt_rename_scan": """
        WITH final AS (
            SELECT o_orderkey AS k, o_orderstatus AS st,
                   o_totalprice AS price
            FROM orders
            UNION ALL
            SELECT o_orderkey + 1000000000, o_orderstatus,
                   o_totalprice + 1.0
            FROM orders WHERE o_orderkey % 97 = 0
        )
        SELECT st AS o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS key_sum,
               ROUND(SUM(price), 2) AS price_sum
        FROM final GROUP BY st ORDER BY st
    """,
    "pe_evolved_scan": """
        WITH final AS (
            SELECT CAST(o_orderkey % 6 AS INTEGER) AS part, o_orderkey,
                   CASE WHEN o_orderkey % 83 = 0 THEN o_totalprice + 5.0
                        ELSE o_totalprice END AS p
            FROM orders
        )
        SELECT part, COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               ROUND(SUM(p), 2) AS price_sum
        FROM final GROUP BY part ORDER BY part
    """,
    "gdpr_erasure": """
        WITH kept AS (
            SELECT o_orderkey FROM orders WHERE o_custkey % 37 <> 0
        )
        SELECT metric, value FROM (
            SELECT 'n_rows' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM kept
            UNION ALL
            SELECT 'key_sum', CAST(SUM(o_orderkey) AS BIGINT) FROM kept
            UNION ALL
            SELECT 'n_residual_raw', 0
            UNION ALL
            SELECT 'n_versions', 1
        ) ORDER BY metric
    """,
    "tt_widen_scan": """
        WITH both_gen AS (
            SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice FROM orders
            UNION ALL
            SELECT o_orderkey + 1099511627776, o_totalprice + 0.5
            FROM orders WHERE o_orderkey % 131 = 0
        )
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(k) AS DOUBLE) AS key_sum,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               MAX(k) AS max_key
        FROM both_gen
    """,
    "cluster_pruned_scan": """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_custkey BETWEEN 100 AND 300 AND o_orderkey % 50 <> 0
    """,
    "clone_divergence": """
        WITH src AS (
            SELECT o_orderkey, o_totalprice FROM orders
            UNION ALL
            SELECT o_orderkey + 200000000, o_totalprice + 1.0
            FROM orders WHERE o_orderkey % 97 = 0
        ),
        cl AS (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderkey % 3 <> 0
        )
        SELECT 'clone' AS side, COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM cl
        UNION ALL
        SELECT 'source', COUNT(*),
               CAST(SUM(o_orderkey) AS BIGINT),
               ROUND(SUM(o_totalprice), 2)
        FROM src
        ORDER BY side
    """,
    "tt_version_diff": """
        WITH j AS (
            SELECT o_orderkey AS k,
                   CASE WHEN o_orderkey % 97 = 0 THEN 'removed'
                        WHEN o_orderkey % 89 = 0 THEN 'changed'
                   END AS change
            FROM orders
        )
        SELECT change, COUNT(*) AS n_keys,
               CAST(SUM(k) AS BIGINT) AS key_sum
        FROM j WHERE change IS NOT NULL
        GROUP BY change ORDER BY change
    """,
    "sync_segments": """
        WITH oldt AS (
            SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st
            FROM orders
        ),
        newt AS (
            SELECT o_orderkey AS k,
                   CASE WHEN o_orderkey % 9973 = 0 THEN o_totalprice + 1.0
                        ELSE o_totalprice END AS p,
                   o_orderstatus AS st
            FROM orders WHERE o_orderkey % 10007 <> 0
        ),
        ah AS (
            SELECT CAST(CAST('0x' || substring(md5(
                       chr(1) || CAST(k AS VARCHAR)), 1, 6) AS UBIGINT)
                       % 256 AS BIGINT) AS segment,
                   CAST(CAST('0x' || substring(md5(
                       chr(1) || CAST(k AS VARCHAR) || chr(31) ||
                       chr(1) || CAST(p AS VARCHAR) || chr(31) ||
                       chr(1) || st), 1, 16) AS UBIGINT) AS HUGEINT) AS ufp
            FROM oldt
        ),
        bh AS (
            SELECT CAST(CAST('0x' || substring(md5(
                       chr(1) || CAST(k AS VARCHAR)), 1, 6) AS UBIGINT)
                       % 256 AS BIGINT) AS segment,
                   CAST(CAST('0x' || substring(md5(
                       chr(1) || CAST(k AS VARCHAR) || chr(31) ||
                       chr(1) || CAST(p AS VARCHAR) || chr(31) ||
                       chr(1) || st), 1, 16) AS UBIGINT) AS HUGEINT) AS ufp
            FROM newt
        ),
        asg AS (
            SELECT segment,
                   bit_xor(CAST(CASE WHEN ufp > 9223372036854775807
                                     THEN ufp - 18446744073709551616
                                     ELSE ufp END AS BIGINT)) AS digest,
                   COUNT(*) AS n_rows
            FROM ah GROUP BY segment
        ),
        bsg AS (
            SELECT segment,
                   bit_xor(CAST(CASE WHEN ufp > 9223372036854775807
                                     THEN ufp - 18446744073709551616
                                     ELSE ufp END AS BIGINT)) AS digest,
                   COUNT(*) AS n_rows
            FROM bh GROUP BY segment
        )
        SELECT COALESCE(a.segment, b.segment) AS segment,
               COALESCE(a.n_rows, 0) AS n_old,
               COALESCE(b.n_rows, 0) AS n_new
        FROM asg a FULL OUTER JOIN bsg b ON a.segment = b.segment
        WHERE a.digest IS DISTINCT FROM b.digest
           OR a.n_rows IS DISTINCT FROM b.n_rows
        ORDER BY segment
    """,
    "events_funnel_windowed": """
        WITH v AS (
            SELECT user_id, MIN(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS c_ts
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click'
              AND e.ts >= v.v_ts AND e.ts <= v.v_ts + INTERVAL 7 DAY
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS p_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase'
              AND e.ts >= c.c_ts AND e.ts <= c.c_ts + INTERVAL 7 DAY
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_click_7d,
               (SELECT COUNT(*) FROM p) AS n_purchase_7d
    """,
    "snapshot_diff": """
        WITH o AS (
            SELECT o_orderkey, o_totalprice, o_orderstatus
            FROM orders WHERE o_orderkey % 97 <> 0
        ), n AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 89 = 0
                        THEN o_totalprice + 1.0 ELSE o_totalprice END AS p,
                   o_orderstatus
            FROM orders WHERE o_orderkey % 101 <> 0
        ), j AS (
            SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
                   CASE WHEN o.o_orderkey IS NULL THEN 'added'
                        WHEN n.o_orderkey IS NULL THEN 'removed'
                        WHEN o.o_totalprice <> n.p
                             OR o.o_orderstatus <> n.o_orderstatus
                        THEN 'changed' END AS change
            FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
        )
        SELECT change, COUNT(*) AS n_keys, CAST(SUM(k) AS BIGINT) AS key_sum
        FROM j WHERE change IS NOT NULL GROUP BY change ORDER BY change
    """,
    "scd2_event_types": """
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   LAG(event_type) OVER w AS prev_type,
                   ROW_NUMBER() OVER w AS rn
            FROM events WHERE user_id < 30
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), starts AS (
            SELECT user_id, event_type, ts, event_id
            FROM ordered
            WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
        )
        SELECT user_id, event_type,
               ts AS valid_from,
               LEAD(ts) OVER w2 AS valid_to,
               CAST(ROW_NUMBER() OVER w2 AS INT) AS version
        FROM starts
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "events_interval_join": """
        WITH iv AS (
            SELECT user_id,
                   MIN(ts) AS start_ts,
                   MIN(ts) + INTERVAL 2 HOUR AS end_ts
            FROM events GROUP BY user_id
        )
        SELECT e.user_id,
               COUNT(*) AS n_in_window,
               ROUND(SUM(e.value), 2) AS window_value
        FROM events e
        JOIN iv ON e.user_id = iv.user_id
               AND e.ts BETWEEN iv.start_ts AND iv.end_ts
        GROUP BY e.user_id
    """,
    "events_session_window": """
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        sess AS (
            SELECT user_id,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM marked
        ),
        per_sess AS (
            SELECT user_id, sid, COUNT(*) AS n_events
            FROM sess GROUP BY user_id, sid
        )
        SELECT user_id,
               COUNT(*) AS n_sessions,
               MAX(n_events) AS max_session_events,
               CAST(SUM(n_events) AS BIGINT) AS n_events
        FROM per_sess GROUP BY user_id
    """,
    "events_json_schema": """
        SELECT event_type,
               COUNT(*) AS n_high,
               CAST(SUM(k) AS BIGINT) AS sum_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INT) AS k
              FROM events)
        WHERE k > 50
        GROUP BY event_type
    """,
    "events_funnel": """
        WITH v AS (
            SELECT user_id, MIN(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS c_ts
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts >= v.v_ts
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS p_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_click_after_view,
               (SELECT COUNT(*) FROM p) AS n_purchase_after_click
    """,
    "events_markov": """
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ) AS prev_type
            FROM events
        ),
        pairs AS (
            SELECT prev_type, event_type AS cur_type, COUNT(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ),
        tot AS (SELECT prev_type, SUM(n) AS n_total FROM pairs GROUP BY 1)
        SELECT p.prev_type, p.cur_type, p.n,
               ROUND(CAST(p.n AS DOUBLE) / t.n_total, 6) AS p
        FROM pairs p JOIN tot t USING (prev_type)
    """,
    "events_resample_interp": """
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   ROUND(AVG(value), 4) AS day_val
            FROM events WHERE user_id < 10
            GROUP BY user_id, CAST(ts AS DATE)
        ),
        spine AS (
            SELECT u.user_id, d.day
            FROM (SELECT DISTINCT user_id FROM daily) u
            CROSS JOIN (SELECT unnest(generate_series(DATE '2024-01-01',
                                                      DATE '2024-01-30',
                                                      INTERVAL 1 DAY))::DATE
                        AS day) d
        ),
        j AS (
            SELECT s.user_id, s.day, daily.day_val,
                   LAST_VALUE(daily.day_val IGNORE NULLS) OVER wp AS pv,
                   LAST_VALUE(CASE WHEN daily.day_val IS NOT NULL
                                   THEN s.day END IGNORE NULLS) OVER wp AS pd,
                   FIRST_VALUE(daily.day_val IGNORE NULLS) OVER wf AS nv,
                   FIRST_VALUE(CASE WHEN daily.day_val IS NOT NULL
                                    THEN s.day END IGNORE NULLS) OVER wf AS nd
            FROM spine s
            LEFT JOIN daily ON s.user_id = daily.user_id AND s.day = daily.day
            WINDOW wp AS (PARTITION BY s.user_id ORDER BY s.day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY s.user_id ORDER BY s.day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, strftime(day, '%Y-%m-%d') AS day_str,
               ROUND(CASE
                   WHEN day_val IS NOT NULL THEN day_val
                   WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   ELSE pv + (nv - pv)
                        * (CAST(date_diff('day', pd, day) AS DOUBLE)
                           / CAST(date_diff('day', pd, nd) AS DOUBLE))
               END, 4) AS interp_val
        FROM j
    """,
    "events_resample_locf": """
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   ROUND(AVG(value), 4) AS day_val
            FROM events WHERE user_id < 10
            GROUP BY user_id, CAST(ts AS DATE)
        ),
        spine AS (
            SELECT u.user_id, d.day
            FROM (SELECT DISTINCT user_id FROM daily) u
            CROSS JOIN (SELECT unnest(generate_series(DATE '2024-01-01',
                                                      DATE '2024-01-30',
                                                      INTERVAL 1 DAY))::DATE
                        AS day) d
        )
        SELECT s.user_id,
               strftime(s.day, '%Y-%m-%d') AS day_str,
               LAST_VALUE(daily.day_val IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_val
        FROM spine s
        LEFT JOIN daily ON s.user_id = daily.user_id AND s.day = daily.day
    """,
    "events_streaks": """
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
            FROM events WHERE user_id < 200
        ),
        isl AS (
            SELECT user_id, d,
                   CAST(d - DATE '1970-01-01' AS BIGINT)
                       - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                       AS island
            FROM days
        ),
        st AS (
            SELECT user_id, island, COUNT(*) AS streak,
                   CAST(MIN(d) AS VARCHAR) AS sd
            FROM isl GROUP BY 1, 2
        ),
        best AS (
            SELECT user_id,
                   MAX({'streak': streak, 'sd': sd}) AS b,
                   COUNT(*) AS n_islands
            FROM st GROUP BY user_id
        )
        SELECT user_id,
               CAST(b.streak AS BIGINT) AS longest_streak,
               b.sd AS streak_start,
               n_islands
        FROM best
        ORDER BY longest_streak DESC, user_id
        LIMIT 20
    """,
    "events_hop_window": """
        WITH x AS (
            SELECT event_type, value,
                   date_trunc('hour', ts) - h * INTERVAL 1 HOUR AS win_start
            FROM events, UNNEST([0, 1]) AS t(h)
        )
        SELECT strftime(win_start, '%Y-%m-%dT%H:%M:%S') AS win_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM x GROUP BY 1, 2
    """,
    "events_hourly": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S') AS hour_ts,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "events_sessionize": """
        WITH g AS (
            SELECT user_id,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                          OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        )
        SELECT user_id,
               CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM g GROUP BY user_id
    """,
    "events_json_extract": """
        SELECT event_type,
               ROUND(AVG(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)), 4) AS avg_k,
               MAX(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS max_k,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type
    """,
    "events_running": """
        SELECT event_id, user_id,
               ROUND(SUM(value) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id
                                      ROWS UNBOUNDED PRECEDING), 2) AS running_value
        FROM events WHERE user_id < 30
    """,
    "events_lag_delta": """
        SELECT event_id, user_id,
               ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                              ORDER BY epoch_us(ts), event_id), 2) AS delta
        FROM events WHERE user_id < 30
    """,
    "events_asof_nearest": """
        WITH purchases AS (
            SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
        ),
        clicks AS (
            SELECT user_id, ts, MAX(value) AS cvalue
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        ),
        pairs AS (
            SELECT p.event_id, p.user_id, p.value, c.cvalue,
                   ABS(epoch(c.ts) - epoch(p.ts)) AS d,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.event_id
                       ORDER BY ABS(epoch(c.ts) - epoch(p.ts)),
                                CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END
                   ) AS rn
            FROM purchases p LEFT JOIN clicks c ON p.user_id = c.user_id
        )
        SELECT event_id, user_id,
               ROUND(value, 2) AS purchase_value,
               ROUND(CASE WHEN d <= 172800 THEN cvalue END, 2)
                   AS nearest_click_value
        FROM pairs WHERE rn = 1
    """,
    "events_asof_join": """
        WITH purchases AS (
            SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
        ),
        clicks AS (
            SELECT user_id, ts, MAX(value) AS cvalue
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        )
        SELECT p.event_id, p.user_id,
               ROUND(p.value, 2) AS purchase_value,
               ROUND(c.cvalue, 2) AS prior_click_value
        FROM purchases p
        ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
}

ORACLES["retention_cohorts"] = """
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
        FROM events
    ),
    c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id)
    SELECT c.cohort_week,
           uw.week - c.cohort_week AS week_offset,
           COUNT(DISTINCT uw.user_id) AS n_users
    FROM uw JOIN c USING (user_id)
    GROUP BY 1, 2
"""

ORACLES["feature_pit_join"] = """
    WITH purchases AS (
        SELECT user_id, ts, event_id, ROUND(value, 2) AS purchase_value
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, ts, MAX(value) AS cval, COUNT(*) AS nc
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), clickf AS (
        SELECT user_id, ts, ROUND(cval, 2) AS cvalue,
               CAST(SUM(nc) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS clicks_cum
        FROM clicks
    ), views AS (
        SELECT user_id, ts, ROUND(MAX(value), 2) AS vvalue
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT p.event_id, p.user_id, p.purchase_value,
           CASE WHEN date_diff('microsecond', c.ts, p.ts) <= 2592000000000
                THEN c.cvalue END AS clk_cvalue,
           CASE WHEN date_diff('microsecond', c.ts, p.ts) <= 2592000000000
                THEN c.clicks_cum END AS clk_clicks_cum,
           v.vvalue AS vw_vvalue
    FROM purchases p
    ASOF LEFT JOIN clickf c ON p.user_id = c.user_id AND p.ts >= c.ts
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
"""

ORACLES["metadata_rowcount"] = """
    WITH n0 AS (SELECT COUNT(*) AS c FROM orders),
    nd AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey % 59 = 0),
    na AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey % 101 = 0)
    SELECT 0 AS version, n0.c AS n_rows FROM n0
    UNION ALL
    SELECT 1, n0.c - nd.c FROM n0, nd
    UNION ALL
    SELECT 2, n0.c - nd.c + na.c FROM n0, nd, na
    UNION ALL
    SELECT 3, n0.c - nd.c + na.c FROM n0, nd, na
    ORDER BY version
"""

ORACLES["attribution_linear"] = """
    WITH seg AS (
        SELECT user_id, event_type, CAST(value AS DOUBLE) AS value,
               COUNT(*) FILTER (event_type = 'purchase') OVER
                   (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS seg
        FROM events
    ),
    touches AS (
        SELECT user_id, seg, event_type, COUNT(*) AS n_et
        FROM seg WHERE event_type <> 'purchase'
        GROUP BY 1, 2, 3
    ),
    seg_tot AS (
        SELECT user_id, seg, SUM(n_et) AS n_touch
        FROM touches GROUP BY 1, 2
    ),
    purchases AS (
        SELECT user_id, seg, value AS pval
        FROM seg WHERE event_type = 'purchase'
    )
    SELECT t.event_type AS channel,
           CAST(SUM(t.n_et) AS BIGINT) AS n_touches,
           ROUND(SUM(p.pval * t.n_et / st.n_touch), 4) AS credit
    FROM purchases p
    JOIN seg_tot st ON st.user_id = p.user_id AND st.seg = p.seg
    JOIN touches t ON t.user_id = p.user_id AND t.seg = p.seg
    GROUP BY 1
"""

ORACLES["attribution_time_decay"] = """
    WITH seg AS (
        SELECT user_id, event_type, ts, CAST(value AS DOUBLE) AS value,
               COUNT(*) FILTER (event_type = 'purchase') OVER
                   (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS seg
        FROM events
    ),
    touches AS (
        SELECT user_id, seg, event_type, ts AS t_touch
        FROM seg WHERE event_type <> 'purchase'
    ),
    purchases AS (
        SELECT user_id, seg, ts AS t_purchase, value AS pval
        FROM seg WHERE event_type = 'purchase'
    ),
    weighted AS (
        SELECT t.user_id, t.seg, t.event_type, p.pval,
               POW(2.0, -FLOOR(DATE_DIFF('second', t.t_touch, p.t_purchase)
                               / 86400.0)) AS w
        FROM purchases p
        JOIN touches t ON t.user_id = p.user_id AND t.seg = p.seg
    ),
    seg_tot AS (
        SELECT user_id, seg, SUM(w) AS w_tot
        FROM weighted GROUP BY 1, 2
    )
    SELECT w.event_type AS channel,
           COUNT(*) AS n_touches,
           ROUND(SUM(w.pval * w.w / st.w_tot), 4) AS credit
    FROM weighted w
    JOIN seg_tot st ON st.user_id = w.user_id AND st.seg = w.seg
    GROUP BY 1
"""

ORACLES["events_trigrams"] = """
    WITH tri AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT e1, e2, e3, COUNT(*) AS n
    FROM tri WHERE e3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, e1, e2, e3
    LIMIT 20
"""


def q_markov_next_event_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-model evaluation: train a first-order Markov next-event
    predictor on 80% of users (user_id % 5 != 0), predict argmax
    P(next | current) for the held-out users, report per-state accuracy.
    Training and prediction are two aggregates over lead() pairs; the
    argmax uses a count + state tie-break struct max so the decision is
    deterministic in any engine - the train/held-out evaluation pattern
    next to `nb_langid`'s classifier."""
    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type", 1).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    train = pairs.filter(F.col("user_id") % 5 != 0)
    test = pairs.filter(F.col("user_id") % 5 == 0)
    pred = (
        train.groupBy("cur", "nxt")
        .agg(F.count("*").alias("c"))
        .groupBy("cur")
        .agg(
            F.max(
                F.struct(F.col("c"), F.col("nxt").alias("p"))
            ).alias("best")
        )
        .select("cur", F.col("best.p").alias("pred"))
    )
    return (
        test.join(F.broadcast(pred), "cur")
        .groupBy("cur")
        .agg(
            F.count("*").alias("n_transitions"),
            F.sum(
                (F.col("nxt") == F.col("pred")).cast("int")
            ).alias("n_correct"),
            F.round(
                F.avg((F.col("nxt") == F.col("pred")).cast("int")), 6
            ).alias("accuracy"),
        )
    )


ORACLES["markov_next_event_eval"] = """
    WITH pairs AS (
        SELECT user_id, event_type AS cur,
               LEAD(event_type, 1) OVER
                   (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS nxt
        FROM events
    ),
    train AS (
        SELECT * FROM pairs WHERE nxt IS NOT NULL AND user_id % 5 <> 0
    ),
    test AS (
        SELECT * FROM pairs WHERE nxt IS NOT NULL AND user_id % 5 = 0
    ),
    counts AS (
        SELECT cur, nxt, COUNT(*) AS c FROM train GROUP BY 1, 2
    ),
    pred AS (
        SELECT cur, nxt AS pred FROM (
            SELECT cur, nxt,
                   ROW_NUMBER() OVER (PARTITION BY cur
                                      ORDER BY c DESC, nxt DESC) AS rk
            FROM counts
        ) WHERE rk = 1
    )
    SELECT t.cur,
           COUNT(*) AS n_transitions,
           CAST(SUM(CASE WHEN t.nxt = p.pred THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           ROUND(AVG(CASE WHEN t.nxt = p.pred THEN 1.0 ELSE 0.0 END), 6)
               AS accuracy
    FROM test t JOIN pred p USING (cur)
    GROUP BY 1
"""

QUERIES["markov_next_event_eval"] = q_markov_next_event_eval


def q_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort LTV curve: average CUMULATIVE revenue per customer by
    months-since-first-order, per signup cohort (first-order month) -
    the growth analytic behind payback-period decisions, and the
    cumulative extension of `retention_cohorts`. Per-customer first
    months come from one aggregate; the cumulative-by-offset sum is a
    bounded self-join over the (cohort, offset) aggregate (offsets <=
    corpus months), so nothing re-sorts the fact. Restricted to the
    first 4 cohorts x offsets 0-5 for a stable audit surface."""
    o = table(spark, sf, "orders")
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("m0")
    )
    facts = (
        o.join(first, "o_custkey")
        .select(
            "o_custkey",
            "m0",
            F.months_between(
                F.date_trunc("month", "o_orderdate").cast("date"), F.col("m0")
            ).cast("int").alias("offset"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
        )
        .filter(F.col("offset") <= 5)
    )
    cohort_n = first.groupBy("m0").agg(F.countDistinct("o_custkey").alias("n_users"))
    per_off = facts.groupBy("m0", "offset").agg(F.sum("rev").alias("rev"))
    a = per_off.select("m0", F.col("offset").alias("o1"), "rev")
    cum = (
        a.join(
            per_off.select("m0", F.col("offset").alias("o2")).distinct(),
            "m0",
        )
        .filter(F.col("o1") <= F.col("o2"))
        .groupBy("m0", F.col("o2").alias("offset"))
        .agg(F.sum("rev").alias("cum_rev"))
    )
    return (
        cum.join(F.broadcast(cohort_n), "m0")
        .select(
            F.date_format("m0", "yyyy-MM").alias("cohort"),
            "offset",
            F.round(
                (F.col("cum_rev") / F.col("n_users")).cast("double"), 4
            ).alias("ltv_per_user"),
            "n_users",
        )
        .filter(F.col("cohort") < "1995-05")
    )


ORACLES["cohort_ltv"] = """
    WITH first AS (
        SELECT o_custkey,
               DATE_TRUNC('month', MIN(o_orderdate)) AS m0
        FROM orders GROUP BY 1
    ),
    facts AS (
        SELECT o.o_custkey, f.m0,
               DATEDIFF('month', f.m0,
                        DATE_TRUNC('month', o.o_orderdate)) AS off,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS rev
        FROM orders o JOIN first f USING (o_custkey)
        WHERE DATEDIFF('month', f.m0,
                       DATE_TRUNC('month', o.o_orderdate)) <= 5
    ),
    cohort_n AS (
        SELECT m0, COUNT(DISTINCT o_custkey) AS n_users
        FROM first GROUP BY 1
    ),
    per_off AS (
        SELECT m0, off, SUM(rev) AS rev FROM facts GROUP BY 1, 2
    ),
    cum AS (
        SELECT a.m0, b.off AS offset, SUM(a.rev) AS cum_rev
        FROM per_off a
        JOIN (SELECT DISTINCT m0, off FROM per_off) b
          ON a.m0 = b.m0 AND a.off <= b.off
        GROUP BY 1, 2
    )
    SELECT STRFTIME(c.m0, '%Y-%m') AS cohort,
           c.offset,
           ROUND(CAST(c.cum_rev / n.n_users AS DOUBLE), 4) AS ltv_per_user,
           n.n_users
    FROM cum c JOIN cohort_n n USING (m0)
    WHERE STRFTIME(c.m0, '%Y-%m') < '1995-05'
"""

QUERIES["cohort_ltv"] = q_cohort_ltv


def q_segment_migration(spark: SparkSession, sf: str) -> DataFrame:
    """Customer value-segment migration matrix: each customer's revenue
    tercile in 1995 vs 1996 (high/mid/low against the year's revenue
    tercile boundaries), counted as a transition matrix - the
    churn/upsell diagnostic. Boundaries are ONE percentile aggregate per
    year broadcast back (a ranking window would be a per-year global
    sort at lake scale); the migration join is per-customer. Customers
    absent in a year report as 'none'."""
    o = table(spark, sf, "orders")
    yearly = (
        o.filter(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.col("o_custkey").alias("cust"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
        # lazy checkpoint (r9, guide §5): the per-(year, customer) revenue
        # is customer-bounded but feeds the boundary aggregate AND the
        # segment map — uncached, each re-ran the orders scan
        .localCheckpoint(eager=False)
    )
    # tercile BOUNDARIES per year (2 numbers, broadcast back) instead of
    # an ntile ranking: a per-year ranking window is a two-task global
    # sort at lake scale, thresholds are one aggregate + a narrow map
    bounds = yearly.groupBy("yr").agg(
        F.percentile(F.col("rev").cast("double"), F.lit(1.0 / 3)).alias("b_lo"),
        F.percentile(F.col("rev").cast("double"), F.lit(2.0 / 3)).alias("b_hi"),
    )
    seg = yearly.join(F.broadcast(bounds), "yr").withColumn(
        "segment",
        F.when(F.col("rev").cast("double") > F.col("b_hi"), "high")
        .when(F.col("rev").cast("double") > F.col("b_lo"), "mid")
        .otherwise("low"),
        # both year slices of the migration join read this
    ).localCheckpoint(eager=False)
    a = seg.filter(F.col("yr") == 1995).select(
        "cust", F.col("segment").alias("seg_1995")
    )
    b = seg.filter(F.col("yr") == 1996).select(
        "cust", F.col("segment").alias("seg_1996")
    )
    return (
        a.join(b, "cust", "full_outer")
        .groupBy(
            F.coalesce("seg_1995", F.lit("none")).alias("seg_1995"),
            F.coalesce("seg_1996", F.lit("none")).alias("seg_1996"),
        )
        .agg(F.count("*").alias("n_customers"))
    )


ORACLES["segment_migration"] = """
    WITH yearly AS (
        SELECT YEAR(o_orderdate) AS yr, o_custkey AS cust,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders
        WHERE YEAR(o_orderdate) IN (1995, 1996)
        GROUP BY 1, 2
    ),
    bounds AS (
        SELECT yr,
               QUANTILE_CONT(CAST(rev AS DOUBLE), 1.0 / 3) AS b_lo,
               QUANTILE_CONT(CAST(rev AS DOUBLE), 2.0 / 3) AS b_hi
        FROM yearly GROUP BY 1
    ),
    seg AS (
        SELECT y.yr, y.cust,
               CASE WHEN CAST(y.rev AS DOUBLE) > b.b_hi THEN 'high'
                    WHEN CAST(y.rev AS DOUBLE) > b.b_lo THEN 'mid'
                    ELSE 'low' END AS segment
        FROM yearly y JOIN bounds b USING (yr)
    )
    SELECT COALESCE(a.segment, 'none') AS seg_1995,
           COALESCE(b.segment, 'none') AS seg_1996,
           COUNT(*) AS n_customers
    FROM (SELECT cust, segment FROM seg WHERE yr = 1995) a
    FULL OUTER JOIN (SELECT cust, segment FROM seg WHERE yr = 1996) b
        USING (cust)
    GROUP BY 1, 2
"""

QUERIES["segment_migration"] = q_segment_migration


def q_event_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Burstiness (Fano factor: variance/mean of daily counts) per event
    type - Poisson traffic scores ~1, batchy/bursty pipelines score
    higher. Two stacked aggregates (day then type), both vocabulary-
    sized after the first fold."""
    e = table(spark, sf, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n"))
    return daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.round(F.avg("n"), 4).alias("mean_daily"),
        F.round(F.var_pop("n"), 4).alias("var_daily"),
        F.round(F.var_pop("n") / F.avg("n"), 4).alias("fano"),
    )


ORACLES["event_burstiness"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           COUNT(*) AS n_days,
           ROUND(AVG(n), 4) AS mean_daily,
           ROUND(VAR_POP(n), 4) AS var_daily,
           ROUND(VAR_POP(n) / AVG(n), 4) AS fano
    FROM daily GROUP BY 1
"""

QUERIES["event_burstiness"] = q_event_burstiness


def q_funnel_time_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert distribution: minutes from each user's FIRST
    click to their first purchase AFTER it, summarized as exact
    quartiles + conversion count - the latency readout behind funnel
    SLAs. Two per-user min-aggregates and one join; no windows at all,
    so the plan is two shuffles on user_id regardless of scale."""
    e = table(spark, sf, "events")
    first_click = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_buy")
    )
    conv = (
        first_click.join(purchases, "user_id")
        .filter(F.col("t_buy") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.expr("timestampdiff(MINUTE, t_click, t_buy)")
            ).alias("mins")
        )
    )
    return conv.agg(
        F.count("*").alias("n_converted"),
        F.round(F.percentile("mins", F.lit(0.25)), 4).alias("p25_min"),
        F.round(F.percentile("mins", F.lit(0.5)), 4).alias("p50_min"),
        F.round(F.percentile("mins", F.lit(0.9)), 4).alias("p90_min"),
    )


ORACLES["funnel_time_percentiles"] = """
    WITH first_click AS (
        SELECT user_id, MIN(ts) AS t_click
        FROM events WHERE event_type = 'click'
        GROUP BY 1
    ),
    conv AS (
        SELECT e.user_id,
               MIN(CAST(FLOOR(DATE_DIFF('second', f.t_click, e.ts) / 60.0)
                        AS BIGINT)) AS mins
        FROM events e JOIN first_click f USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= f.t_click
        GROUP BY 1
    )
    SELECT COUNT(*) AS n_converted,
           ROUND(QUANTILE_CONT(mins, 0.25), 4) AS p25_min,
           ROUND(QUANTILE_CONT(mins, 0.5), 4) AS p50_min,
           ROUND(QUANTILE_CONT(mins, 0.9), 4) AS p90_min
    FROM conv
"""

QUERIES["funnel_time_percentiles"] = q_funnel_time_percentiles


def q_repeat_purchase_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-purchase interval distribution: hours between consecutive
    purchases per user (lag over the per-user purchase stream), exact
    quartiles + count - the repeat-engagement cadence behind retention
    targets. One user-partitioned window over the purchase subset, one
    global aggregate."""
    e = table(spark, sf, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        F.expr(
            "timestampdiff(HOUR, lag(ts, 1) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
        ).alias("gap_h"),
    ).filter(F.col("gap_h").isNotNull())
    return gaps.agg(
        F.count("*").alias("n_intervals"),
        F.round(F.percentile("gap_h", F.lit(0.25)), 4).alias("p25_h"),
        F.round(F.percentile("gap_h", F.lit(0.5)), 4).alias("p50_h"),
        F.round(F.percentile("gap_h", F.lit(0.75)), 4).alias("p75_h"),
    )


ORACLES["repeat_purchase_interval"] = """
    WITH p AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'purchase'
    ),
    gaps AS (
        SELECT CAST(FLOOR(DATE_DIFF('second',
                   LAG(ts, 1) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id),
                   ts) / 3600.0) AS BIGINT) AS gap_h
        FROM p
    )
    SELECT COUNT(*) AS n_intervals,
           ROUND(QUANTILE_CONT(gap_h, 0.25), 4) AS p25_h,
           ROUND(QUANTILE_CONT(gap_h, 0.5), 4) AS p50_h,
           ROUND(QUANTILE_CONT(gap_h, 0.75), 4) AS p75_h
    FROM gaps WHERE gap_h IS NOT NULL
"""

QUERIES["repeat_purchase_interval"] = q_repeat_purchase_interval


# ---------------------------------------------------------------- round 7


def q_dau_wau_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly engagement stickiness: avg daily active users / weekly
    active users per ISO week — the DAU/MAU ratio at the granularity the
    30-day fixture supports. Two exact-distinct aggregates, each a plain
    two-level shuffle on (period, user); no windows, no collect."""
    e = table(spark, sf, "events").select(
        F.date_trunc("week", "ts").alias("wk"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    dau = (
        e.groupBy("wk", "day")
        .agg(F.count_distinct("user_id").alias("dau"))
        .groupBy("wk")
        .agg((F.sum("dau") / F.count("*")).alias("avg_dau"))
    )
    wau = e.groupBy("wk").agg(F.count_distinct("user_id").alias("wau"))
    return (
        dau.join(wau, "wk")
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week"),
            F.round("avg_dau", 4).alias("avg_dau"),
            "wau",
            F.round(F.col("avg_dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("week")
    )


ORACLES["dau_wau_stickiness"] = """
    WITH e AS (
        SELECT date_trunc('week', ts) AS wk, date_trunc('day', ts) AS day,
               user_id
        FROM events
    ), dau AS (
        SELECT wk, SUM(d) * 1.0 / COUNT(*) AS avg_dau
        FROM (SELECT wk, day, COUNT(DISTINCT user_id) AS d
              FROM e GROUP BY wk, day)
        GROUP BY wk
    ), wau AS (
        SELECT wk, COUNT(DISTINCT user_id) AS wau FROM e GROUP BY wk
    )
    SELECT strftime(dau.wk, '%Y-%m-%d') AS week,
           ROUND(avg_dau, 4) AS avg_dau, wau,
           ROUND(avg_dau / wau, 6) AS stickiness
    FROM dau JOIN wau USING (wk)
    ORDER BY week
"""
QUERIES["dau_wau_stickiness"] = q_dau_wau_stickiness


#: fixed human-scale boundaries for inter-event gaps — CASE comparisons
#: on integer seconds, never log-binning (floor(log2(x)) lands ON bucket
#: edges for exact powers and is the classic cross-engine flake)
_GAP_BUCKETS = [
    (60, "lt_1m"),
    (300, "1m_5m"),
    (1800, "5m_30m"),
    (7200, "30m_2h"),
    (86400, "2h_1d"),
]


def q_gap_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-event-time distribution: per-user lag gaps bucketed on
    fixed boundaries. The window is per-user (state = one user's
    history); the histogram is a 6-row aggregate."""
    from pyspark.sql import Window

    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.expr(
        "timestampdiff(SECOND, lag(ts) over "
        "(partition by user_id order by ts, event_id), ts)"
    )
    bucket = F.when(F.col("gap_s").isNull(), None)
    for hi, name in _GAP_BUCKETS:
        bucket = bucket.when(F.col("gap_s") < hi, name)
    bucket = bucket.otherwise("ge_1d")
    return (
        e.select(gap_s.alias("gap_s"))
        .filter(F.col("gap_s").isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


ORACLES["gap_histogram"] = """
    WITH gaps AS (
        SELECT datediff('second',
                        lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id),
                        ts) AS gap_s
        FROM events
    )
    SELECT CASE WHEN gap_s < 60 THEN 'lt_1m'
                WHEN gap_s < 300 THEN '1m_5m'
                WHEN gap_s < 1800 THEN '5m_30m'
                WHEN gap_s < 7200 THEN '30m_2h'
                WHEN gap_s < 86400 THEN '2h_1d'
                ELSE 'ge_1d' END AS bucket,
           COUNT(*) AS n
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY 1 ORDER BY 1
"""
QUERIES["gap_histogram"] = q_gap_histogram


def q_pareto_users(spark: SparkSession, sf: str) -> DataFrame:
    """Value concentration: share of total event value contributed by
    each user-decile (deciles over per-user totals, ordered total desc
    with user-id tiebreak so the assignment is deterministic). Even
    though the input is dimension-sized (one row per user), the decile
    comes from `plans/ranking.py`'s range-partitioned global row number
    + the exact NTILE bucket rule — never a single-partition window
    (registry convention; bit-identical to NTILE(10) OVER at any
    scale)."""
    from vptstools_spark.plans.ranking import distributed_row_number, ntile_expr

    e = table(spark, sf, "events")
    per_user = e.groupBy("user_id").agg(F.sum("value").alias("tot"))
    ranked = distributed_row_number(
        per_user.withColumn("_neg", -F.col("tot")), ["_neg", "user_id"]
    )
    n = ranked.count()
    deciles = ranked.select(
        "tot", ntile_expr(F.col("_rn"), n, 10).alias("decile")
    )
    g = deciles.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("tot").alias("v")
    )
    total = g.agg(F.sum("v").alias("tv"))
    return (
        g.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_users",
            F.round(F.col("v") / F.col("tv"), 6).alias("value_share"),
        )
        .orderBy("decile")
    )


ORACLES["pareto_users"] = """
    WITH pu AS (
        SELECT user_id, SUM(value) AS tot FROM events GROUP BY user_id
    ), d AS (
        SELECT tot, ntile(10) OVER (ORDER BY tot DESC, user_id) AS decile
        FROM pu
    ), g AS (
        SELECT decile, COUNT(*) AS n_users, SUM(tot) AS v FROM d GROUP BY decile
    )
    SELECT decile, n_users,
           ROUND(v / (SELECT SUM(v) FROM g), 6) AS value_share
    FROM g ORDER BY decile
"""
QUERIES["pareto_users"] = q_pareto_users


def q_session_length_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Histogram of events-per-session under the 30-minute-gap
    definition (`events_sessionize`'s sessions, one level deeper): the
    session id is a running sum of session starts per user (bounded by
    one user's history), sessions collapse to lengths, lengths to a
    5-row histogram."""
    from pyspark.sql import Window

    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    new_sess = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_US), 1
    ).otherwise(0)
    sess = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("new_sess", new_sess)
        .withColumn("sess_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
        .groupBy("user_id", "sess_id")
        .agg(F.count("*").alias("len"))
    )
    bucket = (
        F.when(F.col("len") == 1, "1")
        .when(F.col("len") == 2, "2")
        .when(F.col("len") <= 5, "3_5")
        .when(F.col("len") <= 10, "6_10")
        .otherwise("gt_10")
    )
    return (
        sess.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("bucket")
    )


ORACLES["session_length_hist"] = """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR datediff('microsecond', lag(ts) OVER w, ts)
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id,
               SUM(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    ), lens AS (
        SELECT COUNT(*) AS len FROM sess GROUP BY user_id, sess_id
    )
    SELECT CASE WHEN len = 1 THEN '1'
                WHEN len = 2 THEN '2'
                WHEN len <= 5 THEN '3_5'
                WHEN len <= 10 THEN '6_10'
                ELSE 'gt_10' END AS bucket,
           COUNT(*) AS n_sessions
    FROM lens GROUP BY 1 ORDER BY 1
"""
QUERIES["session_length_hist"] = q_session_length_hist


def q_calibration_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability curve for a naive propensity score (value/100, capped
    at 1) predicting purchase events: per fixed decile bin, mean
    predicted vs observed purchase rate. The bin edges are exact integer
    thresholds on value (k*10), so bucketing is reproducible; everything
    folds to a 10-row aggregate in one pass."""
    e = table(spark, sf, "events")
    score = F.least(F.col("value") / 100.0, F.lit(1.0))
    bin_ = F.least(F.floor(F.col("value") / 10.0), F.lit(9)).cast("int")
    return (
        e.select(
            bin_.alias("bin"),
            score.alias("score"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("score") / F.count("*"), 6).alias("mean_pred"),
            F.round(F.sum("y") / F.count("*"), 6).alias("purchase_rate"),
        )
        .orderBy("bin")
    )


ORACLES["calibration_curve"] = """
    SELECT CAST(LEAST(FLOOR(value / 10.0), 9) AS INT) AS bin,
           COUNT(*) AS n,
           ROUND(SUM(LEAST(value / 100.0, 1.0)) / COUNT(*), 6) AS mean_pred,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS purchase_rate
    FROM events GROUP BY 1 ORDER BY 1
"""
QUERIES["calibration_curve"] = q_calibration_curve


def q_gains_table(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative-gains table over customers scored by total spend:
    decile (spend desc, custkey tiebreak) -> cumulative share of
    revenue and of customers — the 'top 20% of customers drive X% of
    revenue' readout. Deciles via the range-partitioned global row
    number + exact NTILE rule (`plans/ranking.py` — no single-partition
    window even on the dimension-sized input); the cumulative window
    runs over 10 rows."""
    from pyspark.sql import Window

    from vptstools_spark.plans.ranking import distributed_row_number, ntile_expr

    o = table(spark, sf, "orders")
    per_c = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("spend"))
    ranked = distributed_row_number(
        per_c.withColumn("_neg", -F.col("spend")), ["_neg", "o_custkey"]
    )
    n = ranked.count()
    g = (
        ranked.select("spend", ntile_expr(F.col("_rn"), n, 10).alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").alias("n_cust"), F.sum("spend").alias("v"))
    )
    tot = g.agg(
        F.sum("v").alias("tv"), F.sum("n_cust").alias("tc")
    )
    # cumulative sums via a triangular self-join on the 10-row decile
    # table (no global window, even a provably-tiny one — the registry
    # convention is zero single-partition Window nodes, and Catalyst
    # cannot prove the groupBy output is <= 10 rows)
    a, b = g.alias("a"), g.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(
            F.col("a.decile").alias("decile"),
            F.col("a.n_cust").alias("n_cust"),
        )
        .agg(F.sum("b.v").alias("cv"), F.sum("b.n_cust").alias("cc"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_cust",
            F.round(F.col("cv") / F.col("tv"), 6).alias("cum_revenue_share"),
            F.round(F.col("cc") / F.col("tc"), 6).alias("cum_customer_share"),
        )
        .orderBy("decile")
    )


ORACLES["gains_table"] = """
    WITH pc AS (
        SELECT o_custkey, SUM(o_totalprice) AS spend
        FROM orders GROUP BY o_custkey
    ), d AS (
        SELECT spend,
               ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
        FROM pc
    ), g AS (
        SELECT decile, COUNT(*) AS n_cust, SUM(spend) AS v
        FROM d GROUP BY decile
    )
    SELECT decile, n_cust,
           ROUND(SUM(v) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                 / (SELECT SUM(v) FROM g), 6) AS cum_revenue_share,
           ROUND(SUM(n_cust) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                 * 1.0 / (SELECT SUM(n_cust) FROM g), 6)
               AS cum_customer_share
    FROM g ORDER BY decile
"""
QUERIES["gains_table"] = q_gains_table


def q_isotonic_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic regression of purchase rate on the value-decile score —
    the PAV-calibrated (monotone non-decreasing) rate the raw
    `calibration_curve` cannot promise. Uses the minimax identity
    iso(i) = max_{j<=i} min_{k>=i} wmean(y[j..k]) instead of the
    sequential pool-adjacent-violators stack: with 10 fixed bins all 55
    intervals and both extrema are bounded triangular joins — fully
    declarative, no fold, and every weighted mean is a ratio of exact
    integer sums, so the min/max decisions are bit-identical
    cross-engine."""
    e = table(spark, sf, "events")
    bins = e.select(
        F.least(F.floor(F.col("value") / 10.0), F.lit(9))
        .cast("int").alias("bin"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    ).groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("y").alias("sy")
    ).localCheckpoint(eager=False)
    j = bins.select(F.col("bin").alias("j"))
    k = bins.select(F.col("bin").alias("k"))
    m = bins.select(F.col("bin").alias("m"), "n", "sy")
    intervals = (
        j.join(F.broadcast(k), F.col("j") <= F.col("k"))
        .join(
            F.broadcast(m),
            (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg((F.sum("sy") / F.sum("n")).alias("wmean"))
    )
    i = bins.select("bin", "n", (F.col("sy") / F.col("n")).alias("raw_rate"))
    iso = (
        i.join(
            F.broadcast(intervals),
            (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")),
        )
        .groupBy("bin", "n", "raw_rate", "j")
        .agg(F.min("wmean").alias("mn"))
        .groupBy("bin", "n", "raw_rate")
        .agg(F.max("mn").alias("iso"))
    )
    return iso.select(
        "bin",
        "n",
        F.round("raw_rate", 6).alias("raw_rate"),
        F.round("iso", 6).alias("iso_rate"),
    ).orderBy("bin")


ORACLES["isotonic_calibration"] = """
    WITH bins AS (
        SELECT CAST(LEAST(FLOOR(value / 10.0), 9) AS INT) AS bin,
               COUNT(*) AS n,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS sy
        FROM events GROUP BY 1
    ), intervals AS (
        SELECT j.bin AS j, k.bin AS k,
               SUM(m.sy) * 1.0 / SUM(m.n) AS wmean
        FROM bins j
        JOIN bins k ON j.bin <= k.bin
        JOIN bins m ON m.bin BETWEEN j.bin AND k.bin
        GROUP BY j.bin, k.bin
    ), mins AS (
        SELECT b.bin, b.n, b.sy * 1.0 / b.n AS raw_rate, i.j,
               MIN(i.wmean) AS mn
        FROM bins b JOIN intervals i ON i.j <= b.bin AND i.k >= b.bin
        GROUP BY b.bin, b.n, b.sy, i.j
    )
    SELECT bin, n, ROUND(raw_rate, 6) AS raw_rate,
           ROUND(MAX(mn), 6) AS iso_rate
    FROM mins GROUP BY bin, n, raw_rate ORDER BY bin
"""
QUERIES["isotonic_calibration"] = q_isotonic_calibration


def q_new_vs_returning_weekly(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly new-vs-returning split: per ISO week, events from users
    whose FIRST event falls in that week vs earlier ones — the growth
    dashboard's acquisition/retention decomposition. One per-user MIN
    fold (dimension-sized) broadcasts back onto the weekly aggregate."""
    e = table(spark, sf, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    j = e.join(first, "user_id")
    return (
        j.groupBy("wk")
        .agg(
            F.sum((F.col("wk") == F.col("first_wk")).cast("long")).alias(
                "new_events"
            ),
            F.sum((F.col("wk") != F.col("first_wk")).cast("long")).alias(
                "returning_events"
            ),
        )
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week"),
            "new_events",
            "returning_events",
            F.round(
                F.col("returning_events")
                / (F.col("new_events") + F.col("returning_events")),
                6,
            ).alias("returning_share"),
        )
        .orderBy("week")
    )


ORACLES["new_vs_returning_weekly"] = """
    WITH e AS (
        SELECT user_id, date_trunc('week', ts) AS wk FROM events
    ), first AS (
        SELECT user_id, MIN(wk) AS first_wk FROM e GROUP BY user_id
    )
    SELECT strftime(wk, '%Y-%m-%d') AS week,
           CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS BIGINT)
               AS new_events,
           CAST(SUM(CASE WHEN wk <> first_wk THEN 1 ELSE 0 END) AS BIGINT)
               AS returning_events,
           ROUND(SUM(CASE WHEN wk <> first_wk THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS returning_share
    FROM e JOIN first USING (user_id)
    GROUP BY wk ORDER BY week
"""
QUERIES["new_vs_returning_weekly"] = q_new_vs_returning_weekly


def q_retention_curve_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Retention-curve exponential fit: the week-k retention rates
    r_k = |users active k weeks after their first event| / |users|,
    k = 1..8, fitted with r_k ≈ a·e^(−λk) via the closed-form log-linear
    OLS (the standard churn-decay readout). Per-user first dates fold
    once; offsets re-join on user_id (hash-partitioned both sides);
    the fit runs over the ≤8-row rate table. Integer counts make every
    rate — and so the logs — cross-engine exact."""
    e = table(spark, sf, "events").select("user_id", F.to_date("ts").alias("d"))
    first = e.groupBy("user_id").agg(F.min("d").alias("d0"))
    n_users = first.count()
    offs = (
        e.join(first, "user_id")
        .select(
            "user_id",
            F.floor(F.datediff(F.col("d"), F.col("d0")) / 7).alias("k"),
        )
        .filter((F.col("k") >= 1) & (F.col("k") <= 8))
        .distinct()
    )
    rates = offs.groupBy("k").agg(
        (F.count("*") / F.lit(float(n_users))).alias("r")
    )
    m = rates.filter(F.col("r") > 0).agg(
        F.count("*").alias("np"),
        F.sum("k").alias("sx"),
        F.sum(F.log("r")).alias("sy"),
        F.sum(F.col("k") * F.col("k")).alias("sxx"),
        F.sum(F.col("k") * F.log("r")).alias("sxy"),
    )
    slope = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("np")
    return m.select(
        F.lit(int(n_users)).alias("n_users"),
        F.col("np").cast("long").alias("n_points"),
        # + 0.0 folds IEEE negative zero to +0.0 (cross-engine render)
        (F.round(-slope, 6) + F.lit(0.0)).alias("decay_lambda"),
        F.round(F.exp(intercept), 6).alias("fit_a"),
    )


ORACLES["retention_curve_fit"] = """
    WITH e AS (
        SELECT user_id, CAST(ts AS DATE) AS d FROM events
    ), f AS (
        SELECT user_id, MIN(d) AS d0 FROM e GROUP BY 1
    ), nu AS (SELECT COUNT(*) AS n_users FROM f),
    offs AS (
        SELECT DISTINCT e.user_id,
               CAST(FLOOR(DATEDIFF('day', f.d0, e.d) / 7.0) AS BIGINT) AS k
        FROM e JOIN f USING (user_id)
        WHERE DATEDIFF('day', f.d0, e.d) >= 7
          AND DATEDIFF('day', f.d0, e.d) < 63
    ), rates AS (
        SELECT k, COUNT(*) * 1.0 / (SELECT n_users FROM nu) AS r
        FROM offs GROUP BY k
    ), m AS (
        SELECT COUNT(*) AS np, SUM(k) AS sx, SUM(LN(r)) AS sy,
               SUM(k * k) AS sxx, SUM(k * LN(r)) AS sxy
        FROM rates WHERE r > 0
    )
    SELECT (SELECT CAST(n_users AS INT) FROM nu) AS n_users,
           CAST(np AS BIGINT) AS n_points,
           ROUND(-(np * sxy - sx * sy) / (np * sxx - sx * sx), 6) + 0.0
               AS decay_lambda,
           ROUND(EXP((sy - ((np * sxy - sx * sy)
                            / (np * sxx - sx * sx)) * sx) / np), 6)
               AS fit_a
    FROM m
"""
QUERIES["retention_curve_fit"] = q_retention_curve_fit


def q_page_hinkley_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Page-Hinkley sequential drift statistic over the ordered daily
    revenue series: PH = max_t (cum_t − min_{i≤t} cum_i) with
    cum_t = Σ(x_i − x̄_i), x̄_i the running mean — the classic
    change-detection fold. Daily revenue folds once (decimal-exact money
    sums), then ONE in-plan array fold over the ~2.4k-day series carries
    (n, mean, cum, min_cum, ph); both engines lift elements to the
    state shape and fold textually identical arithmetic, so the doubles
    are bit-identical (the `holt_forecast_revenue` discipline)."""
    o = table(spark, sf, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .cast("double")
        .alias("x")
    )
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("xs")
    )
    fold = F.expr(
        """
        aggregate(
            slice(xs, 2, size(xs) - 1),
            array(1.0D, xs[0].x, 0.0D, 0.0D, 0.0D),
            (acc, e) -> array(
                acc[0] + 1.0D,
                acc[1] + (e.x - acc[1]) / (acc[0] + 1.0D),
                acc[2] + (e.x - (acc[1] + (e.x - acc[1]) / (acc[0] + 1.0D))),
                least(acc[3],
                      acc[2] + (e.x - (acc[1] + (e.x - acc[1]) / (acc[0] + 1.0D)))),
                greatest(acc[4],
                         acc[2] + (e.x - (acc[1] + (e.x - acc[1]) / (acc[0] + 1.0D)))
                         - least(acc[3],
                                 acc[2] + (e.x - (acc[1] + (e.x - acc[1]) / (acc[0] + 1.0D)))))
            )
        )
        """
    )
    return arr.select(
        F.size("xs").alias("n_days"),
        F.round(fold.getItem(4), 4).alias("ph_stat"),
        F.round(fold.getItem(2), 4).alias("final_cum"),
    )


ORACLES["page_hinkley_drift"] = """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS x
        FROM orders GROUP BY 1
    ), arr AS (
        SELECT list(x ORDER BY d) AS xs FROM arr_src
    ), arr_src AS (SELECT d, x FROM daily),
    fold AS (
        SELECT len(xs) AS n_days,
               list_reduce(
                   list_transform(xs, x -> [1.0, CAST(x AS DOUBLE),
                                            0.0, 0.0, 0.0]),
                   (acc, e) -> [
                       acc[1] + 1.0,
                       acc[2] + (e[2] - acc[2]) / (acc[1] + 1.0),
                       acc[3] + (e[2] - (acc[2] + (e[2] - acc[2]) / (acc[1] + 1.0))),
                       LEAST(acc[4],
                             acc[3] + (e[2] - (acc[2] + (e[2] - acc[2]) / (acc[1] + 1.0)))),
                       GREATEST(acc[5],
                                acc[3] + (e[2] - (acc[2] + (e[2] - acc[2]) / (acc[1] + 1.0)))
                                - LEAST(acc[4],
                                        acc[3] + (e[2] - (acc[2] + (e[2] - acc[2]) / (acc[1] + 1.0)))))
                   ]
               ) AS st
        FROM arr
    )
    SELECT n_days, ROUND(st[5], 4) AS ph_stat, ROUND(st[3], 4) AS final_cum
    FROM fold
"""
QUERIES["page_hinkley_drift"] = q_page_hinkley_drift
