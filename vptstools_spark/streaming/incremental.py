"""Structured-Streaming incrementality — the streaming form of the
reference's cron-batch semantics (SURVEY §2.8).

Reference behavior to preserve:
- trigger: repeated scheduled runs → `Trigger.AvailableNow` (process all new
  files, then stop — a cron-launched streaming batch);
- change detection: new files under the watched path (the file source tracks
  processed files in the checkpoint, replacing the reference's
  inventory-`modified` lookback);
- late data: a file landing days late still recomputes its whole radar-day →
  `foreachBatch` + dynamic partition overwrite of the affected days
  (idempotent, watermark-free);
- windowed aggregation over event streams uses real watermarks (engine
  extension beyond the reference).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vptstools_spark.schemas import profile_long_schema


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """True iff `path` exists on whatever Hadoop filesystem backs it
    (local, HDFS, s3a, ...). Distinguishes "table not created yet" from
    transient read failures, which must propagate."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def stream_profiles(
    spark: SparkSession,
    input_path: str,
    schema=None,
) -> DataFrame:
    """File-source stream of decoded profile rows (parquet landing zone).

    At 100 TB the landing zone is object storage; `maxFilesPerTrigger` bounds
    per-batch work, and the checkpoint is the change-detection state the
    reference derives from S3 inventories."""
    return (
        spark.readStream.schema(schema or profile_long_schema())
        .option("maxFilesPerTrigger", 1000)
        .parquet(input_path)
    )


def incremental_vpts_sink(
    profiles_stream: DataFrame,
    output_path: str,
    checkpoint: str,
    vpts_csv_version: str = "v1.0",
) -> StreamingQuery:
    """availableNow → foreachBatch → whole-partition overwrite of affected
    radar-days. Exactly-once by idempotence: re-processing a batch rewrites
    the same day partitions with the same content."""
    from vptstools_spark.operators.vpts import to_vpts_table

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        table = to_vpts_table(batch_df, vpts_csv_version)
        out = table.withColumn("p_radar", F.col("radar")).withColumn(
            "p_date", F.regexp_replace(F.substring("datetime", 1, 10), "-", "")
        )
        (
            out.repartition("p_radar", "p_date")
            # partition cols lead the sort: the partitioned-file writer
            # re-sorts by them alone otherwise, destroying the data order
            .sortWithinPartitions(
                "p_radar", "p_date", "radar", "datetime",
                F.col("height").cast("int"), "source_file",
            )
            .write.mode("overwrite")
            .partitionBy("p_radar", "p_date")
            .option("header", "true")
            # same tri-state text rendering as the batch daily job — the
            # two paths must produce byte-identical artifacts
            .option("emptyValue", "")
            .option("nullValue", "")
            .csv(output_path)
        )

    return (
        profiles_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream — the
    engine's late-data-tolerant extension of the reference's calendar
    partitions (SURVEY §2.5): events later than the watermark are dropped
    from state; everything else lands in its window exactly once."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stateful(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator: per-user session aggregation with an
    inactivity-gap close, via ``applyInPandasWithState`` (engine extension —
    the reference has no stateful operators, SURVEY §2.8).

    State per user: (session_start, session_end, n_events, total_value) as
    epoch-millis/longs — kept primitive so state (de)serialization stays
    trivially Arrow-compatible. A session closes when the event-time
    watermark passes last_event + gap (EventTimeTimeout); the closed session
    is emitted exactly once, in append mode.

    Scale: state is hash-partitioned by user_id across executors; per-key
    state is O(1) (four scalars), so state size grows with *active* keys
    only, and the watermark bounds how long an idle key can occupy state.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_ms", LongType()),
            StructField("end_ms", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    gap_ms = gap_seconds * 1000

    def emit(user_id, sessions):
        return pd.DataFrame(
            {
                "user_id": [user_id] * len(sessions),
                "session_start": [pd.Timestamp(s[0], unit="ms") for s in sessions],
                "session_end": [pd.Timestamp(s[1], unit="ms") for s in sessions],
                "n_events": [s[2] for s in sessions],
                "total_value": [s[3] for s in sessions],
            }
        )

    def fn(key, pdfs, state):
        (user_id,) = key
        if state.hasTimedOut:
            closed = tuple(state.get)
            state.remove()
            yield emit(user_id, [closed])
            return
        # gather this batch's events for the key, time-ordered
        frames = [pdf for pdf in pdfs if len(pdf)]
        closed: list[tuple] = []
        cur = tuple(state.get) if state.exists else None
        if frames:
            batch = pd.concat(frames)
            # normalize to ns first — pandas 2 may hand us datetime64[us]
            ts_ms = (
                batch["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000
            ).to_numpy()
            order = ts_ms.argsort(kind="stable")
            vals = batch["value"].to_numpy()
            for i in order:
                t, v = int(ts_ms[i]), float(vals[i])
                if cur is None:
                    cur = (t, t, 1, v)
                elif t - cur[1] > gap_ms:
                    closed.append(cur)  # gap elapsed → previous session is over
                    cur = (t, t, 1, v)
                else:
                    cur = (min(cur[0], t), max(cur[1], t), cur[2] + 1, cur[3] + v)
        if cur is not None:
            state.update(cur)
            state.setTimeoutTimestamp(cur[1] + gap_ms)
        yield emit(user_id, closed)

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def event_type_topk_stateful(
    events_stream: DataFrame,
    k: int = 3,
    counts_ttl_ms: int | None = None,
) -> DataFrame:
    """Per-user running top-k event-type frequencies via
    ``transformWithStateInPandas`` — the Spark 4 arbitrary-stateful API
    (typed state primitives + optional TTL), complementing the
    ``applyInPandasWithState`` sessionizer above (engine extension,
    SURVEY §2.8; the reference has no stateful operators).

    State per user is a ``MapState(event_type -> count)`` — the runtime
    stores each map entry as its own state-store key, so point updates
    touch only the changed entries (unlike the value-state blob a
    pandas-with-state version would rewrite per batch). After folding a
    batch's delta counts in, the operator emits the key's current top-k
    (count desc, name asc — deterministic) in update mode.

    Scale: state is hash-partitioned by user_id; per-key state is bounded
    by the event-type vocabulary, and `counts_ttl_ms` (TTL, a
    transformWithState-only feature) expires stale entries for keys that
    go quiet. Requires the RocksDB state store provider
    (`spark.sql.streaming.stateStore.providerClass`) and `google.protobuf`
    at runtime (the TWS state-server wire protocol; absent in this
    container, so execution is exercised only where protobuf exists —
    plan construction and schema are tested everywhere).
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = "user_id long, event_type string, n long, rank int"

    class TopKProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.counts = handle.getMapState(
                "counts", "event_type string", "n long", counts_ttl_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            (user_id,) = key
            delta: dict[str, int] = {}
            for pdf in rows:
                for et, c in pdf.groupby("event_type").size().items():
                    delta[et] = delta.get(et, 0) + int(c)
            for et, c in delta.items():
                prev = (
                    self.counts.getValue((et,))[0]
                    if self.counts.containsKey((et,))
                    else 0
                )
                self.counts.updateValue((et,), (prev + c,))
            top = sorted(
                ((kk[0], vv[0]) for kk, vv in self.counts.iterator()),
                key=lambda p: (-p[1], p[0]),
            )[:k]
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(top),
                    "event_type": [p[0] for p in top],
                    "n": [p[1] for p in top],
                    "rank": list(range(1, len(top) + 1)),
                }
            )

        def close(self) -> None:
            pass

    # Spark only honors state TTL under ProcessingTime time mode — with
    # timeMode="None" a non-None TTL raises at runtime, so switch modes
    # exactly when a TTL is requested
    return events_stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TopKProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="ProcessingTime" if counts_ttl_ms is not None else "None",
    )


def dedup_stream(
    events_stream: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming ingest deduplication with bounded state:
    `dropDuplicatesWithinWatermark` keeps one row per key and evicts key
    state once the watermark passes its event time — the streaming form of
    the transfer service's already-uploaded anti-join (SURVEY §2.8 "dedup on
    ingest"). State is hash-partitioned by key; size tracks keys *inside the
    watermark horizon*, not history."""
    return events_stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def enrich_stream(events_stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static broadcast join: each micro-batch joins against the
    (re-resolved) static dimension — dimension updates between triggers are
    picked up, and the static side never holds streaming state. The explicit
    broadcast keeps the fact stream shuffle-free at any scale."""
    return events_stream.join(F.broadcast(dim), on, "left")


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time interval:
    right.ts in [left.ts, left.ts + max_delay]. Watermarks on BOTH inputs
    plus the interval condition let the engine evict join state — without
    the time bound, each side would buffer forever. Equi-key + range is the
    canonical click→conversion attribution shape."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, "inner")


def incremental_rollup_sink(
    events_stream: DataFrame,
    output_path: str,
    checkpoint: str,
    ts_col: str = "ts",
) -> StreamingQuery:
    """Incrementally-maintained aggregate table (materialized-view pattern):
    per (day, event_type) counts/sums kept in a day-partitioned parquet.

    Each availableNow micro-batch re-aggregates ONLY the days present in the
    batch and dynamic-partition-overwrites those day partitions with
    previous-contents + delta (read-modify-write at day granularity). A
    merge is NOT naturally idempotent — replaying a batch would
    double-count — so every written row carries the writing batch_id and a
    replay skips days whose stored batch_id already reached it (the
    standard foreachBatch exactly-once recipe). Late events only touch
    their own day — recompute granularity is one partition, never the table.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        delta = (
            batch_df.withColumn("p_day", F.to_date(F.col(ts_col)))
            .groupBy("p_day", "event_type")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        )
        days = [r["p_day"] for r in delta.select("p_day").distinct().collect()]
        # Existence is checked explicitly (Hadoop FS, so it works on any
        # supported store) instead of catching a broad exception from the
        # read: a transient listing/permission/corruption error must FAIL the
        # batch, not masquerade as "first batch" and silently overwrite the
        # touched day partitions with delta-only aggregates.
        if _hadoop_path_exists(spark, output_path):
            prev = spark.read.parquet(output_path).filter(F.col("p_day").isin(days))
            applied = {
                r["p_day"]: r["bid"]
                for r in prev.groupBy("p_day").agg(F.max("_batch_id").alias("bid")).collect()
            }
        else:  # first batch: no table yet
            prev, applied = None, {}
        todo = [d for d in days if applied.get(d, -1) < batch_id]
        if not todo:
            return  # full replay of an already-applied batch
        delta = delta.filter(F.col("p_day").isin(todo))
        if prev is not None:
            merged = (
                prev.filter(F.col("p_day").isin(todo))
                .drop("_batch_id")
                .unionByName(delta)
                .groupBy("p_day", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_value").alias("total_value"),
                )
            )
        else:
            merged = delta
        # Materialize the merge BEFORE the overwrite: `merged` reads the same
        # path it is about to rewrite. Rename-based committers make that safe
        # on local/HDFS, but direct-commit object-store committers can start
        # replacing files while the read is still listing them —
        # localCheckpoint severs the read-modify-write cycle either way.
        merged = merged.withColumn("_batch_id", F.lit(batch_id)).localCheckpoint(
            eager=True
        )
        (
            merged.repartition("p_day")
            .write.mode("overwrite")
            .partitionBy("p_day")
            .parquet(output_path)
        )

    return (
        events_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_merge_sink(
    cdc_stream: DataFrame,
    target_path: str,
    keys: list[str],
    partition_cols: list[str],
    checkpoint: str,
    delete_col: str | None = None,
) -> StreamingQuery:
    """Streaming CDC apply: each micro-batch of change rows (upserts +
    optional tombstones) is merged into the partitioned parquet target via
    `operators/merge.py:merge_upsert` — the streaming form of keyed MERGE,
    composing the engine's two incremental primitives.

    Exactly-once by idempotence: re-applying a replayed batch rewrites the
    same partitions with the same content (merge is deterministic in the
    batch), matching the availableNow/foreachBatch discipline of
    `incremental_vpts_sink`. Cost per batch scales with the partitions the
    batch touches, not the table."""
    from vptstools_spark.operators.merge import merge_upsert

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(
            batch_df.sparkSession,
            target_path,
            batch_df,
            keys=keys,
            partition_cols=partition_cols,
            delete_col=delete_col,
        )

    return (
        cdc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dq_gated_sink(
    stream: DataFrame,
    checks: list,
    output_path: str,
    quarantine_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Admission-controlled streaming ingest: every micro-batch must pass a
    data-quality constraint suite (`operators/quality.py`) before it reaches
    the main table; failing batches are diverted whole to a quarantine
    table, with their (check, metric, passed) verdict rows alongside, so an
    operator can inspect, repair, and replay them.

    The suite costs one aggregate pass per batch (suite-sized driver
    verdict, never batch data). Batches are written under a `b_id=<n>`
    partition, which doubles as the replay guard: a foreachBatch retry of an
    already-committed batch sees its partition directory and skips — the
    same exactly-once recipe as `incremental_rollup_sink`, but append-only
    so the guard is a directory-existence check, not a read-modify-write.
    (The partition column is deliberately NOT underscore-prefixed:
    `_`-prefixed directories are invisible to Spark's file listing.)
    """
    from vptstools_spark.operators import quality as _quality

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # the batch feeds both the suite aggregate and the write — sever the
        # double-execution (a source re-read could even see different files)
        batch_df = batch_df.localCheckpoint(eager=True)
        verdict = _quality.run_suite(batch_df, checks)
        verdict_rows = verdict.collect()  # suite-sized, driver-safe
        admitted = all(r["passed"] for r in verdict_rows)
        dest = output_path if admitted else quarantine_path
        if _hadoop_path_exists(spark, f"{dest}/b_id={batch_id}"):
            return  # replay of a committed batch
        if not admitted:
            (
                verdict.withColumn("b_id", F.lit(batch_id))
                .coalesce(1)
                .write.mode("append")
                .partitionBy("b_id")
                .parquet(f"{quarantine_path}_verdicts")
            )
        (
            batch_df.withColumn("b_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("b_id")
            .parquet(dest)
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def hll_distinct_sink(
    stream: DataFrame,
    key_col: str,
    group_cols: list[str],
    state_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Streaming distinct-count dashboard: maintain per-group HyperLogLog
    registers (`operators/sketch.py`) in a parquet state table, merged
    batch-by-batch.

    The state is ≤ |groups|·256 rows FOREVER — a streaming COUNT(DISTINCT)
    without storing keys, which is the only shape that survives unbounded
    cardinality (exact streaming distinct state grows with the key space).
    Merge = bucket-max (`hll_merge`), which is associative + idempotent at
    the *register* level; batch replay protection still comes from the
    stored per-group `_batch_id` high-water mark because a retried batch
    must not re-raise registers that a concurrent estimate already read as
    part of a newer merge. Estimates are read on demand with
    `sketch.hll_estimate(spark.read.parquet(state_path), group_cols)`.
    """
    from vptstools_spark.operators import sketch as _sketch

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        delta = _sketch.hll_registers(
            batch_df, F.col(key_col), group_cols
        ).withColumn("_batch_id", F.lit(batch_id))
        if _hadoop_path_exists(spark, state_path):
            prev = spark.read.parquet(state_path)
            applied = prev.agg(F.max("_batch_id").alias("b")).collect()[0]["b"]
            if applied is not None and applied >= batch_id:
                return  # replay of a merged batch
            merged = _sketch.hll_merge(
                prev.drop("_batch_id").unionByName(delta.drop("_batch_id")),
                group_cols,
            ).withColumn("_batch_id", F.lit(batch_id))
        else:
            merged = delta
        # state reads the path it overwrites — sever before the write
        merged = merged.localCheckpoint(eager=True)
        merged.coalesce(1).write.mode("overwrite").parquet(state_path)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cm_heavy_hitter_sink(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    checkpoint: str,
    depth: int = 3,
    width: int = 128,
) -> StreamingQuery:
    """Streaming heavy-hitter tracking with bounded state: maintain a
    Count-Min sketch (d×w counters) in a parquet state table, summed
    batch-by-batch — counter addition is associative, the same property
    that lets `hll_distinct_sink` merge registers. State never exceeds
    d·w rows no matter how many distinct keys stream through; estimates
    for candidate keys are read on demand with
    `sketch.cm_estimate(spark.read.parquet(state_path), candidates, key)`.
    Replay protection: per-state `_batch_id` high-water mark (a re-summed
    batch would double-count — addition is associative but not
    idempotent, unlike HLL's max)."""
    from vptstools_spark.operators import sketch as _sketch

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        delta = _sketch.cm_sketch(batch_df, F.col(key_col), depth, width)
        if _hadoop_path_exists(spark, state_path):
            prev = spark.read.parquet(state_path)
            applied = prev.agg(F.max("_batch_id").alias("b")).collect()[0]["b"]
            if applied is not None and applied >= batch_id:
                return  # replay: summing again would double-count
            merged = (
                prev.drop("_batch_id")
                .unionByName(delta)
                .groupBy("__row", "__bucket")
                .agg(F.sum("__cnt").alias("__cnt"))
            )
        else:
            merged = delta
        merged = merged.withColumn("_batch_id", F.lit(batch_id)).localCheckpoint(
            eager=True
        )
        merged.coalesce(1).write.mode("overwrite").parquet(state_path)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def drift_monitor_sink(
    stream: DataFrame,
    value_col: str,
    baseline: DataFrame,
    log_path: str,
    checkpoint: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> StreamingQuery:
    """Streaming drift monitor: score every micro-batch's distribution of
    `value_col` against a frozen baseline sample and append the total PSI
    (+ the worst bin) to a log table — the streaming face of
    `operators/drift.py`, completing the monitoring trio next to the DQ
    gate (well-formedness) and the sketch sinks (cardinality/frequency).

    The baseline histogram is computed ONCE at sink construction and
    carried as a plain local list (|bins| fractions — model-sized); each
    batch pays one conditional-aggregate pass. Idempotent replay via the
    b_id partition, like `dq_gated_sink`."""
    from vptstools_spark.operators.drift import PSI_EPS, histogram_fractions

    base_rows = sorted(
        histogram_fractions(baseline, F.col(value_col), lo, hi, n_bins).collect(),
        key=lambda r: r["bin"],
    )
    base_fracs = [max(r["frac"] or 0.0, PSI_EPS) for r in base_rows]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _hadoop_path_exists(spark, f"{log_path}/b_id={batch_id}"):
            return
        cur = sorted(
            histogram_fractions(
                batch_df, F.col(value_col), lo, hi, n_bins
            ).collect(),
            key=lambda r: r["bin"],
        )
        import math

        cur_fracs = [max(c["frac"] or 0.0, PSI_EPS) for c in cur]
        terms = [
            (p - q) * math.log(p / q) for p, q in zip(base_fracs, cur_fracs)
        ]
        # bounded companion score (∈ [0, ln 2], see operators/drift.py:
        # js_divergence): one fixed alert threshold works across features,
        # where PSI's unbounded terms need per-feature tuning
        js = sum(
            (p * math.log(2 * p / (p + q)) + q * math.log(2 * q / (p + q))) / 2
            for p, q in zip(base_fracs, cur_fracs)
        )
        worst = max(range(n_bins), key=lambda i: terms[i])
        row = spark.createDataFrame(
            [(float(sum(terms)), float(js), int(worst), float(terms[worst]))],
            "psi double, js double, worst_bin int, worst_term double",
        ).withColumn("b_id", F.lit(batch_id))
        row.coalesce(1).write.mode("append").partitionBy("b_id").parquet(log_path)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def matview_stream_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    mv,
) -> StreamingQuery:
    """Streaming maintenance of ANY `plans/matview.py` MatViewDef — the
    generalization of `incremental_rollup_sink` from its hardcoded
    (day, event_type) counts to an arbitrary aggregate MV: each
    availableNow micro-batch aggregates itself with the MV's definition,
    merges into the stored summary with the MV's own re-aggregation
    algebra (sum/count→Σ, min→min, max→max — the same algebra the batch
    query router uses, so stream-maintained and batch-built MVs are
    interchangeable by construction), and dynamic-partition-overwrites
    only the touched partitions of `mv.partition_dim`.

    Merge is not idempotent for sums, so every row carries the writing
    `_batch_id` and a replayed batch skips partitions whose stored id
    already reached it (the foreachBatch exactly-once recipe shared with
    `incremental_rollup_sink`). Requires a partitioned MatViewDef —
    without a partition dim there is no replace unit smaller than the MV.
    """
    from vptstools_spark.plans.matview import _REAGG, _aggregate

    if not mv.partition_dim:
        raise ValueError(f"MV {mv.name} needs partition_dim for streaming")
    pdim = mv.partition_dim
    data_path = f"{path}/data"
    merge_exprs = [
        _REAGG[m.fn](F.col(name)).alias(name) for name, m in mv.measures.items()
    ]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        delta = _aggregate(batch_df, mv)
        parts = [r[pdim] for r in delta.select(pdim).distinct().collect()]
        from vptstools_spark.operators.merge import scope_to_partitions

        if _hadoop_path_exists(spark, data_path):
            # bounded-worklist filter (literals ≤128 parts, semi-join above)
            prev = scope_to_partitions(
                spark.read.parquet(data_path), [pdim], [(p,) for p in parts]
            )
            applied = {
                r[pdim]: r["bid"]
                for r in prev.groupBy(pdim).agg(F.max("_batch_id").alias("bid")).collect()
            }
        else:
            prev, applied = None, {}
        todo = [p for p in parts if applied.get(p, -1) < batch_id]
        if not todo:
            return
        delta = scope_to_partitions(delta, [pdim], [(p,) for p in todo])
        if prev is not None:
            merged = (
                scope_to_partitions(prev, [pdim], [(p,) for p in todo])
                .drop("_batch_id")
                .unionByName(delta)
                .groupBy(*mv.dims)
                .agg(*merge_exprs)
            )
        else:
            merged = delta
        merged = merged.withColumn("_batch_id", F.lit(batch_id)).localCheckpoint(
            eager=True
        )
        (
            merged.repartition(pdim)
            .write.mode("overwrite")
            .partitionBy(pdim)
            .parquet(data_path)
        )

    # write the definition sidecar so read_matview/answer_from_mv serve
    # the stream-maintained MV exactly like a batch-built one (Hadoop FS —
    # works on any scheme, and creates parent dirs itself)
    from vptstools_spark.io import write_text_sidecar

    write_text_sidecar(stream.sparkSession, f"{path}/_matview.json", mv.to_json())

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def timetravel_stream_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    partition_cols: list[str] | None = None,
    delete_col: str | None = None,
    mor: bool = False,
    mode: str | None = None,
) -> StreamingQuery:
    """Stream into a VERSIONED table (`plans/timetravel.py`): each
    availableNow micro-batch becomes one commit — version 0 is the first
    batch's snapshot, every later batch a partition-scoped copy-on-write
    upsert (tombstones via `delete_col`). With `mor=True` later batches
    commit through `commit_upsert_mor` instead: position-delete vectors
    for replaced keys plus appended files in ONE atomic commit, so a CDC
    stream whose keys scatter across many partitions never rewrites
    them — run `purge_deletes` periodically (e.g. from optimize_table)
    to fold the vectors away. The result is a table whose
    history IS the stream: any point between batches is pinnable with
    `read_version`, diffable with `diff_versions`, and rollback-able with
    `restore_version` — the CDC audit trail `cdc_merge_sink` discards.

    Exactly-once: upserts are NOT idempotent, so each commit records the
    writing `_batch_id`; a replayed batch (checkpoint rollback after a
    crash between commit and offset write) sees the latest commit already
    carries its id and skips — the same foreachBatch replay guard as
    `matview_stream_sink`, moved into the commit log itself. Commit
    publish is atomic create-exclusive, so a replay racing a live writer
    still yields exactly one version per number.

    `mode` picks the per-batch commit explicitly: "cow" (default,
    partition-scoped rewrite), "mor" (position vectors — one snapshot
    pass per batch to locate replaced rows), or "eq" (equality-delete
    entries via `commit_upsert_eq` — the ZERO-SCAN CDC ingestion: each
    batch's write cost is the batch alone, keys resolve at read, and
    `purge_deletes` pays the scan once instead of per batch; schedule it
    by entry count). The `mor` bool stays as the pre-round-6 spelling of
    mode="mor"."""
    from vptstools_spark.plans.timetravel import (
        _list_versions,
        _read_commit,
        commit_initial,
        commit_upsert,
        commit_upsert_eq,
        commit_upsert_mor,
    )

    mode = mode or ("mor" if mor else "cow")
    commits = {
        "cow": commit_upsert,
        "mor": commit_upsert_mor,
        "eq": commit_upsert_eq,
    }
    if mode not in commits:
        raise ValueError(f"mode must be one of {sorted(commits)}; got {mode!r}")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        versions = _list_versions(spark, path)
        if not versions:
            upserts = (
                batch_df.filter(~F.col(delete_col)).drop(delete_col)
                if delete_col
                else batch_df
            )
            commit_initial(
                upserts, path, partition_cols, extra={"batch_id": batch_id}
            )
            return
        last = _read_commit(spark, path, versions[-1])
        if last.get("batch_id") is not None and batch_id <= last["batch_id"]:
            return  # replayed batch: its commit already exists
        commits[mode](
            spark,
            path,
            batch_df,
            keys=keys,
            delete_col=delete_col,
            extra={"batch_id": batch_id},
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def catalog_publish_stream_sink(
    stream: DataFrame,
    cat: str,
    fact_path: str,
    checkpoint: str,
    keys: list[str],
    derived: dict[str, "tuple[str, object]"] | None = None,
    fact_name: str = "fact",
    partition_cols: list[str] | None = None,
    mor: bool = False,
) -> StreamingQuery:
    """Exactly-once MULTI-TABLE publish from a stream: each availableNow
    micro-batch (1) commits the batch into the versioned FACT table
    (initial → then upsert, `mor=True` for merge-on-read commits), (2)
    recomputes each DERIVED table from the new fact snapshot and commits
    it via `commit_overwrite`, and (3) swaps ALL the new versions into
    the cross-table catalog with ONE atomic `catalog_commit` — so a
    reader resolving through the catalog never sees the fact without its
    rollups (`plans/catalog.py`'s write-then-swap, driven by a stream).

    `derived` maps table name → (table_path, derive_fn) where
    `derive_fn(fact_snapshot_df) -> DataFrame` is the full recompute;
    at scale, swap the recompute for an incremental refresh
    (plans/matview.py) — the publish protocol is unchanged.

    Exactly-once across THREE commit levels, with a PER-TABLE replay
    guard: every table commit (fact AND each derived) records the
    `batch_id`, and a replayed batch independently skips only the
    commits it finds already done — a crash after the fact commit but
    before a derived commit replays into "fact already there, recompute
    the lagging derived tables from this batch's fact snapshot, then
    swap". Guarding on the fact alone would skip the derived recomputes
    on such a replay and then pin the NEW fact with STALE rollups in one
    catalog commit — exactly the inconsistency this sink promises
    readers never see. After the table commits converge, the catalog
    REPAIR publishes the missing swap (or no-ops if the pin set already
    matches). Every publish is atomic create-exclusive, so replays
    racing a live writer still produce exactly one commit per version."""
    from vptstools_spark.plans.catalog import (
        catalog_commit,
        catalog_init,
        catalog_pins,
    )
    from vptstools_spark.plans.timetravel import (
        _list_versions,
        _read_commit,
        commit_initial,
        commit_overwrite,
        commit_upsert,
        commit_upsert_mor,
        read_version,
    )

    derived = derived or {}

    def _done_for_batch(spark: SparkSession, path: str, batch_id: int) -> bool:
        """True iff the table's LATEST commit already covers batch_id."""
        versions = _list_versions(spark, path)
        if not versions:
            return False
        last = _read_commit(spark, path, versions[-1])
        return last.get("batch_id") is not None and batch_id <= last["batch_id"]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if not _done_for_batch(spark, fact_path, batch_id):
            if not _list_versions(spark, fact_path):
                commit_initial(
                    batch_df, fact_path, partition_cols,
                    extra={"batch_id": batch_id},
                )
            else:
                commit = commit_upsert_mor if mor else commit_upsert
                commit(
                    spark, fact_path, batch_df, keys=keys,
                    extra={"batch_id": batch_id},
                )
        # Per-table guard: on replay, recompute any derived table whose
        # latest commit lags this batch — from THIS batch's fact
        # snapshot (the fact head, which the guard above just ensured).
        snapshot = None
        for _name, (dpath, derive) in derived.items():
            if _done_for_batch(spark, dpath, batch_id):
                continue
            if snapshot is None:
                snapshot = read_version(spark, fact_path)
            out = derive(snapshot)
            if _list_versions(spark, dpath):
                commit_overwrite(
                    spark, dpath, out, extra={"batch_id": batch_id}
                )
            else:
                commit_initial(out, dpath, extra={"batch_id": batch_id})
        # catalog repair/swap: desired pins = every table's latest version
        desired = {fact_name: (fact_path, _list_versions(spark, fact_path)[-1])}
        for name, (dpath, _derive) in derived.items():
            desired[name] = (dpath, _list_versions(spark, dpath)[-1])
        if not _catalog_exists(spark, cat):
            catalog_init(spark, cat, desired)
        else:
            pins = catalog_pins(spark, cat)
            updates = {
                n: v
                for n, (_p, v) in desired.items()
                if n in pins and pins[n][1] != v
            }
            new_tables = set(desired) - set(pins)
            if new_tables:
                raise ValueError(
                    f"catalog {cat} is missing tables {sorted(new_tables)}; "
                    "register them before streaming into the catalog"
                )
            if updates:
                catalog_commit(spark, cat, updates)

    def _catalog_exists(spark: SparkSession, c: str) -> bool:
        from vptstools_spark.plans.catalog import _cat_versions

        return bool(_cat_versions(spark, c))

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def derived_table_pipeline(
    spark,
    source_path: str,
    target_path: str,
    checkpoint: str,
    keys: list[str],
    transform=None,
    partition_cols: list[str] | None = None,
    mor: bool = True,
) -> StreamingQuery:
    """Packaged medallion hop: maintain a keyed DERIVED versioned table
    from another versioned table's CHANGE FEED — readStream over the
    `table_changes` source (`sources/table_changes_source.py`), one
    commit per micro-batch into the target, exactly-once end to end
    (source offsets are commit versions in the checkpoint; target
    commits carry the batch-id replay guard). This is the bronze→silver
    shape: the source churns via MOR commits, the pipeline advances the
    target at O(changed data) — no re-join, no source rescan.

    Per batch, the LAST event per key wins (a MOR upsert emits its
    delete+insert pair in one commit version; ties break insert-last):
    final inserts become upserts — run through `transform` (an optional
    row-wise DataFrame→DataFrame mapping that must PRESERVE the key
    columns; this is where the silver table's cleansing/projection
    lives) — and final deletes become tombstones, so a row deleted at
    the source disappears from the target. `mor=True` (default) commits
    through position-delete vectors; the target is itself a versioned
    table with the full maintenance surface (compact / purge / stats /
    its own CDF for the next hop).

    Registration of the source format is handled here; repeated calls
    with the same checkpoint resume where the last run stopped."""
    from vptstools_spark.plans.timetravel import (
        _list_versions,
        _read_commit,
        commit_initial,
        commit_upsert,
        commit_upsert_mor,
    )
    from vptstools_spark.sources.table_changes_source import (
        TableChangesDataSource,
    )

    try:
        spark.dataSource.register(TableChangesDataSource)
    except Exception:
        pass  # already registered in this session

    feed_cols = ["_change_type", "_commit_version"]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # last event per key: later commit version wins; within one
        # version the insert of a delete+insert (MOR upsert) pair wins
        pick = F.struct(
            F.col("_commit_version"),
            (F.col("_change_type") == "insert").cast("int").alias("_i"),
        )
        last = (
            batch_df.groupBy(*keys)
            .agg(F.max_by(F.struct("*"), pick).alias("_s"))
            .select("_s.*")
        )
        ups = last.filter(F.col("_change_type") == "insert").drop(*feed_cols)
        dels = last.filter(F.col("_change_type") == "delete").select(*keys)
        t_ups = transform(ups) if transform else ups
        missing = set(keys) - set(t_ups.columns)
        if missing:
            raise ValueError(
                f"transform dropped key columns {sorted(missing)}; the "
                "derived table is keyed — project them through"
            )
        versions = _list_versions(spark, target_path)
        if not versions:
            commit_initial(
                t_ups, target_path, partition_cols, extra={"batch_id": batch_id}
            )
            return
        lastc = _read_commit(spark, target_path, versions[-1])
        if lastc.get("batch_id") is not None and batch_id <= lastc["batch_id"]:
            return  # replayed batch: its commit already exists
        # tombstones carry typed NULLs for non-key columns (an upsert
        # replaces whole rows, so only the key matters on a delete)
        non_key = [f for f in t_ups.schema.fields if f.name not in keys]
        dels_full = dels.select(
            *keys, *[F.lit(None).cast(f.dataType).alias(f.name) for f in non_key]
        ).select(*t_ups.columns)
        delta = t_ups.withColumn("_is_delete", F.lit(False)).unionByName(
            dels_full.withColumn("_is_delete", F.lit(True))
        )
        commit_upsert_mor(
            spark,
            target_path,
            delta,
            keys=keys,
            delete_col="_is_delete",
            extra={"batch_id": batch_id},
        )

    return (
        spark.readStream.format("table_changes")
        .load(source_path)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _read_latest_cum(
    spark: SparkSession, log_path: str, fields: list[str]
):
    """Latest cumulative row of a monitor log in O(1) point reads: the
    `_latest` sidecar names the newest b_id and carries the cumulative
    sums; probe FORWARD over `b_id=` partition dirs to heal a stale hint
    (a crash between the parquet append and the hint write), reading at
    most the one newer partition directly. NOTE the probe alone cannot
    heal a stale hint across a b_id GAP (empty micro-batches write no
    partition, so b_ids are not contiguous); freshness is instead a
    write-side invariant — `_write_latest_hint` is a required write and
    the sinks' replay guards call `_refresh_hint_from_log` — making the
    one-step probe a legacy heal for logs written before that contract.
    Falls back to the full
    partition listing only when no usable hint exists (pre-hint logs) —
    the same hint-plus-probe recipe as `plans/timetravel.py`'s
    `_resolve_latest_fast` (VERDICT r7 #6: the per-batch cumulative read
    must not list all prior batch partitions)."""
    import json as _json

    from pyspark.errors.exceptions.captured import AnalysisException

    from vptstools_spark.io import read_text_sidecar

    hint = None
    try:
        hint = _json.loads(
            read_text_sidecar(spark, f"{log_path}/_latest")
        )
    except Exception:
        hint = None
    if hint is not None and all(f in hint for f in ["b_id", *fields]):
        v = int(hint["b_id"])
        if _hadoop_path_exists(spark, f"{log_path}/b_id={v}"):
            newest = v
            while _hadoop_path_exists(spark, f"{log_path}/b_id={newest + 1}"):
                newest += 1
            if newest == v:
                return [hint[f] for f in fields]
            # stale hint: one single-partition read, still O(1)
            row = (
                spark.read.parquet(f"{log_path}/b_id={newest}")
                .limit(1)
                .collect()
            )
            if row:
                return [row[0][f] for f in fields]
    if not _hadoop_path_exists(spark, log_path):
        return None
    try:
        prev = (
            spark.read.parquet(log_path)
            .orderBy(F.col("b_id").desc())
            .limit(1)
            .collect()
        )
    except AnalysisException:
        # sidecars (`_statistic`) can create the log dir before the
        # first parquet partition lands: an unreadable-as-parquet dir
        # at this point means "no batches yet", not a failure
        return None
    return [prev[0][f] for f in fields] if prev else None


def _write_latest_hint(
    spark: SparkSession, log_path: str, batch_id: int, **fields
) -> None:
    """REQUIRED write (raises on failure). The monitor sinks' freshness
    invariant is `hint b_id >= newest partition b_id at every batch
    commit`: empty micro-batches write no partition, so b_ids in the log
    are NOT contiguous and `_read_latest_cum`'s one-step forward probe
    cannot heal an arbitrarily-stale hint across a gap. A best-effort
    hint write here would let exactly that happen (hint at 5, batch 6
    empty, batch 7's partition lands but its hint write silently fails →
    batch 8 probes 5→6, finds nothing, adopts the stale cumulative
    forever). Raising instead fails the batch; the streaming engine
    replays it, and the replay guard re-establishes the invariant via
    `_refresh_hint_from_log`."""
    import json as _json

    from vptstools_spark.io import write_text_sidecar

    write_text_sidecar(
        spark,
        f"{log_path}/_latest",
        _json.dumps({"b_id": int(batch_id), **fields}),
    )


def _refresh_hint_from_log(
    spark: SparkSession, log_path: str, batch_id: int, fields: list[str]
) -> None:
    """Replay-guard companion to `_write_latest_hint`: a replayed batch
    whose partition already exists (crash landed between the parquet
    append and the hint write) must refresh the hint BEFORE skipping,
    or the crash leaves the hint permanently stale across an empty-batch
    gap (ADVICE r8: b_ids are not contiguous, the forward probe stops at
    the first hole). One point read of the known partition — O(1). Never
    rewinds: a hint already at or past `batch_id` is left alone."""
    import json as _json

    from vptstools_spark.io import read_text_sidecar, write_text_sidecar

    try:
        hint = _json.loads(read_text_sidecar(spark, f"{log_path}/_latest"))
        if int(hint.get("b_id", -1)) >= batch_id and all(
            f in hint for f in fields
        ):
            return
    except Exception:
        pass
    row = (
        spark.read.parquet(f"{log_path}/b_id={batch_id}").limit(1).collect()
    )
    if not row:
        return
    write_text_sidecar(
        spark,
        f"{log_path}/_latest",
        _json.dumps(
            {"b_id": int(batch_id), **{f: row[0][f] for f in fields}}
        ),
    )


def ab_monitor_sink(
    stream: DataFrame,
    arm_col: str,
    value_col: str,
    log_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Streaming A/B experiment monitor: maintain EXACT cumulative
    per-arm moments (n, Σx, Σx²) across micro-batches and append the
    running Welch t statistic after every batch — the sequential-testing
    face of `analytics/inference_q.py:q_ab_test_welch`. Moments are
    exactly mergeable (plain sums), so the cumulative readout after N
    batches is bit-for-bit the single-batch answer over all data — the
    same merge≡direct contract as the sketch sinks.

    Exactly-once via the b_id partition: a replayed batch sees its
    partition and skips (the `dq_gated_sink` recipe); the cumulative row
    carries the raw sums and rides the `_latest` sidecar, so each batch
    does O(1) point reads, never historical data (and never an
    all-partition listing). `arm_col` must be boolean (True =
    treatment). Rows with a NULL arm or NULL value are EXCLUDED from the
    experiment (filtered before counting — a NULL arm belongs to neither
    cohort and a NULL value has no moment); n1+n2 therefore counts the
    non-NULL rows, by declaration."""
    import math

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _hadoop_path_exists(spark, f"{log_path}/b_id={batch_id}"):
            # replayed batch: partition committed but the hint write may
            # not have been — re-establish hint >= newest partition
            _refresh_hint_from_log(
                spark, log_path, batch_id,
                ["c_n1", "c_s1", "c_q1", "c_n2", "c_s2", "c_q2"],
            )
            return
        a = F.col(arm_col)
        v = F.col(value_col).cast("double")
        batch_df = batch_df.filter(a.isNotNull() & v.isNotNull())
        row = batch_df.agg(
            F.count(F.when(a, 1)).alias("n1"),
            F.coalesce(F.sum(F.when(a, v)), F.lit(0.0)).alias("s1"),
            F.coalesce(F.sum(F.when(a, v * v)), F.lit(0.0)).alias("q1"),
            F.count(F.when(~a, 1)).alias("n2"),
            F.coalesce(F.sum(F.when(~a, v)), F.lit(0.0)).alias("s2"),
            F.coalesce(F.sum(F.when(~a, v * v)), F.lit(0.0)).alias("q2"),
        ).collect()[0]
        cum = [row.n1, row.s1, row.q1, row.n2, row.s2, row.q2]
        prev = _read_latest_cum(
            spark, log_path, ["c_n1", "c_s1", "c_q1", "c_n2", "c_s2", "c_q2"]
        )
        if prev is not None:
            cum = [c + p for c, p in zip(cum, prev)]
        n1, s1, q1, n2, s2, q2 = cum
        t = df_w = None
        if n1 > 1 and n2 > 1:
            m1, m2 = s1 / n1, s2 / n2
            v1 = (q1 - n1 * m1 * m1) / (n1 - 1)
            v2 = (q2 - n2 * m2 * m2) / (n2 - 1)
            se1, se2 = v1 / n1, v2 / n2
            if se1 + se2 > 0:
                t = (m1 - m2) / math.sqrt(se1 + se2)
                df_w = (se1 + se2) ** 2 / (
                    se1 ** 2 / (n1 - 1) + se2 ** 2 / (n2 - 1)
                )
        out = spark.createDataFrame(
            [(
                int(n1), float(s1), float(q1),
                int(n2), float(s2), float(q2),
                float(t) if t is not None else None,
                float(df_w) if df_w is not None else None,
            )],
            "c_n1 long, c_s1 double, c_q1 double, "
            "c_n2 long, c_s2 double, c_q2 double, "
            "t_stat double, welch_df double",
        ).withColumn("b_id", F.lit(batch_id))
        out.coalesce(1).write.mode("append").partitionBy("b_id").parquet(
            log_path
        )
        _write_latest_hint(
            spark, log_path, batch_id,
            c_n1=int(n1), c_s1=float(s1), c_q1=float(q1),
            c_n2=int(n2), c_s2=float(s2), c_q2=float(q2),
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


#: closed-form statistics over a cumulative 2x2 count table
#: (a = group&outcome, b = group&~outcome, c = ~group&outcome,
#: d = ~group&~outcome) — both are pure count algebra, so the cumulative
#: merge across micro-batches (integer sums) is EXACT and the running
#: readout is bit-for-bit the single-pass answer (merge ≡ direct).
_STAT_2X2 = ("conversion_z", "odds_ratio")


def stat_monitor_sink(
    stream: DataFrame,
    group_col: str,
    outcome_col: str,
    log_path: str,
    checkpoint: str,
    statistic: str = "conversion_z",
) -> StreamingQuery:
    """Streaming 2x2 statistic monitor — the parameterized sequential
    face of `analytics/inference_q.py:q_conversion_ztest` and
    `q_odds_ratio` (VERDICT r6 #6), same construction as
    `ab_monitor_sink`: each micro-batch folds to its 2x2 counts in one
    aggregate, the cumulative table is maintained by plain integer sums
    (exactly mergeable), and the chosen statistic is re-evaluated from
    the cumulative counts after every batch:

    - ``conversion_z``: pooled two-proportion z on outcome rate between
      the group_col=True and False cohorts (rate_a, rate_b, z_stat);
    - ``odds_ratio``: odds ratio with Woolf 95% CI (odds_ratio, ci_lo,
      ci_hi).

    Exactly-once via the b_id partition (replayed batches skip); the
    cumulative counts ride the `_latest` sidecar, so each batch does
    O(1) point reads — never historical data, never an all-partition
    listing. Both `group_col` and `outcome_col` must be boolean columns
    (project / cast upstream); rows where either is NULL are EXCLUDED
    (a NULL group belongs to neither cohort, a NULL outcome to neither
    cell), so a+b+c+d counts the non-NULL rows, by declaration.

    One statistic per `log_path` — ENFORCED: the first batch stamps the
    statistic name into a `_statistic` sidecar, and every later batch
    (from this or any other monitor) fails fast on a mismatch instead
    of silently mixing parquet schemas in one log (VERDICT r7 #6)."""
    import math

    from vptstools_spark.io import create_text_exclusive, read_text_sidecar

    if statistic not in _STAT_2X2:
        raise ValueError(
            f"unknown statistic {statistic!r}; pick one of {_STAT_2X2}"
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # contract stamp BEFORE the replay guard: a second monitor with a
        # different statistic must fail even on a batch id the first one
        # already wrote
        if not create_text_exclusive(
            spark, f"{log_path}/_statistic", statistic
        ):
            stamped = read_text_sidecar(
                spark, f"{log_path}/_statistic"
            ).strip()
            if stamped != statistic:
                raise ValueError(
                    f"log {log_path} is bound to statistic {stamped!r}; "
                    f"a {statistic!r} monitor must use its own log path "
                    "(the readout schemas differ)"
                )
        if _hadoop_path_exists(spark, f"{log_path}/b_id={batch_id}"):
            # replayed batch: partition committed but the hint write may
            # not have been — re-establish hint >= newest partition
            _refresh_hint_from_log(
                spark, log_path, batch_id, ["c_a", "c_b", "c_c", "c_d"]
            )
            return
        g, o = F.col(group_col), F.col(outcome_col)
        batch_df = batch_df.filter(g.isNotNull() & o.isNotNull())
        row = batch_df.agg(
            F.count(F.when(g & o, 1)).alias("a"),
            F.count(F.when(g & ~o, 1)).alias("b"),
            F.count(F.when(~g & o, 1)).alias("c"),
            F.count(F.when(~g & ~o, 1)).alias("d"),
        ).collect()[0]
        cum = [row.a, row.b, row.c, row.d]
        prev = _read_latest_cum(
            spark, log_path, ["c_a", "c_b", "c_c", "c_d"]
        )
        if prev is not None:
            cum = [c + p for c, p in zip(cum, prev)]
        a, b, c, d = cum
        s1 = s2 = s3 = None
        if statistic == "conversion_z":
            n1, n2 = a + b, c + d
            if n1 and n2:
                p1, p2 = a / n1, c / n2
                pp = (a + c) / (n1 + n2)
                denom = pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)
                s1, s2 = p1, p2
                if denom > 0:
                    s3 = (p1 - p2) / math.sqrt(denom)
            names = "rate_a double, rate_b double, z_stat double"
        else:  # odds_ratio
            if a and b and c and d:
                orx = (a * d) / (b * c)
                se = math.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
                s1 = orx
                s2 = math.exp(math.log(orx) - 1.96 * se)
                s3 = math.exp(math.log(orx) + 1.96 * se)
            names = "odds_ratio double, ci_lo double, ci_hi double"
        out = spark.createDataFrame(
            [(int(a), int(b), int(c), int(d),
              None if s1 is None else float(s1),
              None if s2 is None else float(s2),
              None if s3 is None else float(s3))],
            f"c_a long, c_b long, c_c long, c_d long, {names}",
        ).withColumn("b_id", F.lit(batch_id))
        out.coalesce(1).write.mode("append").partitionBy("b_id").parquet(
            log_path
        )
        _write_latest_hint(
            spark, log_path, batch_id,
            c_a=int(a), c_b=int(b), c_c=int(c), c_d=int(d),
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
