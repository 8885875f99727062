"""Keyed MERGE (upsert/delete) into partitioned parquet — the write-path
form of the CDC keep-latest compaction (`analytics/relational.py:
q_latest_order` is the read-path form).

Core Spark has no MERGE INTO against plain parquet (that's a table-format
feature — Delta/Iceberg); pipelines on raw object storage still need keyed
upserts, so the engine provides the classic partition-rewrite pattern:

1. restrict the target scan to the partitions the delta touches (partition
   pruning — an IN-list of partition values, pushed to the file listing);
2. anti-join those target rows against the delta keys (drop rows being
   replaced or deleted);
3. union the surviving rows with the delta's upserts;
4. dynamic-partition-overwrite ONLY the touched partitions
   (`partitionOverwriteMode=dynamic`, set in session.get_spark).

At 100 TB the cost scales with the TOUCHED partitions, not the table: the
untouched bulk is never read or written. The delta's distinct partition
list is metadata-sized (collected to the driver); the delta side of the
anti-join broadcasts when small. Object-store caveat: read-modify-overwrite
of one path in one job is safe with rename-based committers; on
direct-commit stores, stage to a temp prefix and swap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: above this many touched partitions the literal OR-of-ANDs pruning filter
#: is replaced by a broadcast semi-join — a 10⁵-partition delta must not
#: build a 10⁵-term predicate (plan analysis is super-linear in expression
#: size; the join keeps the plan constant and prunes at runtime via
#: dynamic partition pruning instead of planning time)
MAX_LITERAL_PARTITION_FILTER = 128


def scope_to_partitions(
    target: DataFrame,
    partition_cols: list[str],
    touched: list[tuple],
    touched_df: DataFrame | None = None,
) -> DataFrame:
    """Restrict `target` to the listed partition tuples.

    Small worklists (≤ MAX_LITERAL_PARTITION_FILTER) use a literal
    OR-of-ANDs that Catalyst folds into planning-time partition pruning;
    larger ones switch to a broadcast LEFT SEMI join on the partition
    columns, whose plan size is constant in the worklist and which Spark
    prunes with dynamic partition pruning at runtime.
    """
    from functools import reduce

    if len(touched) <= MAX_LITERAL_PARTITION_FILTER:
        # eqNullSafe: a NULL partition value (__HIVE_DEFAULT_PARTITION__ on
        # disk) must still select its partition — plain `=` is never true
        # against NULL and would silently drop those rows from the rewrite
        conds = [
            reduce(
                Column.__and__,
                [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(partition_cols, t)],
            )
            for t in touched
        ]
        return target.filter(reduce(Column.__or__, conds))
    if touched_df is None:
        spark = target.sparkSession
        str_schema = ", ".join(f"`{c}` string" for c in partition_cols)
        touched_df = spark.createDataFrame(
            [tuple(None if v is None else str(v) for v in t) for t in touched],
            str_schema,
        )
        for f in target.select(*partition_cols).schema.fields:
            touched_df = touched_df.withColumn(
                f.name, F.col(f.name).cast(f.dataType)
            )
    right = touched_df.select(*partition_cols).distinct()
    cond = reduce(
        Column.__and__,
        [target[c].eqNullSafe(right[c]) for c in partition_cols],
    )
    return target.join(F.broadcast(right), cond, "left_semi")


def anti_scope_to_partitions(
    target: DataFrame,
    partition_cols: list[str],
    touched: list[tuple],
) -> DataFrame:
    """Complement of `scope_to_partitions`: rows OUTSIDE the listed
    partition tuples. Same two regimes — negated literal OR-of-ANDs for
    small worklists, broadcast LEFT ANTI join past the threshold."""
    from functools import reduce

    if len(touched) <= MAX_LITERAL_PARTITION_FILTER:
        conds = [
            reduce(
                Column.__and__,
                [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(partition_cols, t)],
            )
            for t in touched
        ]
        return target.filter(~reduce(Column.__or__, conds))
    spark = target.sparkSession
    str_schema = ", ".join(f"`{c}` string" for c in partition_cols)
    touched_df = spark.createDataFrame(
        [tuple(None if v is None else str(v) for v in t) for t in touched],
        str_schema,
    )
    for f in target.select(*partition_cols).schema.fields:
        touched_df = touched_df.withColumn(f.name, F.col(f.name).cast(f.dataType))
    right = touched_df.select(*partition_cols).distinct()
    cond = reduce(
        Column.__and__,
        [target[c].eqNullSafe(right[c]) for c in partition_cols],
    )
    return target.join(F.broadcast(right), cond, "left_anti")


#: characters Spark's ExternalCatalogUtils.escapePathName percent-encodes in
#: partition directory names (plus all ASCII control chars)
_PATH_ESCAPE = set('"#%\'*/:=?\\{[]^') | {chr(i) for i in range(0x20)} | {chr(0x7F)}


def escape_partition_segment(s: str | None) -> str:
    """Escape a partition value ALREADY rendered to string (by Spark's own
    `cast(v as string)` — the exact pre-escape rendering the dynamic
    partition writer uses) into its directory-segment form: `None` →
    __HIVE_DEFAULT_PARTITION__, special characters percent-encoded
    (ExternalCatalogUtils.escapePathName)."""
    if s is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(f"%{ord(ch):02X}" if ch in _PATH_ESCAPE else ch for ch in s)


def escape_partition_value(v) -> str:
    """Render a PYTHON-typed partition value the way Spark writes its
    directory name. Only use for values whose Python str() matches Spark's
    cast-to-string (int/str/date/bool — handled here); for values read back
    from a DataFrame prefer `escape_partition_segment` over Spark's own
    `cast(col as string)`, which is exact for every type (doubles render
    scientifically in Spark, differently from Python)."""
    if isinstance(v, bool):
        return escape_partition_segment("true" if v else "false")
    return escape_partition_segment(None if v is None else str(v))


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    delta: DataFrame,
    keys: list[str],
    partition_cols: list[str],
    delete_col: str | None = None,
) -> None:
    """Merge `delta` into the partitioned parquet table at `target_path`.

    Delta rows replace target rows with the same `keys`; rows where
    `delete_col` is true are tombstones (key removed, nothing inserted).
    First write (no target yet) degenerates to a plain partitioned write.
    """
    upserts = delta.filter(~F.col(delete_col)) if delete_col else delta
    upserts = upserts.drop(*([delete_col] if delete_col else []))

    from vptstools_spark.streaming.incremental import _hadoop_path_exists

    if not _hadoop_path_exists(spark, target_path):
        upserts.write.mode("overwrite").partitionBy(*partition_cols).parquet(
            target_path
        )
        return

    touched = [
        tuple(r)
        for r in delta.select(*partition_cols).distinct().collect()
    ]
    if not touched:
        return
    target = spark.read.parquet(target_path)
    # partition pruning bounded by worklist size: literal filter for small
    # deltas, broadcast semi-join (constant plan size + DPP) for large ones
    kept = scope_to_partitions(
        target, partition_cols, touched,
        touched_df=delta.select(*partition_cols).distinct(),
    ).join(F.broadcast(delta.select(*keys).distinct()), keys, "left_anti")
    merged = kept.unionByName(upserts.select(*target.columns))
    # self-referencing read→overwrite: materialize before the write so the
    # scan completes before any file is replaced (rename-committer safe)
    merged = merged.localCheckpoint(eager=True)
    # dynamic overwrite forced per-write: without it a default-config session
    # would truncate untouched partitions
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*partition_cols).parquet(target_path)
    # dynamic overwrite only rewrites partitions that PRODUCE rows — a
    # delete that empties a partition leaves its old files behind. Remove
    # touched partitions that ended up empty (metadata-sized driver work).
    # Compare in the RENDERED (directory-name) space: partition-column type
    # inference means read-back values (e.g. int 5) need not equal the
    # delta's values (str "5"), and a raw tuple comparison would flag every
    # touched partition as emptied.
    def _canon(t: tuple) -> tuple:
        return tuple(escape_partition_value(v) for v in t)

    remaining = {
        _canon(tuple(r))
        for r in merged.select(*partition_cols).distinct().collect()
    }
    emptied = [t for t in touched if _canon(t) not in remaining]
    if emptied:
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        for t in emptied:
            # build the directory name exactly as Spark wrote it: values are
            # hive-escaped (percent-encoded specials, NULL sentinel dir) —
            # raw f"{c}={v}" would miss the escaped path and silently leave
            # the tombstoned partition's old files to resurrect on re-read
            subdir = "/".join(
                f"{c}={escape_partition_value(v)}"
                for c, v in zip(partition_cols, t)
            )
            jpath = jvm.org.apache.hadoop.fs.Path(f"{target_path}/{subdir}")
            fs = jpath.getFileSystem(jsc.hadoopConfiguration())
            fs.delete(jpath, True)
