"""Partition-scoped rewrite helpers for partitioned parquet: restrict a
scan to (or away from) a worklist of partition tuples, and render
partition values the way Spark names their directories.

Core Spark has no MERGE INTO against plain parquet (that's a table-format
feature — Delta/Iceberg), so keyed rewrites use the classic
partition-rewrite pattern: read only the partitions a delta touches,
rewrite them, and dynamic-partition-overwrite ONLY those
(`partitionOverwriteMode=dynamic`). At 100 TB the cost scales with the
TOUCHED partitions, not the table: the untouched bulk is never read or
written. `plans/timetravel.py` scopes its partition-local commits with
these helpers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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
