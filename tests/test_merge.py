"""Partition-scoped rewrite helpers (operators/merge.py): the scope
filter stays plan-bounded past the literal threshold, and scope +
anti-scope split any frame exactly."""

from __future__ import annotations


def test_scope_to_partitions_plan_bounded(spark, tmp_path):
    """Above MAX_LITERAL_PARTITION_FILTER the pruning filter must be a
    broadcast semi-join whose plan does NOT grow linearly in the worklist
    (a 10^5-partition delta must not build a 10^5-term predicate)."""
    from vptstools_spark.operators.merge import (
        MAX_LITERAL_PARTITION_FILTER,
        scope_to_partitions,
    )
    from pyspark.sql import functions as F

    target = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 2000).alias("p")
    )

    def plan_len(n):
        scoped = scope_to_partitions(target, ["p"], [(i,) for i in range(n)])
        return len(scoped._jdf.queryExecution().optimizedPlan().toString())

    lo = plan_len(MAX_LITERAL_PARTITION_FILTER + 1)
    hi = plan_len(2000)
    assert hi <= lo * 2, f"plan grew with worklist: {lo} -> {hi}"


def test_anti_scope_is_exact_complement(spark):
    """scope + anti_scope partition any frame: disjoint, union = all — in
    BOTH regimes (literal filter and broadcast anti-join), including NULL
    partition values."""
    from pyspark.sql import functions as F

    from vptstools_spark.operators.merge import (
        MAX_LITERAL_PARTITION_FILTER,
        anti_scope_to_partitions,
        scope_to_partitions,
    )

    df = spark.range(500).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise((F.col("id") % 200).cast("string"))
        .alias("p"),
    )
    for touched in (
        [("5",), ("17",), (None,)],  # literal regime, with NULL
        [(str(i),) for i in range(MAX_LITERAL_PARTITION_FILTER + 10)],
    ):
        inside = scope_to_partitions(df, ["p"], touched)
        outside = anti_scope_to_partitions(df, ["p"], touched)
        assert inside.count() + outside.count() == 500
        assert inside.join(outside, ["k"], "inner").count() == 0
