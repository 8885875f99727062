"""Join-strategy hints surface as the requested physical join."""


def test_hinted_join_strategies(spark):
    """Each strategy hint must surface as the corresponding physical join."""
    from vptstools_spark.plans.hints import hinted_join, plan_string

    a = spark.range(0, 10_000).withColumnRenamed("id", "k")
    b = spark.range(0, 1_000).withColumnRenamed("id", "k")

    assert "BroadcastHashJoin" in plan_string(hinted_join(a, b, "k", strategy="broadcast"))
    assert "ShuffledHashJoin" in plan_string(hinted_join(a, b, "k", strategy="shuffle_hash"))
    assert "SortMergeJoin" in plan_string(hinted_join(a, b, "k", strategy="merge"))
    try:
        hinted_join(a, b, "k", strategy="nested_loop")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
