"""Data-quality constraint engine (operators/quality.py): verdict logic,
failure detection, and the one-pass plan contract."""

import pytest
from pyspark.sql import functions as F

from vptstools_spark.operators import quality


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", 20.0),
            (3, None, 30.0),
            (3, "c", -5.0),  # duplicate id + out-of-range value
        ],
        "id int, name string, v double",
    )


def test_pass_and_fail_verdicts(df):
    out = quality.run_suite(
        df,
        [
            quality.row_count("rows", lo=1),
            quality.completeness("name_complete", "name"),
            quality.uniqueness("id_unique", "id"),
            quality.bounded("v_min", F.min("v"), lo=0.0),
            quality.membership("name_domain", "name", ["a", "b", "c"]),
        ],
    )
    got = {r["check"]: (r["metric"], r["passed"]) for r in out.collect()}
    assert got["rows"] == (4.0, True)
    assert got["name_complete"] == (0.75, False)
    assert got["id_unique"] == (0.75, False)  # 3 distinct / 4 non-null
    assert got["v_min"] == (-5.0, False)
    # null name counts as failing the membership predicate
    assert got["name_domain"] == (0.75, False)


def test_suite_order_and_all_green(spark):
    clean = spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string")
    suite = [
        quality.uniqueness("u", "id"),
        quality.completeness("c", "s"),
        quality.satisfies("m", F.col("s").rlike("^[a-z]$")),
    ]
    rows = quality.run_suite(clean, suite).collect()
    assert [r["check"] for r in rows] == ["u", "c", "m"]
    assert all(r["passed"] for r in rows)


def test_verdict_uses_unrounded_metric(spark):
    # 999999/1000000 complete: rounds to 0.999999 but must still FAIL lo=1.0
    df = spark.range(1000000).withColumn(
        "s", F.when(F.col("id") > 0, F.lit("x"))
    )
    row = quality.run_suite(df, [quality.completeness("c", "s")]).collect()[0]
    assert row["metric"] == 0.999999 and not row["passed"]


def test_single_pass_plan(df):
    # the whole suite must compile to ONE aggregate over ONE scan:
    # no joins, no unions — check count adds expressions, not passes
    out = quality.run_suite(
        df,
        [
            quality.row_count("rows", lo=1),
            quality.completeness("c", "name"),
            quality.bounded("vmax", F.max("v"), hi=100.0),
        ],
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("join") == 0
    assert plan.count("Aggregate") == 1


def test_duplicate_names_rejected(df):
    with pytest.raises(ValueError, match="duplicate"):
        quality.run_suite(df, [quality.row_count("x"), quality.row_count("x")])
    with pytest.raises(ValueError, match="empty"):
        quality.run_suite(df, [])


# ---------------------------------------------------------------------------
# privacy: k-anonymity / l-diversity / suppression
# ---------------------------------------------------------------------------


def test_k_anonymity_report_and_suppression(spark):
    from pyspark.sql import functions as F

    from vptstools_spark.operators.privacy import (
        k_anonymity_report,
        suppress_small_classes,
    )

    rows = (
        [("a", 1, i) for i in range(6)]      # class of 6 — safe
        + [("b", 1, i % 2) for i in range(3)]  # class of 3 — violating
        + [("c", 2, 0)]                       # class of 1 — violating
    )
    df = spark.createDataFrame(rows, "q1 string, q2 int, s int")
    rep = {
        r.metric: r.value
        for r in k_anonymity_report(df, ["q1", "q2"], k=5, sensitive="s", l=3).collect()
    }
    assert rep["n_classes"] == 3
    assert rep["n_violating_classes"] == 2
    assert rep["n_rows_at_risk"] == 4
    assert rep["min_class_size"] == 1
    assert rep["min_l_diversity"] == 1
    assert rep["n_low_diversity_classes"] == 2  # b has 2 values, c has 1

    kept = suppress_small_classes(df, ["q1", "q2"], k=5)
    assert kept.count() == 6
    assert kept.select("q1").distinct().collect()[0].q1 == "a"
    # remediated table is k-anonymous
    rep2 = {
        r.metric: r.value
        for r in k_anonymity_report(kept, ["q1", "q2"], k=5).collect()
    }
    assert rep2["min_class_size"] >= 5
