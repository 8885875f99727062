"""Salted aggregation must be semantically identical to plain groupBy."""

from pyspark.sql import functions as F

from vptstools_spark.plans.skew import salted_agg


def test_salted_agg_matches_plain(spark):
    df = spark.range(0, 10000).select(
        (F.col("id") % 3).alias("k"),  # 3 hot keys
        F.col("id").alias("v"),
    )
    salted = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in salted_agg(
            df, ["k"], {"n": ("v", "count"), "total": ("v", "sum"), "mx": ("v", "max")}, 8
        ).collect()
    }
    plain = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"), F.max("v").alias("mx"))
        .collect()
    }
    assert salted == plain
