"""Z-order layout: multi-dimensional min/max pruning actually works.

The test measures what a scan would do: for a selective predicate on each
dimension, how many files does the [min, max] envelope admit? Lexicographic
sort prunes only its leading key; the z-curve layout must prune well on
BOTH columns.
"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from vptstools_spark.plans.zorder import zvalue

N_FILES = 16


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.01/events.parquet")


def _file_ranges(path: str, col: str) -> list[tuple[float, float]]:
    out = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        assert lo is not None, f"no stats for {col} in {f}"
        out.append((lo, hi))
    return out


def _files_admitting(ranges, point) -> int:
    return sum(1 for lo, hi in ranges if lo <= point <= hi)


def test_zorder_prunes_both_dims(spark, tmp_path):
    # Deterministic synthetic grid (NOT harness data): a 200x200 fully
    # independent uniform grid (value is a permutation of id//200, so the
    # two dimensions are exactly decorrelated). The z-curve then tiles the
    # plane and each file's envelope covers ~1/4 of each dimension — a wide,
    # load-independent margin under the 50% assertion. The sf0.01 variant
    # of this test was flaky: range-exchange sample seeds depend on session
    # history (rdd id), shifting file boundaries between runs.
    df = spark.range(40000, numPartitions=8).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 200).cast("long").alias("user_id"),
        (((F.col("id") / 200).cast("long") * 7919) % 200 / 2.0).alias("value"),
    )
    zpath = str(tmp_path / "z")
    lexpath = str(tmp_path / "lex")
    # z-curve layout: one range exchange on the z-value, sorted within files
    (
        df.withColumn("__z", zvalue(df, ["user_id", "value"], bits=6))
        .repartitionByRange(N_FILES, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.parquet(zpath)
    )
    (
        df.repartitionByRange(N_FILES, "user_id", "value")
        .sortWithinPartitions("user_id", "value")
        .write.parquet(lexpath)
    )

    # row set is preserved exactly
    assert (
        spark.read.parquet(zpath).orderBy("event_id").toPandas()["event_id"].tolist()
        == df.orderBy("event_id").toPandas()["event_id"].tolist()
    )

    # Average the admitted-file fraction over FIVE fixed probe points per
    # dimension (static quantiles of the known 0..200 / 0..100 value space),
    # not a single data-derived midpoint: repartitionByRange samples with a
    # seed tied to session history (RDD id), so file boundaries jitter a few
    # rows between a clean session and a loaded full-suite run — a single
    # probe against a single boundary flips, the 5-probe average cannot.
    uid_probes = [20.0, 60.0, 100.0, 140.0, 180.0]
    val_probes = [10.0, 30.0, 50.0, 70.0, 90.0]
    stats = {}
    for name, path in (("z", zpath), ("lex", lexpath)):
        uid = _file_ranges(path, "user_id")
        val = _file_ranges(path, "value")
        stats[name] = (
            sum(_files_admitting(uid, p) for p in uid_probes) / (5 * len(uid)),
            sum(_files_admitting(val, p) for p in val_probes) / (5 * len(val)),
        )

    z_uid, z_val = stats["z"]
    lex_uid, lex_val = stats["lex"]
    # z-order: BOTH dimensions prune to a fraction of the files on average;
    # the trailing dimension prunes strictly better than the lexicographic
    # layout (whose trailing-key envelopes stay ~full-width)
    assert z_uid <= 0.6, f"user_id envelopes admit {z_uid:.0%} of z files"
    assert z_val <= 0.6, f"value envelopes admit {z_val:.0%} of z files"
    assert z_val < lex_val, f"z {z_val:.0%} should beat lex {lex_val:.0%} on value"


def test_zvalue_is_jvm_only_and_deterministic(spark, events):
    df = events.select("user_id", "value")
    z = zvalue(df, ["user_id", "value"], bits=4)
    out1 = df.withColumn("z", z).agg(F.sum("z")).collect()[0][0]
    out2 = df.withColumn("z", z).agg(F.sum("z")).collect()[0][0]
    assert out1 == out2
    # no Python evaluation in the plan
    plan = df.withColumn("z", z)._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_zvalue_dims_bits_guard(spark, events):
    with pytest.raises(ValueError):
        zvalue(events, ["user_id"] * 8, bits=8)
