"""File-level data skipping (plans/skipping.py): the Bloom equality index
never drops a matching row and actually reduces the file count."""

import pytest
from pyspark.sql import functions as F


def test_bloom_index_prunes_equality_probe(spark, tmp_path):
    """Bloom file index: no false negatives ever, pruned read equals the
    full-scan filter, and on interleaved ids (min/max useless) the probe
    reads ~1 of 8 files."""
    from vptstools_spark.plans.skipping import (
        collect_file_blooms,
        files_for_equality,
        read_pruned_equality,
    )

    path = str(tmp_path / "tbl")
    # 8 files (one per disk partition); ids interleaved mod 8 so every
    # file spans the full id range — min/max skipping keeps all 8
    df = spark.range(0, 800).select(
        F.col("id"), (F.col("id") % 8).cast("int").alias("bucket")
    )
    df.repartition("bucket").write.partitionBy("bucket").parquet(path)
    blooms = collect_file_blooms(spark, path, "id")
    assert blooms.count() == 8

    for probe in (0, 133, 799):
        kept = files_for_equality(blooms, probe)
        got = read_pruned_equality(spark, blooms, "id", probe).collect()
        want = spark.read.parquet(path).filter(F.col("id") == probe).collect()
        assert [r["id"] for r in got] == [r["id"] for r in want] == [probe]
        # the true file is always kept; typically few false positives
        assert 1 <= len(kept) <= 3

    # absent value: may keep false-positive files, but the read is empty
    assert read_pruned_equality(spark, blooms, "id", 12345).count() == 0


def test_bloom_index_empty_result_keeps_schema(spark, tmp_path):
    from vptstools_spark.plans.skipping import (
        collect_file_blooms,
        read_pruned_equality,
    )

    path = str(tmp_path / "tbl1")
    spark.range(0, 10).write.parquet(path)
    blooms = collect_file_blooms(spark, path, "id")
    out = read_pruned_equality(spark, blooms, "id", 99999)
    assert out.columns == ["id"] and out.count() == 0


def test_bloom_probe_rendering_matches_spark_cast(spark, tmp_path):
    """Boolean probes must hash Spark's 'true'/'false' rendering, not
    Python's 'True'; divergent-rendering types (float) are rejected
    instead of silently producing false negatives (ADVICE r4)."""
    from vptstools_spark.plans.skipping import (
        collect_file_blooms,
        read_pruned_equality,
    )

    path = str(tmp_path / "bt")
    df = spark.range(100).select(
        (F.col("id") % 2 == 0).alias("flag"), F.col("id")
    )
    df.repartition(2).write.parquet(path)
    blooms = collect_file_blooms(spark, path, "flag")
    got = read_pruned_equality(spark, blooms, "flag", True)
    assert got.count() == 50  # a 'True'-hashed probe would return 0 rows
    with pytest.raises(TypeError, match="false negatives"):
        read_pruned_equality(spark, blooms, "flag", 1.5)


def test_bloom_probe_date_rendering(spark, tmp_path):
    import datetime

    from vptstools_spark.plans.skipping import (
        collect_file_blooms,
        read_pruned_equality,
    )

    path = str(tmp_path / "bd")
    df = spark.sql(
        "SELECT sequence(DATE'2024-01-01', DATE'2024-01-10') AS ds"
    ).select(F.explode("ds").alias("d"))
    df.repartition(3).write.parquet(path)
    blooms = collect_file_blooms(spark, path, "d")
    got = read_pruned_equality(
        spark, blooms, "d", datetime.date(2024, 1, 7)
    )
    assert got.count() == 1
