"""Shallow clone (plans/clone.py): zero-copy fork + independent evolution.

The properties that make a clone safe to hand to an experiment:
equality with the source snapshot at clone time, full mutual isolation
afterwards (commits, deletes, vacuum, expiry on either side), inherited
delete state applying exactly as it did in the source, and inherited
equality-delete entries being provably unable to touch rows appended to
the clone (the shifted-sequence rule)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vptstools_spark.plans.clone import shallow_clone
from vptstools_spark.plans.timetravel import (
    _log_path,
    commit_append,
    commit_initial,
    delete_where,
    delete_where_eq,
    read_version,
    rename_columns,
    snapshot_rowcount,
    vacuum_table,
)


def _base(spark, path, n=200):
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("part"),
        (F.col("id") * 2.0).alias("val"),
    )
    commit_initial(df, path, ["part"], stats_cols=["k"])
    return df


def _rows(spark, path):
    return {tuple(r) for r in read_version(spark, path).collect()}


def test_clone_equals_source_snapshot(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _base(spark, src)
    delete_where(spark, src, "k % 10 = 3")
    shallow_clone(spark, src, dst)
    assert _rows(spark, dst) == _rows(spark, src)


def test_clone_is_zero_copy_hard_links(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _base(spark, src)
    shallow_clone(spark, src, dst)
    meta = json.loads(open(_log_path(dst, 0)).read())
    assert meta["clone_files"]["copied"] == 0
    assert meta["clone_files"]["linked"] > 0
    # every inherited data file shares its inode with a source file
    data = os.path.join(dst, "data")
    for rel in meta["files"]:
        assert os.stat(os.path.join(data, rel)).st_nlink >= 2


def test_mutual_isolation_of_commits(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = _base(spark, src)
    shallow_clone(spark, src, dst)
    before_src = _rows(spark, src)
    # mutate the clone: append + delete
    commit_append(
        spark, dst, df.withColumn("k", F.col("k") + 10_000)
    )
    delete_where(spark, dst, "k < 50")
    assert _rows(spark, src) == before_src
    # mutate the source: the clone must not move either
    before_dst = _rows(spark, dst)
    delete_where(spark, src, "k >= 100")
    assert _rows(spark, dst) == before_dst


def test_inherited_eq_entries_skip_clone_appends(spark, tmp_path):
    """Sequence shifting: an equality-delete entry inherited from the
    source must not delete a row with the same key appended to the
    CLONE afterwards (Iceberg strict-sequence rule across the fork)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _base(spark, src)
    keys = spark.createDataFrame([(7,), (14,)], "k long")
    delete_where_eq(spark, src, keys, ["k"])
    shallow_clone(spark, src, dst)
    assert read_version(spark, dst).filter("k in (7, 14)").count() == 0
    commit_append(
        spark,
        dst,
        spark.createDataFrame([(7, 3, 1.0)], "k long, part int, val double"),
    )
    assert read_version(spark, dst).filter("k = 7").count() == 1


def test_vacuum_on_source_cannot_break_clone(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = _base(spark, src)
    shallow_clone(spark, src, dst)
    n = read_version(spark, dst).count()
    # rewrite every source partition so v0's files become unreferenced there
    from vptstools_spark.plans.timetravel import commit_upsert, expire_versions

    commit_upsert(spark, src, df.filter("k < 10"), keys=["k"])
    expire_versions(spark, src, keep_last=1)
    vacuum_table(spark, src, min_age_seconds=0)
    # hard links keep the bytes alive for the clone
    assert read_version(spark, dst).count() == n


def test_vacuum_on_clone_cannot_break_source(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = _base(spark, src)
    shallow_clone(spark, src, dst)
    from vptstools_spark.plans.timetravel import commit_upsert, expire_versions

    commit_upsert(spark, dst, df.filter("k < 10"), keys=["k"])
    expire_versions(spark, dst, keep_last=1)
    vacuum_table(spark, dst, min_age_seconds=0)
    assert read_version(spark, src).count() == 200


def test_clone_carries_renames_and_metadata_rowcount(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _base(spark, src)
    rename_columns(spark, src, {"val": "value"})
    shallow_clone(spark, src, dst)
    assert "value" in read_version(spark, dst).columns
    assert snapshot_rowcount(spark, dst) == 200


def test_clone_of_clone_and_pinned_version(spark, tmp_path):
    src, mid, leaf = (
        str(tmp_path / "src"),
        str(tmp_path / "mid"),
        str(tmp_path / "leaf"),
    )
    df = _base(spark, src)
    commit_append(spark, src, df.withColumn("k", F.col("k") + 1000))  # v1
    shallow_clone(spark, src, mid, version=0)  # pinned at v0
    assert read_version(spark, mid).count() == 200
    delete_where(spark, mid, "k % 2 = 0")
    shallow_clone(spark, mid, leaf)
    assert read_version(spark, leaf).count() == 100
    assert read_version(spark, src).count() == 400


def test_clone_refuses_existing_destination(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _base(spark, src)
    shallow_clone(spark, src, dst)
    with pytest.raises(ValueError, match="already a table"):
        shallow_clone(spark, src, dst)


def test_clone_preserves_hidden_partitioning_and_skipping(spark, tmp_path):
    from pyspark.sql import functions as F

    from vptstools_spark.plans.timetravel import (
        commit_append,
        read_version_pruned,
        skipped_files,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 2_000).select(
        F.col("id").alias("k"),
        F.to_timestamp(
            F.concat(
                F.lit("2024-01-"),
                F.lpad(((F.col("id") % 28) + 1).cast("string"), 2, "0"),
                F.lit(" 12:00:00"),
            )
        ).alias("ts"),
        (F.col("id") * 3).alias("m"),
    )
    commit_initial(
        df,
        src,
        ["p_day"],
        partition_transforms={"p_day": ("days", "ts")},
        stats_cols=["m"],
    )
    shallow_clone(spark, src, dst)
    # hidden-transform pruning works through the clone
    got = read_version_pruned(spark, dst, "ts", ">=", "2024-01-27 00:00:00")
    want = read_version(spark, dst).filter("ts >= '2024-01-27 00:00:00'")
    assert got.count() == want.count() > 0
    assert "p_day" not in got.columns
    # footer-stats skipping manifests survived the relabeling
    kept, skipped = skipped_files(spark, dst, "m", "<=", 50, 0)
    assert len(skipped) > 0
    # and clone-side appends re-derive the hidden column from the spec
    commit_append(
        spark,
        dst,
        spark.createDataFrame(
            [(99_999, None, 1)], "k long, ts timestamp, m long"
        ).withColumn("ts", F.lit("2024-02-05 08:00:00").cast("timestamp")),
    )
    assert read_version(spark, dst).filter("k = 99999").count() == 1
