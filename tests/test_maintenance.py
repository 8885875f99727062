"""Versioned-table maintenance (plans/maintenance.py): compaction and
clustering commits shrink the file count, keep the data, and keep history
readable."""

import pytest
from pyspark.sql import functions as F


# ----------------------------------------------- versioned-table compaction


def test_compact_versioned_table_small_files(spark, tmp_path):
    """Many small files per partition (the streaming-sink accretion shape)
    compact to one file per partition in a single commit; rows identical,
    non-victim files carried, prior versions still pinnable."""
    from vptstools_spark.plans.maintenance import compact_versioned_table
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        commit_append,
        commit_initial,
        read_version,
    )

    path = str(tmp_path / "ct")
    df = lambda rows: spark.createDataFrame(rows, "k long, day int, v double")
    commit_initial(df([(0, 0, 0.0), (100, 9, 1.0)]), path, ["day"])
    for i in range(1, 5):  # 4 appends -> day=0 accretes 5 files
        commit_append(spark, path, df([(i, 0, float(i))]))
    before = read_version(spark, path)
    rows_before = sorted(tuple(r) for r in before.collect())
    n_day0 = sum(
        "day=0" in f for f in _read_commit(spark, path, 4)["files"]
    )
    assert n_day0 == 5

    rep = compact_versioned_table(spark, path, min_files=4)
    assert rep["compacted_partitions"] == 1
    assert rep["files_after"] < rep["files_before"]
    commit = _read_commit(spark, path, rep["version"])
    assert sum("day=0" in f for f in commit["files"]) == 1
    assert sum("day=9" in f for f in commit["files"]) == 1  # carried
    assert sorted(
        tuple(r) for r in read_version(spark, path).collect()
    ) == rows_before
    # history intact: version 4 pre-compaction still readable
    assert read_version(spark, path, 4).count() == len(rows_before)
    # quiet table: second run is a no-op (no empty commit)
    rep2 = compact_versioned_table(spark, path, min_files=4)
    assert rep2["version"] == rep["version"]


def test_compact_materializes_deletes_and_skips_big_partitions(
    spark, tmp_path
):
    from vptstools_spark.plans.maintenance import compact_versioned_table
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        commit_append,
        commit_initial,
        delete_where,
        read_version,
    )

    path = str(tmp_path / "ct2")
    df = lambda rows: spark.createDataFrame(rows, "k long, day int, v double")
    commit_initial(df([(0, 0, 0.0)]), path, ["day"])
    for i in range(1, 6):
        commit_append(spark, path, df([(i, 0, float(i))]))
    delete_where(spark, path, "k = 2")
    want = sorted(
        tuple(r) for r in read_version(spark, path).collect()
    )
    rep = compact_versioned_table(spark, path, min_files=2)
    got = sorted(tuple(r) for r in read_version(spark, path).collect())
    assert got == want and not any(k == 2 for (k, _, _) in got)
    # a partition over the byte bound is left alone
    rep3 = compact_versioned_table(
        spark, path, min_files=1, max_partition_bytes=1
    )
    assert rep3["compacted_partitions"] == 0
    assert rep3["version"] == rep["version"]


def test_compact_emits_nothing_in_cdf(spark, tmp_path):
    """compact is row-preserving: the batch feed skips it (no spurious
    insert/delete storm after maintenance)."""
    from vptstools_spark.plans.maintenance import compact_versioned_table
    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        table_changes,
    )

    path = str(tmp_path / "ct3")
    df = lambda rows: spark.createDataFrame(rows, "k long, day int, v double")
    commit_initial(df([(0, 0, 0.0)]), path, ["day"])
    for i in range(1, 4):
        commit_append(spark, path, df([(i, 0, float(i))]))
    rep = compact_versioned_table(spark, path, min_files=2)
    ch = table_changes(spark, path, -1)
    assert ch.filter(f"_commit_version = {rep['version']}").count() == 0
    assert ch.count() == 4  # the four genuine inserts


def test_timestamp_as_of_and_age_retention(spark, tmp_path):
    """Commit timestamps: TIMESTAMP AS OF resolves to the version live at
    the instant; age-gated expiry refuses to drop young commits."""
    import time

    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        expire_versions,
        read_version,
        version_at_timestamp,
    )

    path = str(tmp_path / "ts")
    df = lambda rows: spark.createDataFrame(rows, "k long, day int, v double")
    commit_initial(df([(1, 0, 1.0)]), path, ["day"])
    t_after_v0 = time.time()
    time.sleep(0.05)
    commit_append(spark, path, df([(2, 0, 2.0)]))

    assert version_at_timestamp(spark, path, t_after_v0) == 0
    assert version_at_timestamp(spark, path, time.time()) == 1
    assert read_version(spark, path, timestamp=t_after_v0).count() == 1
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(spark, path, 1.0)  # 1970: before any commit
    with pytest.raises(ValueError, match="not both"):
        read_version(spark, path, version=0, timestamp=t_after_v0)
    # both commits are seconds old: a 1-hour grace expires nothing
    assert expire_versions(spark, path, keep_last=1, min_age_seconds=3600) == []
    assert expire_versions(spark, path, keep_last=1) == [0]


def test_compact_with_zorder_and_vacuum_dry_run(spark, tmp_path):
    """Compaction with a z-order sort inside each output file; vacuum
    dry-run lists reclaimable files without touching them."""
    from vptstools_spark.plans.maintenance import compact_versioned_table
    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        expire_versions,
        read_version,
        vacuum_table,
    )

    path = str(tmp_path / "ctz")
    df = lambda rows: spark.createDataFrame(
        rows, "k long, day int, x double, y double"
    )
    commit_initial(df([(0, 0, 0.0, 9.0)]), path, ["day"])
    for i in range(1, 5):
        commit_append(spark, path, df([(i, 0, float(i), float(9 - i))]))
    want = sorted(tuple(r) for r in read_version(spark, path).collect())
    rep = compact_versioned_table(
        spark, path, min_files=2, zorder_by=["x", "y"]
    )
    assert rep["compacted_partitions"] == 1
    assert sorted(
        tuple(r) for r in read_version(spark, path).collect()
    ) == want

    expire_versions(spark, path, keep_last=1)
    would = vacuum_table(spark, path, dry_run=True, min_age_seconds=0)
    assert would  # the pre-compaction small files are now unreferenced
    # dry run deleted nothing: a second dry run sees the same set
    assert vacuum_table(spark, path, dry_run=True, min_age_seconds=0) == would
    gone = vacuum_table(spark, path, min_age_seconds=0)
    assert gone == would
    assert vacuum_table(spark, path, dry_run=True, min_age_seconds=0) == []
    assert sorted(
        tuple(r) for r in read_version(spark, path).collect()
    ) == want


# ---------------------------------------------------------------------------
# full-snapshot z-order re-cluster
# ---------------------------------------------------------------------------


def test_cluster_versioned_table_tightens_both_dims(spark, tmp_path):
    from pyspark.sql import functions as F

    from vptstools_spark.plans.maintenance import cluster_versioned_table
    from vptstools_spark.plans.timetravel import (
        commit_initial,
        delete_where,
        read_version,
        read_version_where,
        skipped_files,
    )

    path = str(tmp_path / "t")
    df = (
        spark.range(0, 20_000)
        .select(
            F.col("id").alias("a"),
            # decorrelated second dim: bit-reversed-ish permutation
            ((F.col("id") * 7919) % 20_000).alias("b"),
            (F.col("id") % 100).cast("double").alias("v"),
        )
        .repartition(8, "a")
    )
    commit_initial(df, path, [], stats_cols=["a", "b"])
    delete_where(spark, path, "a % 40 = 0")
    before = read_version(spark, path).count()
    # hash-scattered layout: a range predicate admits every file
    kept0, skip0 = skipped_files(spark, path, "b", "<=", 1000, 0)
    assert len(skip0) == 0
    r = cluster_versioned_table(spark, path, ["a", "b"], n_files=16)
    assert r["files"] == 16
    after = read_version(spark, path)
    assert after.count() == before
    # deletes materialized in the rewrite
    from vptstools_spark.plans.timetravel import _read_commit

    c = _read_commit(spark, path, r["version"])
    assert c["delete_files"] == [] and c["op"] == "cluster"
    assert after.filter("a % 40 = 0").count() == 0
    # skipping now fires on BOTH clustered dimensions
    for col in ("a", "b"):
        kept, skipped = skipped_files(
            spark, path, col, "<=", 1000, r["version"]
        )
        assert len(skipped) >= len(kept), (col, len(kept), len(skipped))
    # and pruned reads stay exact
    got = read_version_where(
        spark, path, [("a", ">=", 5000), ("a", "<=", 6000)]
    ).count()
    want = after.filter("a between 5000 and 6000").count()
    assert got == want


def test_cluster_preserves_history_and_hive_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from vptstools_spark.plans.maintenance import cluster_versioned_table
    from vptstools_spark.plans.timetravel import commit_initial, read_version

    path = str(tmp_path / "t")
    df = spark.range(0, 2_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("part"),
        ((F.col("id") * 31) % 1000).alias("m"),
    )
    commit_initial(df, path, ["part"], stats_cols=["m"])
    r = cluster_versioned_table(spark, path, ["m"], n_files=4)
    # prior version still readable, partition column intact
    assert read_version(spark, path, 0).count() == 2_000
    t = read_version(spark, path, r["version"])
    assert t.count() == 2_000
    assert t.select("part").distinct().count() == 4


def test_incremental_cluster_rewrites_only_accretion(spark, tmp_path):
    from pyspark.sql import functions as F

    from vptstools_spark.plans.maintenance import cluster_versioned_table
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        commit_append,
        commit_initial,
        delete_where,
        read_version,
        skipped_files,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("a"), ((F.col("id") * 7919) % 10_000).alias("b")
    ).repartition(4, "a")
    commit_initial(df, path, [], stats_cols=["a", "b"])
    r1 = cluster_versioned_table(spark, path, ["a", "b"], n_files=8)
    clustered = set(_read_commit(spark, path, r1["version"])["clustered_files"])
    assert len(clustered) == 8
    # accretion: two appends + a MOR delete on the clustered bulk
    extra = spark.range(20_000, 24_000).select(
        F.col("id").alias("a"), ((F.col("id") * 7919) % 10_000).alias("b")
    ).repartition(3, "a")
    commit_append(spark, path, extra)
    delete_where(spark, path, "a % 100 = 7")
    before = read_version(spark, path).count()
    r2 = cluster_versioned_table(
        spark, path, ["a", "b"], n_files=4, incremental=True
    )
    c2 = _read_commit(spark, path, r2["version"])
    # the clustered bulk was CARRIED, only the appended files rewritten
    assert clustered <= set(c2["files"])
    assert r2["rewritten"] == 4
    assert read_version(spark, path).count() == before
    # vectors on carried files still apply
    assert read_version(spark, path).filter("a % 100 = 7").count() == 0
    # a further incremental pass with no accretion is a no-op
    r3 = cluster_versioned_table(
        spark, path, ["a", "b"], n_files=4, incremental=True
    )
    assert r3["rewritten"] == 0 and r3["version"] == r2["version"]
    # skipping still fires across old + new clustered generations
    kept, skipped = skipped_files(spark, path, "a", ">=", 20_000, r2["version"])
    assert len(skipped) > 0
