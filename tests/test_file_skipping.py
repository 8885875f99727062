"""Commit-tracked file-skipping statistics (plans/timetravel.py):
Iceberg-manifest-style per-file [min, max] from parquet footers,
maintained by every commit and applied by read_version_pruned."""

from pyspark.sql import functions as F

from vptstools_spark.plans.timetravel import (
    _read_commit,
    commit_append,
    commit_initial,
    delete_where,
    read_version,
    read_version_pruned,
    skipped_files,
)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, float(i) / 10.0, f"s{i:05d}") for i in range(lo, hi)],
        "k long, v double, s string",
    ).coalesce(1)


def test_footer_stats_recorded_and_pruned(spark, tmp_path):
    path = str(tmp_path / "t")
    commit_initial(_df(spark, 0, 100), path, stats_cols=["k", "v", "s"])
    commit_append(spark, path, _df(spark, 100, 200))
    commit_append(spark, path, _df(spark, 200, 300))
    c = _read_commit(spark, path, 2)
    assert len(c["files"]) == 3
    assert all(set(m) == {"k", "v", "s"} for m in c["file_stats"].values())

    kept, skipped = skipped_files(spark, path, "k", ">=", 250)
    assert len(kept) == 1 and len(skipped) == 2
    kept, skipped = skipped_files(spark, path, "k", "<", 100)
    assert len(kept) == 1 and len(skipped) == 2
    kept, skipped = skipped_files(spark, path, "k", "=", 150)
    assert len(kept) == 1
    # string column prunes too
    kept, skipped = skipped_files(spark, path, "s", ">=", "s00250")
    assert len(kept) == 1

    # value parity with the unpruned filter, boundaries included
    for op, val, pyop in [
        (">=", 250, lambda x: x >= 250),
        ("<", 100, lambda x: x < 100),
        ("=", 199, lambda x: x == 199),
        ("<=", 200, lambda x: x <= 200),
    ]:
        got = sorted(
            r["k"] for r in read_version_pruned(spark, path, "k", op, val).collect()
        )
        assert got == [i for i in range(300) if pyop(i)], (op, val)

    # provably-empty read set: correct empty result, right schema
    out = read_version_pruned(spark, path, "k", ">", 10_000)
    assert out.columns == ["k", "v", "s"] and out.count() == 0


def test_skipping_survives_compaction_and_rename(spark, tmp_path):
    from vptstools_spark.plans.maintenance import compact_versioned_table
    from vptstools_spark.plans.timetravel import rename_columns

    path = str(tmp_path / "t")
    commit_initial(_df(spark, 0, 40), path, stats_cols=["k"])
    for lo in (40, 80, 120):
        commit_append(spark, path, _df(spark, lo, lo + 40))
    compact_versioned_table(spark, path, min_files=2)
    c = _read_commit(spark, path, 4)
    # the compacted file got fresh footer stats automatically
    assert all("k" in (m or {}) for m in c["file_stats"].values())
    commit_append(spark, path, _df(spark, 160, 200))
    rename_columns(spark, path, {"k": "key"})
    kept, skipped = skipped_files(spark, path, "key", ">=", 170)
    assert skipped  # pruning works under the new name
    got = sorted(
        r["key"]
        for r in read_version_pruned(spark, path, "key", ">=", 170).collect()
    )
    assert got == list(range(170, 200))


def test_skipping_with_delete_vectors(spark, tmp_path):
    """Pruned reads still apply MOR delete vectors inside the kept
    subset."""
    path = str(tmp_path / "t")
    commit_initial(_df(spark, 0, 100), path, stats_cols=["k"])
    commit_append(spark, path, _df(spark, 100, 200))
    delete_where(spark, path, "k % 10 = 5")
    got = sorted(
        r["k"] for r in read_version_pruned(spark, path, "k", ">=", 150).collect()
    )
    assert got == [i for i in range(150, 200) if i % 10 != 5]


def test_all_null_and_untracked_files_conservative(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, v double"
    ).coalesce(1)
    commit_initial(base, path, stats_cols=["v"])
    # an all-NULL file for v: range predicates can skip it outright
    commit_append(
        spark,
        path,
        spark.createDataFrame(
            [(100 + i, None) for i in range(5)], "k long, v double"
        ).coalesce(1),
    )
    kept, skipped = skipped_files(spark, path, "v", ">=", 0.0)
    assert len(skipped) == 1  # the all-NULL file
    got = read_version_pruned(spark, path, "v", ">=", 5.0)
    assert sorted(r["k"] for r in got.collect()) == [5, 6, 7, 8, 9]
    # untracked column: everything kept, values exact
    kept, skipped = skipped_files(spark, path, "k", ">=", 100)
    assert not skipped
    got = read_version_pruned(spark, path, "k", ">=", 100)
    assert got.count() == 5


def test_timestamp_stats_prune(spark, tmp_path):
    import datetime

    path = str(tmp_path / "t")
    rows1 = [(i, datetime.datetime(2024, 1, 1 + i, 12, 0, 0)) for i in range(5)]
    rows2 = [(10 + i, datetime.datetime(2024, 2, 1 + i, 12, 0, 0)) for i in range(5)]
    sch = "k long, ts timestamp"
    commit_initial(
        spark.createDataFrame(rows1, sch).coalesce(1), path, stats_cols=["ts"]
    )
    commit_append(spark, path, spark.createDataFrame(rows2, sch).coalesce(1))
    cut = datetime.datetime(2024, 1, 20)
    kept, skipped = skipped_files(spark, path, "ts", ">=", cut)
    assert len(kept) == 1 and len(skipped) == 1
    got = read_version_pruned(spark, path, "ts", ">=", cut)
    assert sorted(r["k"] for r in got.collect()) == [10, 11, 12, 13, 14]


def test_read_version_where_conjunction(spark, tmp_path):
    """Multi-predicate pruned read: file subsets INTERSECT across
    conjuncts; values equal the full-scan conjunction filter."""
    from vptstools_spark.plans.timetravel import read_version_where

    path = str(tmp_path / "t")
    commit_initial(_df(spark, 0, 100), path, stats_cols=["k", "v"])
    commit_append(spark, path, _df(spark, 100, 200))
    commit_append(spark, path, _df(spark, 200, 300))
    got = read_version_where(
        spark, path, [("k", ">=", 150), ("v", "<", 25.0)]
    )
    assert sorted(r["k"] for r in got.collect()) == list(range(150, 250))
    # contradictory conjunction: provably-empty file set, schema intact
    out = read_version_where(spark, path, [("k", ">=", 250), ("k", "<", 100)])
    assert out.columns == ["k", "v", "s"] and out.count() == 0
