"""Equality-delete vectors (plans/timetravel.py:delete_where_eq):
key-tuple delete commits that scan NOTHING, resolved at read by the
broadcast anti-join machinery with Iceberg-style sequence scoping."""

import os
import shutil

from pyspark.sql import functions as F

from vptstools_spark.plans.timetravel import (
    _DATA_DIR,
    _read_commit,
    commit_append,
    commit_initial,
    delete_where,
    delete_where_eq,
    purge_deletes,
    read_version,
    table_changes,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, part int, v double")


def _init(spark, tmp_path, n=10):
    path = str(tmp_path / "t")
    commit_initial(
        _df(spark, [(i, i % 2, float(i)) for i in range(n)]), path, ["part"]
    )
    return path


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def _ks(spark, path, version=None):
    return sorted(
        r["k"] for r in read_version(spark, path, version).collect()
    )


def test_eq_delete_basic_and_sequence_scoping(spark, tmp_path):
    path = _init(spark, tmp_path)
    v = delete_where_eq(spark, path, _keys(spark, [2, 5, 99]), ["k"])
    assert v == 1
    c = _read_commit(spark, path, 1)
    assert c["files"] == _read_commit(spark, path, 0)["files"]  # no rewrite
    assert _ks(spark, path) == [0, 1, 3, 4, 6, 7, 8, 9]
    # sequence scoping: re-appending a DELETED key after the delete —
    # the new row survives (Iceberg's seq rule), the old one stays gone
    commit_append(spark, path, _df(spark, [(2, 0, 22.0), (50, 0, 5.0)]))
    rows = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert rows[2] == 22.0 and 5 not in rows and rows[50] == 5.0
    # the pinned pre-append snapshot still hides the deleted keys
    assert _ks(spark, path, 1) == [0, 1, 3, 4, 6, 7, 8, 9]
    # v0 pinned read predates the delete entirely
    assert _ks(spark, path, 0) == list(range(10))


def test_eq_delete_commit_scans_no_data(spark, tmp_path):
    """The no-scan proof: with every DATA file moved away, the equality
    delete still commits (it only writes the key file); restoring the
    files makes the read correct."""
    path = _init(spark, tmp_path)
    data_root = os.path.join(path, _DATA_DIR)
    stash = str(tmp_path / "stash")
    shutil.move(os.path.join(data_root, "v0"), stash)
    delete_where_eq(spark, path, _keys(spark, [3, 4]), ["k"])
    shutil.move(stash, os.path.join(data_root, "v0"))
    assert _ks(spark, path) == [0, 1, 2, 5, 6, 7, 8, 9]


def test_eq_delete_purge_parity(spark, tmp_path):
    """purge_deletes folds equality AND position deletes into the dirty
    files: same values before and after, vectors and entries cleared."""
    path = _init(spark, tmp_path)
    delete_where_eq(spark, path, _keys(spark, [2, 5]), ["k"])
    delete_where(spark, path, "k = 7")  # positional on top
    commit_append(spark, path, _df(spark, [(2, 0, 22.0)]))  # survives purge
    before = sorted(map(tuple, read_version(spark, path).collect()))
    v = purge_deletes(spark, path)
    after = sorted(map(tuple, read_version(spark, path).collect()))
    assert before == after
    c = _read_commit(spark, path, v)
    assert not c.get("delete_files") and not c.get("eq_deletes")


def test_eq_delete_in_change_feed(spark, tmp_path):
    """table_changes derives the equality delete's row-level feed by
    semi-joining the prior snapshot with the key tuples."""
    path = _init(spark, tmp_path)
    delete_where_eq(spark, path, _keys(spark, [1, 6]), ["k"])
    ch = table_changes(spark, path, 0).collect()
    assert sorted((r["k"], r["_change_type"]) for r in ch) == [
        (1, "delete"), (6, "delete"),
    ]
    # an already-deleted key doesn't re-emit on a second entry
    delete_where_eq(spark, path, _keys(spark, [1, 8]), ["k"])
    ch2 = table_changes(spark, path, 1).collect()
    assert [(r["k"], r["_change_type"]) for r in ch2] == [(8, "delete")]


def test_eq_delete_follows_rename(spark, tmp_path):
    """rename_columns re-points the entry's key names; the stored key
    parquet keeps write-time names and still applies."""
    from vptstools_spark.plans.timetravel import rename_columns

    path = _init(spark, tmp_path)
    delete_where_eq(spark, path, _keys(spark, [4, 9]), ["k"])
    rename_columns(spark, path, {"k": "key_id"})
    t = read_version(spark, path)
    assert "key_id" in t.columns
    assert sorted(r["key_id"] for r in t.collect()) == [
        0, 1, 2, 3, 5, 6, 7, 8,
    ]


def test_eq_delete_vacuum_keeps_key_files(spark, tmp_path):
    """The eq key sidecars join the vacuum reachability set — deleting
    one would resurrect rows in every surviving commit listing it."""
    from vptstools_spark.plans.timetravel import vacuum_table

    path = _init(spark, tmp_path)
    delete_where_eq(spark, path, _keys(spark, [0]), ["k"])
    assert vacuum_table(spark, path, min_age_seconds=0) == []
    assert _ks(spark, path) == list(range(1, 10))


def test_commit_upsert_eq_merge_semantics(spark, tmp_path):
    """One atomic zero-scan merge commit: entry deletes old key rows,
    the commit's OWN appended files are exempt (strict seq rule)."""
    from vptstools_spark.plans.timetravel import commit_upsert_eq

    path = _init(spark, tmp_path)
    delta = spark.createDataFrame(
        [(3, 1, 33.0, False), (50, 0, 5.0, False), (7, 1, 0.0, True)],
        "k long, part int, v double, is_del boolean",
    )
    v = commit_upsert_eq(spark, path, delta, ["k"], delete_col="is_del")
    assert v == 1
    rows = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert rows[3] == 33.0          # replaced, not duplicated
    assert rows[50] == 5.0          # inserted
    assert 7 not in rows            # tombstoned
    assert len(rows) == 10          # 10 keys - deleted(7) + inserted(50)
    # merge of a merge: second entry scoped after the first commit's files
    delta2 = spark.createDataFrame([(3, 1, 44.0)], "k long, part int, v double")
    commit_upsert_eq(spark, path, delta2, ["k"])
    rows = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert rows[3] == 44.0 and len(rows) == 10
    # purge parity
    before = sorted(map(tuple, read_version(spark, path).collect()))
    purge_deletes(spark, path)
    assert sorted(map(tuple, read_version(spark, path).collect())) == before


def test_commit_upsert_eq_change_feed(spark, tmp_path):
    """The merge commit's feed carries BOTH halves: deletes of the old
    key rows (derived by semi-join) and inserts of the new files."""
    from vptstools_spark.plans.timetravel import commit_upsert_eq

    path = _init(spark, tmp_path, n=5)
    delta = spark.createDataFrame(
        [(2, 0, 22.0), (9, 1, 99.0)], "k long, part int, v double"
    )
    commit_upsert_eq(spark, path, delta, ["k"])
    ch = sorted(
        (r["k"], r["_change_type"], r["v"])
        for r in table_changes(spark, path, 0).collect()
    )
    assert ch == [(2, "delete", 2.0), (2, "insert", 22.0), (9, "insert", 99.0)]
