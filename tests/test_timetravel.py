"""Versioned snapshots (plans/timetravel.py): pinned reads, partition-
scoped copy-on-write upserts, tombstones, version diffs, file sharing
between versions, and explicit expiry."""

import pytest
from pyspark.sql import functions as F

from vptstools_spark.plans.timetravel import (
    commit_initial,
    commit_upsert,
    diff_versions,
    expire_versions,
    history,
    read_version,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, day int, v double")


def _constraints(spark, path):
    """The latest commit's constraint list."""
    from vptstools_spark.plans.timetravel import _read_commit, _resolve_version

    return _read_commit(spark, path, _resolve_version(spark, path, None)).get("constraints") or []


def _rows(df):
    return sorted((r["k"], r["day"], r["v"]) for r in df.collect())


def test_upsert_creates_new_version_and_preserves_old(spark, tmp_path):
    path = str(tmp_path / "tt")
    base = [(1, 0, 10.0), (2, 0, 20.0), (3, 1, 30.0)]
    assert commit_initial(_df(spark, base), path, ["day"]) == 0
    delta = _df(spark, [(2, 0, 25.0), (4, 0, 40.0)])
    assert commit_upsert(spark, path, delta, keys=["k"]) == 1

    assert _rows(read_version(spark, path, 0)) == sorted(base)
    assert _rows(read_version(spark, path, 1)) == [
        (1, 0, 10.0), (2, 0, 25.0), (3, 1, 30.0), (4, 0, 40.0),
    ]
    assert _rows(read_version(spark, path)) == _rows(read_version(spark, path, 1))


def test_untouched_partitions_share_files_across_versions(spark, tmp_path):
    from vptstools_spark.plans.timetravel import _read_commit

    path = str(tmp_path / "tt2")
    commit_initial(
        _df(spark, [(1, 0, 1.0), (2, 1, 2.0), (3, 2, 3.0)]), path, ["day"]
    )
    commit_upsert(spark, path, _df(spark, [(1, 0, 9.0)]), keys=["k"])
    f0 = set(_read_commit(spark, path, 0)["files"])
    f1 = set(_read_commit(spark, path, 1)["files"])
    shared = f0 & f1
    # day=1 and day=2 untouched -> their files carried; day=0 rewritten
    assert shared and all("day=0" not in f for f in shared)
    assert {f for f in f1 - f0} and all("day=0" in f for f in f1 - f0)


def test_tombstone_delete(spark, tmp_path):
    path = str(tmp_path / "tt3")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, 2.0)]), path, ["day"])
    delta = spark.createDataFrame(
        [(1, 0, 0.0, True), (3, 0, 3.0, False)],
        "k long, day int, v double, is_delete boolean",
    )
    commit_upsert(spark, path, delta, keys=["k"], delete_col="is_delete")
    assert _rows(read_version(spark, path)) == [(2, 0, 2.0), (3, 0, 3.0)]


def test_diff_versions_classifies(spark, tmp_path):
    path = str(tmp_path / "tt4")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, 2.0)]), path, ["day"])
    commit_upsert(
        spark, path, _df(spark, [(2, 0, 9.0), (5, 0, 5.0)]), keys=["k"]
    )
    out = {
        r["k"]: r["change"]
        for r in diff_versions(spark, path, 0, 1, keys=["k"]).collect()
    }
    assert out == {2: "changed", 5: "added"}


def test_history_and_expiry(spark, tmp_path):
    path = str(tmp_path / "tt5")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    commit_upsert(spark, path, _df(spark, [(2, 0, 2.0)]), keys=["k"])
    commit_upsert(spark, path, _df(spark, [(3, 0, 3.0)]), keys=["k"])
    assert [h["version"] for h in history(spark, path)] == [0, 1, 2]
    assert expire_versions(spark, path, keep_last=1) == [0, 1]
    assert [h["version"] for h in history(spark, path)] == [2]
    with pytest.raises(Exception):
        read_version(spark, path, 0)
    assert _rows(read_version(spark, path)) == [
        (1, 0, 1.0), (2, 0, 2.0), (3, 0, 3.0),
    ]


def test_upsert_hive_rendered_partitions_no_duplication(spark, tmp_path):
    """Partition values whose Python str() diverges from Spark's directory
    rendering (booleans -> 'true', NULL -> __HIVE_DEFAULT_PARTITION__) must
    still be recognized as touched: before r5 the old file was carried AND
    the rows rewritten — silent duplication (ADVICE r4)."""
    path = str(tmp_path / "tt6")
    df = spark.createDataFrame(
        [(1, True, 1.0), (2, False, 2.0), (3, None, 3.0)],
        "k long, flag boolean, v double",
    )
    commit_initial(df, path, ["flag"])
    delta = spark.createDataFrame(
        [(1, True, 9.0), (3, None, 8.0)], "k long, flag boolean, v double"
    )
    commit_upsert(spark, path, delta, keys=["k"])
    got = sorted((r["k"], r["flag"], r["v"]) for r in read_version(spark, path).collect())
    assert got == [(1, True, 9.0), (2, False, 2.0), (3, None, 8.0)]


def test_expired_read_raises_clear_error_and_pinned_plan_survives(spark, tmp_path):
    path = str(tmp_path / "tt7")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    commit_upsert(spark, path, _df(spark, [(2, 0, 2.0)]), keys=["k"])
    pinned = read_version(spark, path, 0)  # plan held across expiry
    assert expire_versions(spark, path, keep_last=1) == [0]
    # the already-pinned plan still reads (data files are never deleted)
    assert _rows(pinned) == [(1, 0, 1.0)]
    with pytest.raises(ValueError, match="expired"):
        read_version(spark, path, 0)
    with pytest.raises(ValueError, match="does not exist"):
        read_version(spark, path, 99)


def test_expiry_retention_guard(spark, tmp_path):
    path = str(tmp_path / "tt8")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    with pytest.raises(ValueError, match="keep_last"):
        expire_versions(spark, path, keep_last=0)
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0)]


def test_vacuum_reclaims_unreferenced_files_only(spark, tmp_path):
    import glob

    from vptstools_spark.plans.timetravel import vacuum_table

    path = str(tmp_path / "tt10")
    commit_initial(
        _df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"]
    )
    commit_upsert(spark, path, _df(spark, [(1, 0, 9.0)]), keys=["k"])
    # all commits alive -> vacuum is a no-op
    assert vacuum_table(spark, path, min_age_seconds=0) == []
    expire_versions(spark, path, keep_last=1)
    removed = vacuum_table(spark, path, min_age_seconds=0)
    # v0's day=0 file is now unreferenced (v1 rewrote day=0); v0's day=1
    # file is CARRIED by v1 and must survive
    assert removed and all(r.startswith("v0/day=0") for r in removed)
    assert glob.glob(f"{path}/data/v0/day=1/*.parquet")
    assert _rows(read_version(spark, path)) == [(1, 0, 9.0), (2, 1, 2.0)]


def test_commit_race_one_winner(spark, tmp_path):
    from vptstools_spark.plans.timetravel import CommitConflictError

    path = str(tmp_path / "tt11")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    # writer B publishes version 1 first (simulated by a direct commit);
    # writer A's attempt to commit the same version must lose atomically
    commit_upsert(spark, path, _df(spark, [(2, 0, 2.0)]), keys=["k"])
    import json as _json
    import os as _os

    # roll the log back in A's view by deleting nothing — instead race on
    # the NEXT version: pre-create 00000002.json as writer B
    from vptstools_spark.plans.timetravel import _read_commit

    log2 = _os.path.join(path, "_log", "00000002.json")
    with open(log2, "w") as fh:
        fh.write(_json.dumps({
            "version": 2, "op": "upsert", "partition_cols": ["day"],
            "partition_types": {"day": "int"},
            # resolved read: raw v1 JSON may be a format-2 delta
            "files": _read_commit(spark, path, 1)["files"],
        }))
    with pytest.raises(CommitConflictError, match="expected"):
        # A derived its delta against v1; the CAS catches the stale view
        # before any write work:
        commit_upsert(
            spark, path, _df(spark, [(3, 0, 3.0)]), keys=["k"],
            expected_version=1,
        )
    # and the raw create-exclusive primitive: second create loses
    from vptstools_spark.io import create_text_exclusive

    assert not create_text_exclusive(spark, log2, "{}")
    # table still readable, B's commit intact
    assert read_version(spark, path, 2).count() == 2


def test_additive_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "tt14")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])
    delta = spark.createDataFrame(
        [(1, 0, 9.0, "eur")], "k long, day int, v double, ccy string"
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        commit_upsert(spark, path, delta, keys=["k"])
    commit_upsert(spark, path, delta, keys=["k"], evolve_schema=True)
    got = sorted(
        (r["k"], r["day"], r["v"], r["ccy"])
        for r in read_version(spark, path).collect()
    )
    # day=1 rows come from a CARRIED old-schema file -> NULL ccy
    assert got == [(1, 0, 9.0, "eur"), (2, 1, 2.0, None)]
    # the pinned pre-evolution version keeps its original schema
    assert read_version(spark, path, 0).columns == ["k", "day", "v"]
    # later non-evolving upserts keep working over the mixed file set
    delta2 = spark.createDataFrame(
        [(3, 1, 3.0, "usd")], "k long, day int, v double, ccy string"
    )
    commit_upsert(spark, path, delta2, keys=["k"])
    assert read_version(spark, path).count() == 3


def test_schema_evolution_rejects_drops_and_retypes(spark, tmp_path):
    path = str(tmp_path / "tt15")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    with pytest.raises(ValueError, match="missing table columns"):
        commit_upsert(
            spark, path,
            spark.createDataFrame([(1, 0)], "k long, day int"),
            keys=["k"], evolve_schema=True,
        )
    with pytest.raises(ValueError, match="retypes"):
        commit_upsert(
            spark, path,
            spark.createDataFrame([(1, 0, "x")], "k long, day int, v string"),
            keys=["k"], evolve_schema=True,
        )


# ---- merge-on-read deletes / blind append / purge (round 5) ----------------


def test_delete_where_carries_files_and_hides_rows(spark, tmp_path):
    from vptstools_spark.plans.timetravel import _read_commit, delete_where

    path = str(tmp_path / "dv1")
    base = [(1, 0, 1.0), (2, 0, 2.0), (3, 1, 3.0), (4, 1, 4.0)]
    commit_initial(_df(spark, base), path, ["day"])
    assert delete_where(spark, path, "k % 2 = 0") == 1
    # every data file carried unchanged — a MOR delete rewrites nothing
    assert _read_commit(spark, path, 1)["files"] == _read_commit(spark, path, 0)["files"]
    assert _read_commit(spark, path, 1)["n_deleted"] == 2
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0), (3, 1, 3.0)]
    # the pre-delete snapshot is untouched
    assert _rows(read_version(spark, path, 0)) == sorted(base)


def test_delete_where_is_idempotent_on_deleted_rows(spark, tmp_path):
    from vptstools_spark.plans.timetravel import _read_commit, delete_where

    path = str(tmp_path / "dv2")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, 2.0)]), path, ["day"])
    delete_where(spark, path, F.col("k") == 2)
    # predicate evaluated on the CURRENT snapshot: row 2 is already gone
    delete_where(spark, path, F.col("k") >= 2)
    assert _read_commit(spark, path, 2)["n_deleted"] == 0
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0)]


def test_append_after_delete_and_purge_equivalence(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        commit_append,
        delete_where,
        purge_deletes,
    )

    path = str(tmp_path / "dv3")
    commit_initial(
        _df(spark, [(1, 0, 1.0), (2, 0, 2.0), (3, 1, 3.0)]), path, ["day"]
    )
    delete_where(spark, path, "k = 2")
    commit_append(spark, path, _df(spark, [(9, 1, 9.0)]))
    expect = [(1, 0, 1.0), (3, 1, 3.0), (9, 1, 9.0)]
    assert _rows(read_version(spark, path)) == expect

    v = purge_deletes(spark, path)
    c = _read_commit(spark, path, v)
    assert c["delete_files"] == []
    # only the DIRTY file (the one part file holding k=2) was rewritten;
    # every clean file — including day=0 siblings — is carried unchanged
    prev_files = set(_read_commit(spark, path, v - 1)["files"])
    carried = set(c["files"]) & prev_files
    rewritten_away = prev_files - set(c["files"])
    assert carried and len(rewritten_away) == 1
    assert all("day=0" in f for f in rewritten_away)
    assert _rows(read_version(spark, path)) == expect
    # purge with no vectors is a metadata no-op (no new commit)
    assert purge_deletes(spark, path) == v


def test_append_schema_mismatch_rejected(spark, tmp_path):
    from vptstools_spark.plans.timetravel import commit_append

    path = str(tmp_path / "dv4")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    bad = spark.createDataFrame([(2, 0)], "k long, day int")
    with pytest.raises(ValueError, match="does not match"):
        commit_append(spark, path, bad)


def test_upsert_carries_pending_vectors_for_untouched_partitions(spark, tmp_path):
    from vptstools_spark.plans.timetravel import delete_where

    path = str(tmp_path / "dv5")
    commit_initial(
        _df(spark, [(1, 0, 1.0), (2, 1, 2.0), (3, 1, 3.0)]), path, ["day"]
    )
    delete_where(spark, path, "k = 2")  # hits day=1
    # upsert touches ONLY day=0: day=1 files carried with their vectors —
    # row 2 must stay deleted, not resurrect
    commit_upsert(spark, path, _df(spark, [(1, 0, 9.0)]), keys=["k"])
    assert _rows(read_version(spark, path)) == [(1, 0, 9.0), (3, 1, 3.0)]


def test_vacuum_never_deletes_referenced_vectors(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        delete_where,
        vacuum_table,
    )

    path = str(tmp_path / "dv7")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, 2.0)]), path, ["day"])
    delete_where(spark, path, "k = 2")
    # nothing is unreferenced: vacuum must keep data files AND vectors
    assert vacuum_table(spark, path, min_age_seconds=0) == []
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0)]
    # after expiring the delete version's PREDECESSOR the vectors are
    # still referenced by the surviving commit
    expire_versions(spark, path, keep_last=1)
    assert vacuum_table(spark, path, min_age_seconds=0) == []
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0)]


def test_vacuum_reclaims_orphaned_vectors_after_purge_and_expiry(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        delete_where,
        purge_deletes,
        vacuum_table,
    )

    path = str(tmp_path / "dv8")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, 2.0)]), path, ["day"])
    delete_where(spark, path, "k = 2")
    purge_deletes(spark, path)
    expire_versions(spark, path, keep_last=1)
    removed = vacuum_table(spark, path, min_age_seconds=0)
    # the purged commit references neither the old day=0 file nor the
    # vector sidecar — both reclaimed
    assert any(r.startswith("dv") for r in removed)
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0)]


# ---- commit-time table constraints (round 5) -------------------------------


def test_set_constraints_validates_existing_data(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        ConstraintViolationError,
        set_constraints,
    )

    path = str(tmp_path / "ct1")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, -2.0)]), path, ["day"])
    with pytest.raises(ConstraintViolationError, match="existing data"):
        set_constraints(
            spark, path, [{"name": "v_pos", "kind": "check", "expr": "v > 0"}]
        )
    set_constraints(
        spark, path, [{"name": "v_big", "kind": "check", "expr": "v > -10"}]
    )
    assert [c["name"] for c in _constraints(spark, path)] == ["v_big"]


def test_append_rejects_check_and_null_violations(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        ConstraintViolationError,
        commit_append,
        set_constraints,
    )

    path = str(tmp_path / "ct2")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    set_constraints(
        spark,
        path,
        [
            {"name": "v_pos", "kind": "check", "expr": "v > 0"},
            {"name": "k_nn", "kind": "not_null", "columns": ["k"]},
        ],
    )
    with pytest.raises(ConstraintViolationError, match="v_pos"):
        commit_append(spark, path, _df(spark, [(2, 0, -5.0)]))
    with pytest.raises(ConstraintViolationError, match="k_nn"):
        commit_append(spark, path, _df(spark, [(None, 0, 5.0)]))
    # rejected commits leave the table readable at its old version
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0)]
    commit_append(spark, path, _df(spark, [(2, 0, 5.0)]))
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0), (2, 0, 5.0)]


def test_check_constraint_ansi_null_passes(spark, tmp_path):
    from vptstools_spark.plans.timetravel import commit_append, set_constraints

    path = str(tmp_path / "ct3")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    set_constraints(
        spark, path, [{"name": "v_pos", "kind": "check", "expr": "v > 0"}]
    )
    # ANSI CHECK: NULL comparison is UNKNOWN -> passes (not_null is the
    # explicit opt-in for rejecting NULLs)
    commit_append(spark, path, _df(spark, [(2, 0, None)]))
    assert len(_rows(read_version(spark, path))) == 2


def test_unique_constraint_on_append_and_upsert(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        ConstraintViolationError,
        commit_append,
        set_constraints,
    )

    path = str(tmp_path / "ct4")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])
    set_constraints(
        spark, path, [{"name": "k_uniq", "kind": "unique", "columns": ["k"]}]
    )
    # append colliding with an existing key -> rejected
    with pytest.raises(ConstraintViolationError, match="k_uniq"):
        commit_append(spark, path, _df(spark, [(2, 0, 9.0)]))
    # append with an internal duplicate -> rejected
    with pytest.raises(ConstraintViolationError, match="k_uniq"):
        commit_append(spark, path, _df(spark, [(7, 0, 7.0), (7, 1, 7.5)]))
    # UPSERT on the same key REPLACES it -> no violation
    commit_upsert(spark, path, _df(spark, [(2, 1, 9.0)]), keys=["k"])
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0), (2, 1, 9.0)]


def test_unique_on_non_key_column_under_upsert(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        ConstraintViolationError,
        set_constraints,
    )

    path = str(tmp_path / "ct5")
    df = spark.createDataFrame(
        [(1, 0, 100.0), (2, 0, 200.0)], "k long, day int, v double"
    )
    commit_initial(df, path, ["day"])
    set_constraints(
        spark, path, [{"name": "v_uniq", "kind": "unique", "columns": ["v"]}]
    )
    # new key 3 reuses retained row 2's v value -> collision on the
    # non-key unique column
    bad = spark.createDataFrame([(3, 0, 200.0)], "k long, day int, v double")
    with pytest.raises(ConstraintViolationError, match="v_uniq"):
        commit_upsert(spark, path, bad, keys=["k"])
    # replacing key 2 itself with the same v is fine (its old row leaves)
    ok = spark.createDataFrame([(2, 0, 200.0)], "k long, day int, v double")
    commit_upsert(spark, path, ok, keys=["k"])


def test_drop_constraints_and_carry_through_commits(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        commit_append,
        delete_where,
        drop_constraints,
        set_constraints,
    )

    path = str(tmp_path / "ct6")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    set_constraints(
        spark, path, [{"name": "v_pos", "kind": "check", "expr": "v > 0"}]
    )
    commit_append(spark, path, _df(spark, [(2, 0, 2.0)]))
    delete_where(spark, path, "k = 2")
    commit_upsert(spark, path, _df(spark, [(3, 0, 3.0)]), keys=["k"])
    # every commit path carried the constraint
    assert [c["name"] for c in _constraints(spark, path)] == ["v_pos"]
    drop_constraints(spark, path, ["v_pos"])
    assert _constraints(spark, path) == []
    commit_append(spark, path, _df(spark, [(4, 0, -4.0)]))  # now allowed


# ---- merge-on-read MERGE (single-commit upsert) ----------------------------


def test_mor_upsert_matches_cow_and_rewrites_nothing(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        commit_upsert_mor,
    )

    cow = str(tmp_path / "cow")
    mor = str(tmp_path / "mor")
    base = [(1, 0, 1.0), (2, 1, 2.0), (3, 2, 3.0)]
    delta = spark.createDataFrame(
        [(2, 1, 9.0, False), (3, 2, 0.0, True), (4, 0, 4.0, False)],
        "k long, day int, v double, is_delete boolean",
    )
    for path in (cow, mor):
        commit_initial(_df(spark, base), path, ["day"])
    commit_upsert(spark, cow, delta, keys=["k"], delete_col="is_delete")
    commit_upsert_mor(spark, mor, delta, keys=["k"], delete_col="is_delete")
    expect = [(1, 0, 1.0), (2, 1, 9.0), (4, 0, 4.0)]
    assert _rows(read_version(spark, cow)) == expect
    assert _rows(read_version(spark, mor)) == expect
    # MOR carried EVERY original data file; COW rewrote the touched ones
    f0 = set(_read_commit(spark, mor, 0)["files"])
    f1 = set(_read_commit(spark, mor, 1)["files"])
    assert f0 <= f1
    assert _read_commit(spark, mor, 1)["delete_files"]


def test_mor_upsert_pure_delete_batch(spark, tmp_path):
    from vptstools_spark.plans.timetravel import commit_upsert_mor

    path = str(tmp_path / "mor2")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, 2.0)]), path, ["day"])
    delta = spark.createDataFrame(
        [(1, 0, 0.0, True)], "k long, day int, v double, is_delete boolean"
    )
    commit_upsert_mor(spark, path, delta, keys=["k"], delete_col="is_delete")
    assert _rows(read_version(spark, path)) == [(2, 0, 2.0)]


def test_mor_upsert_respects_constraints(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        ConstraintViolationError,
        commit_upsert_mor,
        set_constraints,
    )

    path = str(tmp_path / "mor3")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    set_constraints(
        spark, path, [{"name": "v_pos", "kind": "check", "expr": "v > 0"}]
    )
    with pytest.raises(ConstraintViolationError, match="v_pos"):
        commit_upsert_mor(spark, path, _df(spark, [(2, 0, -1.0)]), keys=["k"])


def test_mor_then_purge_then_mor_roundtrip(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        commit_upsert_mor,
        purge_deletes,
    )

    path = str(tmp_path / "mor4")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])
    commit_upsert_mor(spark, path, _df(spark, [(1, 0, 5.0)]), keys=["k"])
    v = purge_deletes(spark, path)
    assert _read_commit(spark, path, v)["delete_files"] == []
    commit_upsert_mor(spark, path, _df(spark, [(2, 1, 6.0)]), keys=["k"])
    assert _rows(read_version(spark, path)) == [(1, 0, 5.0), (2, 1, 6.0)]


# ---- change data feed (table_changes) --------------------------------------


def _changes(df):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in df.collect()
    )


def test_table_changes_mor_commits_are_delta_scoped(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_upsert_mor,
        delete_where,
        table_changes,
    )

    path = str(tmp_path / "cdf1")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])  # v0
    commit_append(spark, path, _df(spark, [(3, 0, 3.0)]))                   # v1
    delete_where(spark, path, "k = 1")                                      # v2
    commit_upsert_mor(spark, path, _df(spark, [(2, 1, 9.0)]), keys=["k"])   # v3

    assert _changes(table_changes(spark, path, 0)) == [
        (1, "insert", 3, 3.0),
        (2, "delete", 1, 1.0),
        (3, "delete", 2, 2.0),
        (3, "insert", 2, 9.0),
    ]
    # a sub-range reads only that window
    assert _changes(table_changes(spark, path, 1, 2)) == [
        (2, "delete", 1, 1.0),
    ]
    # and replaying the feed over the base reconstructs the snapshot
    assert _rows(read_version(spark, path)) == [(2, 1, 9.0), (3, 0, 3.0)]


def test_table_changes_initial_and_cow_fallback(spark, tmp_path):
    from vptstools_spark.plans.timetravel import table_changes

    path = str(tmp_path / "cdf2")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, 2.0)]), path, ["day"])  # v0
    commit_upsert(spark, path, _df(spark, [(2, 0, 5.0)]), keys=["k"])      # v1 (COW)
    got = _changes(table_changes(spark, path, -1))
    assert (0, "insert", 1, 1.0) in got and (0, "insert", 2, 2.0) in got
    assert (1, "delete", 2, 2.0) in got and (1, "insert", 2, 5.0) in got
    # the COW rewrite of day=0 did NOT spuriously report row 1 (unchanged
    # rows cancel in the multiset diff)
    assert (1, "delete", 1, 1.0) not in got and (1, "insert", 1, 1.0) not in got


def test_table_changes_metadata_commits_emit_nothing(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        delete_where,
        purge_deletes,
        set_constraints,
        table_changes,
    )

    path = str(tmp_path / "cdf3")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, 2.0)]), path, ["day"])  # v0
    delete_where(spark, path, "k = 2")                                     # v1
    set_constraints(
        spark, path, [{"name": "v_pos", "kind": "check", "expr": "v > 0"}]
    )                                                                      # v2
    purge_deletes(spark, path)                                             # v3
    assert _changes(table_changes(spark, path, 1)) == []
    # empty feed keeps the schema contract
    cols = table_changes(spark, path, 1).columns
    assert "_change_type" in cols and "_commit_version" in cols


def test_table_changes_across_schema_evolution(spark, tmp_path):
    from vptstools_spark.plans.timetravel import table_changes

    path = str(tmp_path / "cdf4")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 0, 2.0)]), path, ["day"])
    delta = spark.createDataFrame(
        [(2, 0, 5.0, "x")], "k long, day int, v double, note string"
    )
    commit_upsert(spark, path, delta, keys=["k"], evolve_schema=True)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["note"])
        for r in table_changes(spark, path, 0).collect()
    )
    # unchanged row 1 cancels (NULL-aligned), changed row 2 appears as
    # delete(old, note NULL) + insert(new, note 'x')
    assert got == [(1, "delete", 2, None), (1, "insert", 2, "x")]


def test_update_where_set_semantics_and_no_rewrite(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        table_changes,
        update_where,
    )

    path = str(tmp_path / "up1")
    commit_initial(
        _df(spark, [(1, 0, 1.0), (2, 0, 2.0), (3, 1, 3.0)]), path, ["day"]
    )
    update_where(spark, path, "k >= 2", {"v": "v * 10"})
    assert _rows(read_version(spark, path)) == [
        (1, 0, 1.0), (2, 0, 20.0), (3, 1, 30.0),
    ]
    # no data file rewritten
    assert set(_read_commit(spark, path, 0)["files"]) <= set(
        _read_commit(spark, path, 1)["files"]
    )
    # CDF sees the update as delete+insert pairs
    got = sorted(
        (r["_change_type"], r["k"], r["v"])
        for r in table_changes(spark, path, 0).collect()
    )
    assert got == [
        ("delete", 2, 2.0), ("delete", 3, 3.0),
        ("insert", 2, 20.0), ("insert", 3, 30.0),
    ]


def test_update_where_simultaneous_assignments(spark, tmp_path):
    from vptstools_spark.plans.timetravel import update_where

    path = str(tmp_path / "up2")
    df = spark.createDataFrame([(1, 0, 10.0, 20.0)], "k long, day int, a double, b double")
    commit_initial(df, path, ["day"])
    # SET a = b, b = a must SWAP (both read the old row)
    update_where(spark, path, "k = 1", {"a": "b", "b": "a"})
    r = read_version(spark, path).collect()[0]
    assert (r["a"], r["b"]) == (20.0, 10.0)


def test_update_where_constraint_and_unknown_column(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        ConstraintViolationError,
        set_constraints,
        update_where,
    )

    path = str(tmp_path / "up3")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    set_constraints(
        spark, path, [{"name": "v_pos", "kind": "check", "expr": "v > 0"}]
    )
    with pytest.raises(ConstraintViolationError, match="v_pos"):
        update_where(spark, path, "k = 1", {"v": "-v"})
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, path, "k = 1", {"nope": "1"})
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0)]


# ------------------------------------------------------ partition evolution


def test_evolve_partitioning_metadata_only_then_append(spark, tmp_path):
    """Evolving the spec rewrites nothing (same file list); later appends
    write under the NEW spec and reads merge both layouts — the column
    comes from data in pre-evolution files and from the hive path after."""
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        commit_append,
        evolve_partitioning,
    )

    path = str(tmp_path / "pe1")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, [])
    v1 = evolve_partitioning(spark, path, ["day"])
    assert v1 == 1
    assert _read_commit(spark, path, 1)["files"] == _read_commit(spark, path, 0)["files"]
    assert _read_commit(spark, path, 1)["partition_cols"] == ["day"]
    # idempotent no-op: same spec -> no new commit
    assert evolve_partitioning(spark, path, ["day"]) == 1
    assert _rows(read_version(spark, path)) == [(1, 0, 1.0), (2, 1, 2.0)]

    v2 = commit_append(spark, path, _df(spark, [(3, 1, 3.0)]))
    new_files = set(_read_commit(spark, path, v2)["files"]) - set(
        _read_commit(spark, path, v1)["files"]
    )
    assert new_files and all("day=1" in f for f in new_files)
    assert _rows(read_version(spark, path)) == [
        (1, 0, 1.0), (2, 1, 2.0), (3, 1, 3.0),
    ]
    # pre-evolution version still pinnable
    assert _rows(read_version(spark, path, 0)) == [(1, 0, 1.0), (2, 1, 2.0)]


def test_evolve_then_cow_upsert_migrates_legacy_files(spark, tmp_path):
    """A COW upsert after evolution must DROP pre-evolution files (their
    partition values are undecidable from the path) and rewrite all their
    rows under the new spec — carrying one would duplicate its touched-
    partition rows; skipping its untouched rows would lose data."""
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        evolve_partitioning,
    )

    path = str(tmp_path / "pe2")
    commit_initial(
        _df(spark, [(1, 0, 1.0), (2, 1, 2.0), (3, 2, 3.0)]), path, []
    )
    evolve_partitioning(spark, path, ["day"])
    v2 = commit_upsert(
        spark, path, _df(spark, [(1, 0, 9.0), (4, 0, 4.0)]), keys=["k"]
    )
    # exact rows: touched day=0 replaced, untouched days 1/2 intact, no dups
    assert _rows(read_version(spark, path, v2)) == [
        (1, 0, 9.0), (2, 1, 2.0), (3, 2, 3.0), (4, 0, 4.0),
    ]
    # the legacy (v0, unpartitioned) files are gone from the commit
    legacy = set(_read_commit(spark, path, 0)["files"])
    assert not legacy & set(_read_commit(spark, path, v2)["files"])
    # and the migrated rows landed under the new spec
    assert all("day=" in f for f in _read_commit(spark, path, v2)["files"])
    # next upsert behaves like a normal partition-scoped COW: untouched
    # partitions' files are carried
    v3 = commit_upsert(spark, path, _df(spark, [(2, 1, 7.0)]), keys=["k"])
    carried = set(_read_commit(spark, path, v2)["files"]) & set(
        _read_commit(spark, path, v3)["files"]
    )
    assert carried and all("day=1" not in f for f in carried)
    assert _rows(read_version(spark, path, v3)) == [
        (1, 0, 9.0), (2, 1, 7.0), (3, 2, 3.0), (4, 0, 4.0),
    ]


def test_evolve_repartition_and_unpartition(spark, tmp_path):
    """day -> k re-partitioning, then -> [] unpartitioned: reads stay
    correct across all three layout generations."""
    from vptstools_spark.plans.timetravel import evolve_partitioning

    path = str(tmp_path / "pe3")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])
    evolve_partitioning(spark, path, ["k"])
    commit_upsert(spark, path, _df(spark, [(3, 1, 3.0)]), keys=["k"])
    assert _rows(read_version(spark, path)) == [
        (1, 0, 1.0), (2, 1, 2.0), (3, 1, 3.0),
    ]
    evolve_partitioning(spark, path, [])
    commit_upsert(spark, path, _df(spark, [(1, 0, 8.0)]), keys=["k"])
    assert _rows(read_version(spark, path)) == [
        (1, 0, 8.0), (2, 1, 2.0), (3, 1, 3.0),
    ]


def test_evolve_rejects_unknown_column(spark, tmp_path):
    from vptstools_spark.plans.timetravel import evolve_partitioning

    path = str(tmp_path / "pe4")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, [])
    with pytest.raises(ValueError, match="non-existent"):
        evolve_partitioning(spark, path, ["nope"])


# ------------------------------------------------------------ column rename


def test_rename_columns_metadata_only(spark, tmp_path):
    """Rename rewrites nothing: same file list, reads fold old files'
    names forward per their schema epoch, pinned pre-rename reads keep
    the old names, and later writes use the new name."""
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        commit_append,
        rename_columns,
    )

    path = str(tmp_path / "rn")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])
    v1 = rename_columns(spark, path, {"v": "val"})
    assert v1 == 1
    assert _read_commit(spark, path, 1)["files"] == _read_commit(spark, path, 0)["files"]
    assert read_version(spark, path).columns == ["k", "day", "val"]
    assert read_version(spark, path, 0).columns == ["k", "day", "v"]
    got = sorted((r["k"], r["val"]) for r in read_version(spark, path).collect())
    assert got == [(1, 1.0), (2, 2.0)]

    commit_append(
        spark,
        path,
        spark.createDataFrame([(3, 0, 3.0)], "k long, day int, val double"),
    )
    assert sorted(
        (r["k"], r["val"]) for r in read_version(spark, path).collect()
    ) == [(1, 1.0), (2, 2.0), (3, 3.0)]
    # chained rename: epoch-0 files fold through both maps
    rename_columns(spark, path, {"val": "value"})
    assert sorted(
        (r["k"], r["value"]) for r in read_version(spark, path).collect()
    ) == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_rename_then_reuse_freed_name(spark, tmp_path):
    """After v->val, additive evolution may add a NEW column named v: old
    files' physical `v` must still read as `val` while the new `v` reads
    NULL for them — per-file epochs disambiguate what a name means."""
    from vptstools_spark.plans.timetravel import (
        commit_upsert,
        rename_columns,
    )

    path = str(tmp_path / "rn2")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])
    rename_columns(spark, path, {"v": "val"})
    delta = spark.createDataFrame(
        [(3, 0, 3.0, 30.0)], "k long, day int, val double, v double"
    )
    commit_upsert(spark, path, delta, keys=["k"], evolve_schema=True)
    rows = {
        r["k"]: (r["val"], r["v"])
        for r in read_version(spark, path).collect()
    }
    assert rows[1] == (1.0, None)  # old physical v -> val; new v NULL
    assert rows[2] == (2.0, None)
    assert rows[3] == (3.0, 30.0)


def test_rename_rejections(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        rename_columns,
        set_constraints,
    )

    path = str(tmp_path / "rn3")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    with pytest.raises(ValueError, match="partition"):
        rename_columns(spark, path, {"day": "d"})
    with pytest.raises(ValueError, match="non-existent"):
        rename_columns(spark, path, {"nope": "x"})
    with pytest.raises(ValueError, match="collides"):
        rename_columns(spark, path, {"v": "k"})
    set_constraints(
        spark, path, [{"name": "v_pos", "kind": "check", "expr": "v >= 0"}]
    )
    with pytest.raises(ValueError, match="constraints"):
        rename_columns(spark, path, {"v": "val"})


def test_rename_cdf_and_cow_alignment(spark, tmp_path):
    """The rename commit emits no feed rows; a COW upsert after a rename
    diffs under the NEW names."""
    from vptstools_spark.plans.timetravel import (
        commit_upsert,
        rename_columns,
        table_changes,
    )

    path = str(tmp_path / "rn4")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])
    v1 = rename_columns(spark, path, {"v": "val"})
    commit_upsert(
        spark,
        path,
        spark.createDataFrame([(1, 0, 9.0)], "k long, day int, val double"),
        keys=["k"],
    )
    ch = table_changes(spark, path, -1)
    assert "val" in ch.columns and "v" not in ch.columns
    assert ch.filter(f"_commit_version = {v1}").count() == 0
    v2 = [
        (r["k"], r["val"], r["_change_type"])
        for r in ch.filter("_commit_version = 2").collect()
    ]
    assert sorted(v2) == [(1, 1.0, "delete"), (1, 9.0, "insert")]


# ------------------------------------------------------ hidden partitioning


def _hp_df(spark, rows):
    return spark.createDataFrame(
        rows, "k long, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_hidden_partitioning_days_write_and_read(spark, tmp_path):
    """days(ts) hidden partitioning: writers never supply the derived
    column, readers never see it, every write path derives it, and the
    layout is day-partitioned on disk."""
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        commit_append,
        commit_upsert,
    )

    path = str(tmp_path / "hp")
    base = _hp_df(spark, [
        (1, "2024-01-01 10:00:00", 1.0),
        (2, "2024-01-02 10:00:00", 2.0),
        (3, "2024-01-03 10:00:00", 3.0),
    ])
    commit_initial(
        base, path, ["p_day"],
        partition_transforms={"p_day": ("days", "ts")},
    )
    rv = read_version(spark, path)
    assert rv.columns == ["k", "ts", "v"]  # hidden
    assert all(
        "p_day=2024-01-0" in f for f in _read_commit(spark, path, 0)["files"]
    )
    commit_append(spark, path, _hp_df(spark, [(4, "2024-01-02 11:00:00", 4.0)]))
    commit_upsert(
        spark, path, _hp_df(spark, [(1, "2024-01-01 10:00:00", 9.0)]),
        keys=["k"],
    )
    got = sorted((r["k"], r["v"]) for r in read_version(spark, path).collect())
    assert got == [(1, 9.0), (2, 2.0), (3, 3.0), (4, 4.0)]
    # the COW upsert rewrote ONLY the touched day's partition
    f1 = set(_read_commit(spark, path, 1)["files"])
    f2 = set(_read_commit(spark, path, 2)["files"])
    assert all("p_day=2024-01-01" in f for f in f2 - f1)


def test_read_version_pruned_transform_aware(spark, tmp_path):
    """Predicates on the SOURCE column prune via the derived partition:
    the plan carries a PartitionFilters entry on p_day, and values match
    the plain row filter exactly (the residual restores granularity)."""
    from vptstools_spark.plans.timetravel import read_version_pruned

    path = str(tmp_path / "hp2")
    rows = [
        (i, f"2024-01-0{d} 0{i % 10}:30:00", float(i))
        for i, d in [(1, 1), (2, 1), (3, 2), (4, 2), (5, 3), (6, 3)]
    ]
    commit_initial(
        _hp_df(spark, rows), path, ["p_day"],
        partition_transforms={"p_day": ("days", "ts")},
    )
    import datetime

    cut = datetime.datetime(2024, 1, 2, 5, 0, 0)
    got = read_version_pruned(spark, path, "ts", ">=", cut)
    want = read_version(spark, path).filter(F.col("ts") >= F.lit(cut))
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "p_day" in plan  # the transform predicate reached the scan
    # equality maps too; granularity restored by the residual
    got_eq = read_version_pruned(
        spark, path, "ts", "=", datetime.datetime(2024, 1, 2, 3, 30, 0)
    )
    assert [r["k"] for r in got_eq.collect()] == [3]


def test_hidden_partitioning_bucket_and_truncate(spark, tmp_path):
    from vptstools_spark.plans.timetravel import (
        _read_commit,
        read_version_pruned,
    )

    path = str(tmp_path / "hp3")
    df = spark.createDataFrame(
        [(i, f"user_{i % 7}", float(i)) for i in range(40)],
        "k long, uid string, v double",
    )
    commit_initial(
        df, path, ["p_bucket"],
        partition_transforms={"p_bucket": ("bucket", "uid", 4)},
    )
    assert any(
        "p_bucket=" in f for f in _read_commit(spark, path, 0)["files"]
    )
    got = read_version_pruned(spark, path, "uid", "=", "user_3")
    assert sorted(r["k"] for r in got.collect()) == [
        i for i in range(40) if i % 7 == 3
    ]

    path2 = str(tmp_path / "hp4")
    commit_initial(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, v double"
        ),
        path2,
        ["p_kband"],
        partition_transforms={"p_kband": ("truncate_int", "k", 25)},
    )
    got = read_version_pruned(spark, path2, "k", "<", 30)
    assert sorted(r["k"] for r in got.collect()) == list(range(30))


def test_hidden_partitioning_follows_rename_and_compact(spark, tmp_path):
    """Renaming the transform's source column re-points the spec; compact
    re-derives; pruned reads keep working under the new name."""
    from vptstools_spark.plans.maintenance import compact_versioned_table
    from vptstools_spark.plans.timetravel import (
        commit_append,
        read_version_pruned,
        rename_columns,
    )

    path = str(tmp_path / "hp5")
    commit_initial(
        _hp_df(spark, [(1, "2024-01-01 10:00:00", 1.0)]), path, ["p_day"],
        partition_transforms={"p_day": ("days", "ts")},
    )
    rename_columns(spark, path, {"ts": "event_ts"})
    def _ev(rows):
        return spark.createDataFrame(
            rows, "k long, event_ts string, v double"
        ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))

    commit_append(spark, path, _ev([(2, "2024-01-02 10:00:00", 2.0)]))
    for _ in range(3):
        commit_append(spark, path, _ev([(10, "2024-01-02 12:00:00", 0.5)]))
    compact_versioned_table(spark, path, min_files=2)
    import datetime

    got = read_version_pruned(
        spark, path, "event_ts", ">=", datetime.datetime(2024, 1, 2)
    )
    assert sorted(r["k"] for r in got.collect()) == [2, 10, 10, 10]


def test_hidden_partitioning_validation(spark, tmp_path):
    path = str(tmp_path / "hp6")
    df = _hp_df(spark, [(1, "2024-01-01 00:00:00", 1.0)])
    with pytest.raises(ValueError, match="unknown transform"):
        commit_initial(df, path, ["p"], partition_transforms={"p": ("weeks", "ts")})
    with pytest.raises(ValueError, match="missing column"):
        commit_initial(df, path, ["p"], partition_transforms={"p": ("days", "nope")})
    with pytest.raises(ValueError, match="collides"):
        commit_initial(df, path, ["v"], partition_transforms={"v": ("days", "ts")})
    with pytest.raises(ValueError, match="must be listed"):
        commit_initial(df, path, [], partition_transforms={"p": ("days", "ts")})


def test_hidden_partitioning_hours(spark, tmp_path):
    """hours(ts) transform: sub-daily partition dirs, range predicates
    prune through the lexicographically-monotone rendering, boundary
    hour restored by the residual filter."""
    import datetime

    from vptstools_spark.plans.timetravel import (
        _read_commit,
        read_version_pruned,
    )

    path = str(tmp_path / "hp_hours")
    rows = [
        (i, f"2024-01-01 {h:02d}:{m:02d}:00", float(i))
        for i, (h, m) in enumerate(
            [(8, 10), (8, 50), (9, 15), (9, 45), (10, 5), (11, 30)]
        )
    ]
    commit_initial(
        _hp_df(spark, rows), path, ["p_hour"],
        partition_transforms={"p_hour": ("hours", "ts")},
    )
    files = _read_commit(spark, path, 0)["files"]
    assert any("p_hour=2024-01-01-08" in f for f in files)
    assert any("p_hour=2024-01-01-11" in f for f in files)
    assert read_version(spark, path).columns == ["k", "ts", "v"]  # hidden

    cut = datetime.datetime(2024, 1, 1, 9, 30, 0)
    got = read_version_pruned(spark, path, "ts", ">=", cut)
    # boundary hour 09 straddles the cut: 09:15 out, 09:45 in
    assert sorted(r["k"] for r in got.collect()) == [3, 4, 5]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "p_hour" in plan
    got_lt = read_version_pruned(spark, path, "ts", "<", cut)
    assert sorted(r["k"] for r in got_lt.collect()) == [0, 1, 2]


def test_snapshot_rowcount_metadata_only(spark, tmp_path):
    """snapshot_rowcount equals the real count across initial / append /
    MOR delete / update / purge — and takes the documented fallback only
    while un-purged equality entries exist."""
    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        delete_where,
        delete_where_eq,
        purge_deletes,
        read_version,
        snapshot_rowcount,
        update_where,
    )

    path = str(tmp_path / "rc")
    df = spark.range(0, 5000).selectExpr(
        "id AS k", "id % 7 AS x", "CAST(id % 4 AS INT) AS part"
    )
    commit_initial(df, path, ["part"])
    commit_append(
        spark, path, df.filter("k < 50").selectExpr("k + 90000 AS k", "x", "part")
    )
    delete_where(spark, path, "k % 9 = 0")
    update_where(spark, path, "k % 500 = 3", {"x": "x + 1"})
    for v in range(4):
        assert snapshot_rowcount(spark, path, v) == read_version(
            spark, path, v
        ).count()
    keys = spark.createDataFrame([(4,), (13,)], "k long")
    delete_where_eq(spark, path, keys, ["k"])
    assert snapshot_rowcount(spark, path) == read_version(spark, path).count()
    purge_deletes(spark, path)
    assert snapshot_rowcount(spark, path) == read_version(spark, path).count()


# ---------------------------------------------------------------------------
# type widening (widen_column_types)
# ---------------------------------------------------------------------------


def test_widen_int_to_long_reads_old_files_and_accepts_big_appends(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        read_version,
        widen_column_types,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    commit_initial(df, path, [])
    widen_column_types(spark, path, {"k": "bigint"})
    t = read_version(spark, path)
    assert dict((f.name, f.dataType.simpleString()) for f in t.schema.fields)[
        "k"
    ] == "bigint"
    # appends in the wide type, with values beyond int range
    commit_append(
        spark,
        path,
        spark.createDataFrame([(2**40, 1.0)], "k bigint, v double"),
    )
    t2 = read_version(spark, path)
    assert t2.count() == 101
    assert t2.agg(F.max("k")).collect()[0][0] == 2**40
    # pinned pre-widen snapshot keeps the narrow type
    t0 = read_version(spark, path, 0)
    assert dict((f.name, f.dataType.simpleString()) for f in t0.schema.fields)[
        "k"
    ] == "int"
    # narrowing and lossy promotions refused
    with pytest.raises(ValueError, match="not a loss-free widening"):
        widen_column_types(spark, path, {"k": "int"})
    with pytest.raises(ValueError, match="not a loss-free widening"):
        widen_column_types(spark, path, {"k": "double"})


def test_widen_refuses_partition_and_transform_columns(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from vptstools_spark.plans.timetravel import (
        commit_initial,
        widen_column_types,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 2).cast("int").alias("part"),
    )
    commit_initial(df, path, ["part"])
    with pytest.raises(ValueError, match="partition columns"):
        widen_column_types(spark, path, {"part": "bigint"})
    path2 = str(tmp_path / "t2")
    df2 = spark.range(0, 10).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("int").alias("b"),
    )
    commit_initial(
        df2, path2, ["pb"], partition_transforms={"pb": ("bucket", "b", 4)}
    )
    with pytest.raises(ValueError, match="hidden partition transforms"):
        widen_column_types(spark, path2, {"b": "bigint"})


def test_widen_and_cluster_are_noop_in_change_feed(spark, tmp_path):
    from pyspark.sql import functions as F

    from vptstools_spark.plans.maintenance import cluster_versioned_table
    from vptstools_spark.plans.timetravel import (
        commit_initial,
        table_changes,
        widen_column_types,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 500).select(
        F.col("id").cast("int").alias("k"), (F.col("id") % 7).alias("m")
    )
    commit_initial(df, path, [], stats_cols=["m"])
    v1 = widen_column_types(spark, path, {"k": "bigint"})
    v2 = cluster_versioned_table(spark, path, ["m"], n_files=4)["version"]
    feed = table_changes(spark, path, v1, v2)
    assert feed.count() == 0


# ---------------------------------------------------------------------------
# O(1)-open _latest hint
# ---------------------------------------------------------------------------


def test_latest_hint_written_verified_and_stale_safe(spark, tmp_path):
    import json
    import os

    from pyspark.sql import functions as F

    from vptstools_spark.plans.timetravel import (
        _resolve_latest_fast,
        commit_append,
        commit_initial,
        expire_versions,
        read_version,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 50).select(F.col("id").alias("k"))
    commit_initial(df, path, [])
    hint = os.path.join(path, "_log", "_latest")
    assert json.loads(open(hint).read())["version"] == 0
    commit_append(spark, path, df)
    commit_append(spark, path, df)
    assert _resolve_latest_fast(spark, path) == 2

    # stale hint (lost overwrite race): forward probe recovers the head
    from vptstools_spark.io import write_text_overwrite

    write_text_overwrite(spark, hint, json.dumps({"version": 0}))
    assert _resolve_latest_fast(spark, path) == 2

    # expiry refreshes the hint BEFORE removing entries, so the probe
    # can never stop below an expiry gap
    write_text_overwrite(spark, hint, json.dumps({"version": 0}))
    expire_versions(spark, path, keep_last=1)
    assert json.loads(open(hint).read())["version"] == 2
    assert read_version(spark, path).count() == 150

    # corrupt hint: clean fallback to the listing
    write_text_overwrite(spark, hint, "not json")
    assert _resolve_latest_fast(spark, path) is None
    assert read_version(spark, path).count() == 150

def test_vdir_schema_cache_survives_table_recreation(spark, tmp_path):
    """A table DROPPED and RECREATED at the same path reuses the `v0`
    version-dir label; the memoized vdir schema must not leak from the
    old table into the new one (ADVICE r7), and the cache stays bounded."""
    import shutil

    from vptstools_spark.plans import timetravel as tt
    from vptstools_spark.plans.timetravel import commit_initial, read_version

    path = str(tmp_path / "recreate")
    df_a = spark.createDataFrame([(1, "x")], "a long, s string")
    commit_initial(df_a, path)
    assert read_version(spark, path).columns == ["a", "s"]

    shutil.rmtree(path)
    df_b = spark.createDataFrame([(2.5, True, 7)], "f double, b boolean, n long")
    commit_initial(df_b, path)
    got = read_version(spark, path)
    assert got.columns == ["f", "b", "n"]
    assert got.collect()[0].f == 2.5

    # bounded: the LRU cap holds
    assert len(tt._VDIR_SCHEMA_CACHE) <= tt._VDIR_SCHEMA_CACHE_MAX


def test_vacuum_age_gate_protects_young_files(spark, tmp_path):
    """vacuum_table skips unreferenced files younger than
    min_age_seconds — an in-flight writer's not-yet-committed data
    survives an automated vacuum (ADVICE r5 medium)."""
    import os

    from vptstools_spark.plans.timetravel import _DATA_DIR, vacuum_table

    path = str(tmp_path / "t")
    commit_initial(_df(spark, [(0, 0, 0.0)]), path)
    # simulate an in-flight writer: data written, commit JSON not yet
    # published (every commit protocol here is write-files-then-publish)
    staged = os.path.join(path, _DATA_DIR, "v1", "part-inflight.parquet")
    os.makedirs(os.path.dirname(staged), exist_ok=True)
    _df(spark, [(1, 1, 1.0)]).toPandas().to_parquet(staged)

    # default gate: the young unreferenced file is untouched
    assert vacuum_table(spark, path) == []
    assert vacuum_table(spark, path, dry_run=True) == []
    assert os.path.exists(staged)
    # age the file below the cutoff -> reclaimable
    os.utime(staged, (1, 1))
    assert vacuum_table(spark, path, dry_run=True) == ["v1/part-inflight.parquet"]
    assert vacuum_table(spark, path) == ["v1/part-inflight.parquet"]
    assert not os.path.exists(staged)
    assert read_version(spark, path).count() == 1


def test_table_changes_expired_gap_raises_contract_error(spark, tmp_path):
    """History expired under a tag gap: the batch feed raises the clear
    contract error, not a raw sidecar miss."""
    from vptstools_spark.plans.branches import create_tag
    from vptstools_spark.plans.timetravel import commit_append, table_changes

    path = str(tmp_path / "t")
    commit_initial(_df(spark, [(0, 0, 0.0)]), path)
    for i in range(1, 5):
        commit_append(spark, path, _df(spark, [(i, i, float(i))]))
    create_tag(spark, path, "keep", version=1)
    expire_versions(spark, path, keep_last=2)  # survivors: 1(tag), 3, 4
    with pytest.raises(ValueError, match="expired"):
        table_changes(spark, path, 0)
