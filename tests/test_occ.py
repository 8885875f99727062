"""Logical OCC: conflict detection + rebase (plans/occ.py) — disjoint
concurrent commits all succeed; conflicting ones re-derive or fail with
the contract error. Deterministic interleavings are forced by a
_commit wrapper that lets a WINNER commit first (losing the physical
race on purpose); the true-concurrency test runs writers in threads."""

import pytest
from pyspark.sql import functions as F

from vptstools_spark.plans import occ
from vptstools_spark.plans.occ import (
    ConcurrentTransactionError,
    append_atomic,
    compact_atomic,
)
from vptstools_spark.plans.timetravel import (
    _read_commit,
    commit_append,
    commit_initial,
    history,
    read_version,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, part int, v double")


def _init(spark, tmp_path, n=8):
    path = str(tmp_path / "t")
    commit_initial(
        _df(spark, [(i, i % 2, float(i)) for i in range(n)]), path, ["part"]
    )
    return path


def _lose_first_race(monkeypatch, winner_fn):
    """Patch occ._commit so the FIRST publish attempt loses: the winner
    commits first, then the original _commit runs (and conflicts)."""
    real = occ._commit
    state = {"fired": False}

    def racing(spark, path, version, *a, **kw):
        if not state["fired"]:
            state["fired"] = True
            winner_fn()
        return real(spark, path, version, *a, **kw)

    monkeypatch.setattr(occ, "_commit", racing)
    return state


def _rows(spark, path):
    return sorted(map(tuple, read_version(spark, path).collect()))


def test_append_rebases_over_append(spark, tmp_path, monkeypatch):
    path = _init(spark, tmp_path)
    winner = lambda: commit_append(spark, path, _df(spark, [(100, 0, 1.0)]))
    _lose_first_race(monkeypatch, winner)
    v = append_atomic(spark, path, _df(spark, [(200, 1, 2.0)]))
    assert v == 2  # winner took v1; loser rebased to v2
    c = _read_commit(spark, path, 2)
    assert c["txn"] == {"base_version": 0, "rebased_over": [1]}
    # BOTH appended rows present — the serial result
    ks = {r[0] for r in _rows(spark, path)}
    assert {100, 200} <= ks and len(ks) == 10


def test_append_rebase_reuses_prepared_files(spark, tmp_path, monkeypatch):
    path = _init(spark, tmp_path)
    winner = lambda: commit_append(spark, path, _df(spark, [(100, 0, 1.0)]))
    _lose_first_race(monkeypatch, winner)
    append_atomic(spark, path, _df(spark, [(200, 1, 2.0)]))
    c = _read_commit(spark, path, 2)
    # the rebased commit references files under the PREPARED v1-t* label
    # (written once against base) — no rewrite happened on rebase
    assert any(f.startswith("v1-t") for f in c["files"])


def test_append_blocked_by_schema_change(spark, tmp_path, monkeypatch):
    from vptstools_spark.plans.timetravel import rename_columns

    path = _init(spark, tmp_path)
    winner = lambda: rename_columns(spark, path, {"v": "val"})
    _lose_first_race(monkeypatch, winner)
    with pytest.raises(ConcurrentTransactionError, match="rename"):
        append_atomic(spark, path, _df(spark, [(200, 1, 2.0)]))


def test_compact_rebases_over_append(spark, tmp_path, monkeypatch):
    path = _init(spark, tmp_path)
    for i in range(4):
        commit_append(spark, path, _df(spark, [(10 + i, 0, 0.5)]))
    winner = lambda: commit_append(spark, path, _df(spark, [(50, 1, 5.0)]))
    _lose_first_race(monkeypatch, winner)
    rep = compact_atomic(spark, path, min_files=2)
    assert rep["compacted_partitions"] >= 1
    c = _read_commit(spark, path, rep["version"])
    assert c["txn"]["base_version"] == 4
    ks = {r[0] for r in _rows(spark, path)}
    assert ks == set(range(8)) | {10, 11, 12, 13, 50}


def test_compact_rederives_when_winner_deleted_from_victim(
    spark, tmp_path, monkeypatch
):
    """Winner's delete vectors hit a victim file: republishing the
    prepared rewrite would resurrect the deleted rows — the compaction
    re-derives and the deletes survive."""
    from vptstools_spark.plans.timetravel import delete_where

    path = _init(spark, tmp_path)
    for i in range(4):
        commit_append(spark, path, _df(spark, [(10 + i, 0, 0.5)]))
    winner = lambda: delete_where(spark, path, "k = 11")
    _lose_first_race(monkeypatch, winner)
    compact_atomic(spark, path, min_files=2)
    ks = {r[0] for r in _rows(spark, path)}
    assert 11 not in ks and {10, 12, 13} <= ks


def test_threaded_race_two_appenders_and_compaction(spark, tmp_path):
    """The VERDICT race: two appenders and a compaction, all submitted
    concurrently, ALL succeed without serializing through the caller;
    the merged history equals the serial result."""
    from concurrent.futures import ThreadPoolExecutor

    path = _init(spark, tmp_path)
    for i in range(6):  # small files so compaction has victims
        commit_append(spark, path, _df(spark, [(10 + i, i % 2, 0.5)]))

    a = _df(spark, [(100 + i, 0, 1.0) for i in range(3)])
    b = _df(spark, [(200 + i, 1, 2.0) for i in range(3)])
    with ThreadPoolExecutor(max_workers=3) as ex:
        fa = ex.submit(append_atomic, spark, path, a)
        fb = ex.submit(append_atomic, spark, path, b)
        fc = ex.submit(compact_atomic, spark, path, 2)
        va, vb = fa.result(120), fb.result(120)
        rep = fc.result(120)
    assert len({va, vb, rep["version"]}) == 3  # three distinct commits
    # serial-equivalent content: initial + both appends, nothing lost
    want = sorted(
        [(i, i % 2, float(i)) for i in range(8)]
        + [(10 + i, i % 2, 0.5) for i in range(6)]
        + [(100 + i, 0, 1.0) for i in range(3)]
        + [(200 + i, 1, 2.0) for i in range(3)]
    )
    assert _rows(spark, path) == want
    assert len(history(spark, path)) == 10  # 0 + 6 + 2 appends + compact


def test_merge_branch_rebase_additive_divergence(spark, tmp_path):
    """Both sides diverged only additively from the fork: rebase merge
    = union of both sides' additions, one O(metadata) commit."""
    from vptstools_spark.plans.branches import (
        branch_append,
        create_branch,
        merge_branch,
        BranchConflictError,
    )

    path = _init(spark, tmp_path)
    create_branch(spark, path, "wip")
    branch_append(spark, path, "wip", _df(spark, [(100, 0, 1.0)]))
    commit_append(spark, path, _df(spark, [(200, 1, 2.0)]))  # main moved
    with pytest.raises(BranchConflictError):
        merge_branch(spark, path, "wip")  # fast-forward still refuses
    v = merge_branch(spark, path, "wip", rebase=True)
    c = _read_commit(spark, path, v)
    assert c["txn"]["base_version"] == 0
    ks = {r[0] for r in _rows(spark, path)}
    assert {100, 200} <= ks and len(ks) == 10


def test_merge_branch_rebase_refuses_nonadditive_main(spark, tmp_path):
    from vptstools_spark.plans.branches import (
        branch_append,
        create_branch,
        merge_branch,
        BranchConflictError,
    )
    from vptstools_spark.plans.maintenance import compact_versioned_table

    path = _init(spark, tmp_path)
    for i in range(3):
        commit_append(spark, path, _df(spark, [(10 + i, 0, 0.5)]))
    create_branch(spark, path, "wip")
    branch_append(spark, path, "wip", _df(spark, [(100, 0, 1.0)]))
    compact_versioned_table(spark, path, min_files=2)  # main REWROTE files
    with pytest.raises(BranchConflictError, match="non-additively"):
        merge_branch(spark, path, "wip", rebase=True)


def test_vacuum_never_reaps_inflight_writer_files(spark, tmp_path, monkeypatch):
    """VERDICT r6 #5: a vacuum with min_age=0 injected INTO the
    prepare→publish window (files written, commit JSON not yet) must not
    delete the writer's files — the write-intent sidecar protects them
    regardless of the age gate. The vacuum fires inside the publish loop
    via the patched _commit, which is exactly the rebase window."""
    from vptstools_spark.plans.timetravel import vacuum_table

    path = _init(spark, tmp_path)
    real = occ._commit
    vacuumed = {}

    def vacuum_then_commit(spark_, path_, version, *a, **kw):
        if "removed" not in vacuumed:
            vacuumed["removed"] = vacuum_table(
                spark_, path_, min_age_seconds=0.0
            )
        return real(spark_, path_, version, *a, **kw)

    monkeypatch.setattr(occ, "_commit", vacuum_then_commit)
    v = append_atomic(spark, path, _df(spark, [(100, 0, 1.0)]))
    assert vacuumed["removed"] == []  # nothing reclaimed mid-flight
    assert v == 1
    got = _rows(spark, path)
    assert (100, 0, 1.0) in got and len(got) == 9  # commit fully readable


def test_vacuum_reaps_after_intent_cleared(spark, tmp_path):
    """The flip side: once a transaction clears its intent WITHOUT
    publishing (abort), its files are ordinary orphans — age-gated but
    reclaimable at min_age=0."""
    from vptstools_spark.plans.timetravel import (
        _DATA_DIR,
        clear_write_intent,
        register_write_intent,
        vacuum_table,
    )
    import os

    path = _init(spark, tmp_path)
    label = "v99-tdeadbeef"
    register_write_intent(spark, path, label)
    _df(spark, [(7, 0, 7.0)]).write.parquet(
        os.path.join(path, _DATA_DIR, label)
    )
    assert vacuum_table(spark, path, min_age_seconds=0.0) == []  # protected
    clear_write_intent(spark, path, label)
    removed = vacuum_table(spark, path, min_age_seconds=0.0)
    assert removed and all(r.startswith(label + "/") for r in removed)


def test_append_and_compact_clear_intents(spark, tmp_path):
    """Every atomic op must leave the intent dir empty on success — a
    leaked intent permanently shields garbage from vacuum."""
    from vptstools_spark.plans.timetravel import _active_intent_labels

    path = _init(spark, tmp_path)
    append_atomic(spark, path, _df(spark, [(200, 0, 2.0)]))
    compact_atomic(spark, path, min_files=1)
    assert _active_intent_labels(spark, path) == set()
