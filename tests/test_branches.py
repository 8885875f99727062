"""Branches, tags, and write-audit-publish (plans/branches.py)."""

import os

import pytest

from vptstools_spark.plans.branches import (
    AuditFailedError,
    BranchConflictError,
    branch_append,
    branch_overwrite,
    create_branch,
    create_tag,
    drop_branch,
    list_tags,
    merge_branch,
    read_branch,
    read_tag,
    wap_publish,
)
from vptstools_spark.plans.timetravel import (
    commit_append,
    commit_initial,
    expire_versions,
    history,
    _list_branch_names,
    read_version,
    set_constraints,
    ConstraintViolationError,
    vacuum_table,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, part string, v double")


def _base(spark, tmp_path, name="t"):
    path = str(tmp_path / name)
    commit_initial(
        _mk(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]),
        path,
        partition_cols=["part"],
    )
    return path


def _data_files(path):
    out = []
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def test_fork_is_zero_copy_and_isolated(spark, tmp_path):
    path = _base(spark, tmp_path)
    before = _data_files(path)
    create_branch(spark, path, "dev")
    assert _data_files(path) == before  # fork copied a file list, not data
    assert _list_branch_names(spark, path) == ["dev"]

    # branch sees the fork-point snapshot
    assert read_branch(spark, path, "dev").count() == 3

    # a branch append is invisible on main, visible on the branch
    branch_append(spark, path, "dev", _mk(spark, [(4, "b", 4.0)]))
    assert read_branch(spark, path, "dev").count() == 4
    assert read_version(spark, path).count() == 3


def test_merge_fast_forward_and_conflict(spark, tmp_path):
    path = _base(spark, tmp_path)
    create_branch(spark, path, "dev")
    branch_append(spark, path, "dev", _mk(spark, [(4, "c", 4.0)]))
    v = merge_branch(spark, path, "dev")
    main = read_version(spark, path, v)
    assert main.count() == 4
    assert {r["part"] for r in main.collect()} == {"a", "b", "c"}
    assert history(spark, path)[-1]["op"] == "merge(dev)"
    # merged files survive the branch drop
    drop_branch(spark, path, "dev")
    assert read_version(spark, path).count() == 4

    # main advances after a second fork -> fast-forward refused
    create_branch(spark, path, "dev2")
    commit_append(spark, path, _mk(spark, [(9, "z", 9.0)]))
    branch_append(spark, path, "dev2", _mk(spark, [(5, "c", 5.0)]))
    with pytest.raises(BranchConflictError):
        merge_branch(spark, path, "dev2")
    # main unharmed
    assert read_version(spark, path).count() == 5


def test_drop_branch_reclaims_private_files_only(spark, tmp_path):
    path = _base(spark, tmp_path)
    create_branch(spark, path, "scratch")
    branch_append(spark, path, "scratch", _mk(spark, [(7, "q", 7.0)]))
    assert any("b-scratch-" in f for f in _data_files(path))
    removed = drop_branch(spark, path, "scratch")
    assert removed and all(r.startswith("b-scratch-") for r in removed)
    assert not any("b-scratch-" in f for f in _data_files(path))
    assert _list_branch_names(spark, path) == []
    # main still reads clean
    assert read_version(spark, path).count() == 3


def test_branch_overwrite_recompute_swap(spark, tmp_path):
    path = _base(spark, tmp_path)
    create_branch(spark, path, "rebuild")
    branch_overwrite(
        spark, path, "rebuild", _mk(spark, [(10, "a", 1.5), (11, "b", 2.5)])
    )
    assert read_branch(spark, path, "rebuild").count() == 2
    assert read_version(spark, path).count() == 3
    v = merge_branch(spark, path, "rebuild")
    assert read_version(spark, path, v).count() == 2


def test_branch_respects_carried_constraints(spark, tmp_path):
    path = _base(spark, tmp_path)
    set_constraints(
        spark, path, [{"name": "v_pos", "kind": "check", "expr": "v > 0"}]
    )
    create_branch(spark, path, "dev")
    with pytest.raises(ConstraintViolationError):
        branch_append(spark, path, "dev", _mk(spark, [(8, "a", -1.0)]))


def test_tags_pin_and_protect(spark, tmp_path):
    path = _base(spark, tmp_path)
    create_tag(spark, path, "audit-2026q1")  # pins v0
    commit_append(spark, path, _mk(spark, [(4, "c", 4.0)]))
    commit_append(spark, path, _mk(spark, [(5, "c", 5.0)]))
    assert list_tags(spark, path) == {"audit-2026q1": 0}
    assert read_tag(spark, path, "audit-2026q1").count() == 3

    # immutable: same name cannot be reassigned
    with pytest.raises(ValueError):
        create_tag(spark, path, "audit-2026q1", version=1)

    # expiry walks around the tagged version
    expired = expire_versions(spark, path, keep_last=1)
    assert expired == [1]  # v0 is tagged, v2 is latest
    assert read_tag(spark, path, "audit-2026q1").count() == 3
    vacuum_table(spark, path, min_age_seconds=0)
    assert read_version(spark, path, 0).count() == 3  # tag kept files live


def test_wap_publish_gate(spark, tmp_path):
    path = _base(spark, tmp_path)

    def no_negatives(staged):
        return staged.filter("v < 0").count() == 0

    # failing audit: nothing published, branch gone
    with pytest.raises(AuditFailedError):
        wap_publish(
            spark, path, _mk(spark, [(4, "c", -4.0)]), audit=no_negatives
        )
    assert read_version(spark, path).count() == 3
    assert _list_branch_names(spark, path) == []
    assert not any("b-wap-" in f for f in _data_files(path))

    # passing audit publishes exactly one new main version
    v = wap_publish(spark, path, _mk(spark, [(4, "c", 4.0)]), audit=no_negatives)
    assert read_version(spark, path, v).count() == 4
    assert history(spark, path)[-1]["op"] == "merge(wap)"
    assert _list_branch_names(spark, path) == []


def test_metadata_tables(spark, tmp_path):
    from vptstools_spark.plans.timetravel import commit_append, files_metadata

    path = _base(spark, tmp_path)
    commit_append(spark, path, _mk(spark, [(4, "c", 4.0)]))

    f = files_metadata(spark, path)
    assert set(f.columns) == {"file", "introduced_in", "size_bytes", "part"}
    rows = f.collect()
    assert all(r["size_bytes"] > 0 for r in rows)
    assert {r["introduced_in"] for r in rows} == {"v0", "v1"}
    assert {r["part"] for r in rows} == {"a", "b", "c"}


def test_wap_cleans_up_on_constraint_violation(spark, tmp_path):
    from vptstools_spark.plans.branches import wap_publish

    path = _base(spark, tmp_path)
    set_constraints(
        spark, path, [{"name": "v_pos", "kind": "check", "expr": "v > 0"}]
    )
    # delta violates the TABLE constraint (not the audit): the staged
    # append itself is rejected, and the staging branch must not linger
    with pytest.raises(ConstraintViolationError):
        wap_publish(
            spark, path, _mk(spark, [(4, "c", -4.0)]), audit=lambda df: True
        )
    assert _list_branch_names(spark, path) == []
    # a follow-up publish on the same default branch name works
    v = wap_publish(
        spark, path, _mk(spark, [(4, "c", 4.0)]), audit=lambda df: True
    )
    assert read_version(spark, path, v).count() == 4


def test_wap_republish_same_branch_name(spark, tmp_path):
    """Three successive WAP publishes under the default branch name: a
    merged generation's data dirs outlive the branch (main references
    them), so re-staging must land in a fresh generation dir."""
    from vptstools_spark.plans.branches import wap_publish

    path = _base(spark, tmp_path)
    ok = lambda df: True  # noqa: E731
    for i, n in enumerate([4, 5, 6]):
        v = wap_publish(spark, path, _mk(spark, [(10 + i, "c", 1.0)]), audit=ok)
        assert read_version(spark, path, v).count() == n
    assert _list_branch_names(spark, path) == []
