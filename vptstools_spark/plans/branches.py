"""Branches, tags, and write-audit-publish over versioned tables — the
Nessie/Iceberg-family ref layer (public designs: Iceberg branching &
tagging spec, Netflix's WAP pattern), re-expressed on the repo's own
commit log (`plans/timetravel.py`) with zero new storage machinery:

- A BRANCH is an independent commit chain under `_branch_log/{name}/`
  whose commits list files in the SAME shared `data/` directory as the
  main line. Forking copies a file LIST (KB-scale JSON), never data;
  branch writes land under `data/b-{name}-{gen}-v{k}/` (gen = a
  per-fork token, because a merged generation's dirs outlive the branch
  — main's merge commit references them) so they can never collide with
  main-line `v{k}` dirs or a prior fork of the same name; main readers never see them
  because visibility is commit-list membership, not directory layout.
- A TAG is an immutable named ref (`_refs/{name}.json`) pinning a
  main-line version; `expire_versions` walks around tagged versions
  until the tag is deleted, so a tag is a durable "this snapshot stays
  readable" promise (audit snapshots, model-training data pins).
- MERGE is fast-forward-only and O(metadata): if main has not moved
  since the fork, one new main commit adopts the branch head's file
  list verbatim. If main HAS moved, the merge refuses
  (`BranchConflictError`) — re-fork and replay, the honest contract for
  an engine without a transaction service to mediate three-way merges.
- WRITE-AUDIT-PUBLISH composes the three: stage the delta on a fork,
  run any audit over the staged snapshot (the DQ suites in
  `operators/quality.py` slot in directly), and publish by fast-forward
  merge — so un-audited rows are NEVER visible to main readers, and a
  failed audit costs one `drop_branch`.

At 100 TB every operation here is metadata-scale except the delta write
itself: fork = copy a JSON file list, merge = publish one JSON commit,
drop = delete a log dir (+ selective vacuum of branch-only files), tag
= one JSON ref. The data files shared between main and branches are
immutable by the commit-log contract, which is what makes all of this
safe without locks.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from vptstools_spark.io import create_text_exclusive, read_text_sidecar
from vptstools_spark.plans.skipping import list_data_files
from vptstools_spark.plans.timetravel import (
    _BRANCH_LOG_ROOT,
    _DATA_DIR,
    _LOG_DIR,
    _REFS_DIR,
    CommitConflictError,
    _carry,
    _commit,
    _enforce,
    _list_branch_names,
    _list_versions,
    _read_commit,
    _read_snapshot,
    _write_snapshot_files,
)

_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


class BranchConflictError(RuntimeError):
    """Main moved since the fork — fast-forward merge is impossible.
    Re-fork from the new head and replay the branch's delta (the repo's
    single-writer-per-line contract; no three-way merge is attempted)."""


class AuditFailedError(RuntimeError):
    """The WAP audit rejected the staged snapshot; nothing was published
    and the staging branch was dropped."""


def _check_name(name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(
            f"invalid ref name {name!r}: must match {_NAME_RE.pattern} "
            "(it becomes a filesystem path segment)"
        )
    return name


def _branch_log(name: str) -> str:
    return os.path.join(_BRANCH_LOG_ROOT, _check_name(name))


def _ref_path(path: str, name: str) -> str:
    return os.path.join(path, _REFS_DIR, f"{_check_name(name)}.json")


# ---------------------------------------------------------------- branches


def create_branch(
    spark: SparkSession, path: str, name: str, at_version: int | None = None
) -> int:
    """Fork `name` off the main line at `at_version` (default: latest).
    Zero data copy: the branch's commit 0 (op `fork`) adopts the parent
    commit's file list, delete vectors, constraints, and column order.
    Returns the branch version (always 0)."""
    blog = _branch_log(name)
    if _list_versions(spark, path, blog):
        raise ValueError(f"branch {name!r} already exists on {path}")
    versions = _list_versions(spark, path)
    if not versions:
        raise ValueError(f"no table at {path}")
    at = versions[-1] if at_version is None else at_version
    if at not in versions:
        raise ValueError(
            f"cannot fork at version {at}; available: "
            f"{versions[0]}..{versions[-1]}"
        )
    parent = _read_commit(spark, path, at)
    import uuid

    # generation token: a branch NAME can be reused across forks (WAP
    # re-stages under the same name every publish), but its data dirs
    # must never collide with a prior generation's — a merged branch's
    # dirs outlive the branch because main's merge commit references them
    gen = uuid.uuid4().hex[:8]
    _commit(
        spark,
        path,
        0,
        parent["files"],
        parent["partition_cols"],
        "fork",
        parent.get("partition_types"),
        {**_carry(parent), "forked_from": at, "gen": gen},
        log_dir=blog,
    )
    return 0


def _branch_head(spark: SparkSession, path: str, name: str) -> tuple[int, dict]:
    blog = _branch_log(name)
    versions = _list_versions(spark, path, blog)
    if not versions:
        raise ValueError(f"no branch {name!r} on {path}")
    return versions[-1], _read_commit(spark, path, versions[-1], blog)


def read_branch(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> DataFrame:
    """Read the branch's snapshot (default: branch head) — same
    semantics as `read_version`, including delete-vector application and
    evolved-schema alignment."""
    blog = _branch_log(name)
    versions = _list_versions(spark, path, blog)
    if not versions:
        raise ValueError(f"no branch {name!r} on {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(
            f"branch {name!r} has no version {v}; available: "
            f"{versions[0]}..{versions[-1]}"
        )
    return _read_snapshot(spark, path, v, log_dir=blog)


def branch_append(
    spark: SparkSession, path: str, name: str, df: DataFrame
) -> int:
    """Blind APPEND on a branch: new immutable files under the branch's
    own data-dir namespace + one branch commit; main readers see
    nothing. Schema must match the branch head exactly and the branch's
    carried constraints are enforced against the delta BEFORE the commit
    publishes — the staged line gets the same integrity gates as main."""
    head_v, head = _branch_head(spark, path, name)
    cur = _read_snapshot(spark, path, head_v, log_dir=_branch_log(name))
    cur_schema = {f.name: f.dataType.simpleString() for f in cur.schema.fields}
    new_schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if cur_schema != new_schema:
        raise ValueError(
            f"append schema {sorted(new_schema.items())} does not match "
            f"branch {name!r} schema {sorted(cur_schema.items())}"
        )
    _enforce(df, head, f"append@{name}", table=cur)
    new_v = head_v + 1
    pcols = head["partition_cols"]
    rels = _write_snapshot_files(
        df, path, new_v, pcols,
        vlabel=f"b-{name}-{head['gen']}-v{new_v}",
        transforms=head.get("partition_transforms"),
    )
    _commit(
        spark,
        path,
        new_v,
        head["files"] + rels,
        pcols,
        "append",
        head.get("partition_types"),
        {**_carry(head), "gen": head["gen"]},
        log_dir=_branch_log(name),
    )
    return new_v


def branch_overwrite(
    spark: SparkSession, path: str, name: str, df: DataFrame
) -> int:
    """Replace the branch's snapshot wholesale (op `overwrite`) — the
    recompute-and-swap staging pattern: rebuild the table on the fork,
    audit, fast-forward. Schema MAY change (the overwrite defines the
    new column order); prior delete vectors are dropped because no prior
    file survives; constraints carry and are enforced on the new rows."""
    head_v, head = _branch_head(spark, path, name)
    _enforce(df, head, f"overwrite@{name}", table=None)
    new_v = head_v + 1
    # hidden-partitioning transforms survive while their source column
    # does
    transforms = {
        k: v
        for k, v in (head.get("partition_transforms") or {}).items()
        if v[1] in df.columns
    }
    pcols = [
        c for c in head["partition_cols"] if c in df.columns or c in transforms
    ]
    rels = _write_snapshot_files(
        df, path, new_v, pcols,
        vlabel=f"b-{name}-{head['gen']}-v{new_v}",
        transforms=transforms,
    )
    from vptstools_spark.plans.timetravel import _derive

    ptypes = {
        f.name: f.dataType.simpleString()
        for f in _derive(df, transforms).schema.fields
        if f.name in pcols
    }
    _commit(
        spark,
        path,
        new_v,
        rels,
        pcols,
        "overwrite",
        ptypes,
        {
            "columns": df.columns,
            "delete_files": [],
            "constraints": head.get("constraints") or [],
            "partition_transforms": transforms,
            "gen": head["gen"],
        },
        log_dir=_branch_log(name),
    )
    return new_v


def merge_branch(
    spark: SparkSession, path: str, name: str, rebase: bool = False
) -> int:
    """Fast-forward-squash the branch into main: ONE new main commit
    (op `merge(name)`) adopting the branch head's file list, delete
    vectors, column order, and constraints — O(metadata), zero data
    movement, atomic via the same create-exclusive publish as every
    commit. Refuses (`BranchConflictError`) if main has advanced past
    the branch's fork point: the branch head's file list embeds the
    fork-time snapshot, so publishing it would silently DROP every
    main-line commit made since the fork.

    `rebase=True` relaxes the refusal with the `plans/occ.py` conflict
    matrix: when BOTH sides diverged only ADDITIVELY from the fork
    point — every fork-time file and vector survives in main's head AND
    in the branch head, and neither side changed schema, constraints,
    renames, or the partition spec — the three-way merge is just the
    union of both sides' additions, still O(metadata): the merge commit
    lists main-head files + branch-added files and main-head vectors +
    branch-added vectors (branch vectors reference fork-time files,
    which additivity proves survive). Any removal or metadata change on
    either side still refuses — rewrites don't commute with anything."""
    blog = _branch_log(name)
    versions = _list_versions(spark, path, blog)
    if not versions:
        raise ValueError(f"no branch {name!r} on {path}")
    fork = _read_commit(spark, path, versions[0], blog)
    head = _read_commit(spark, path, versions[-1], blog)
    main_versions = _list_versions(spark, path)
    main_head_v = main_versions[-1]
    if main_head_v == fork["forked_from"]:
        new_v = main_head_v + 1
        _commit(
            spark,
            path,
            new_v,
            head["files"],
            head["partition_cols"],
            f"merge({name})",
            head.get("partition_types"),
            _carry(head),
        )
        return new_v
    if not rebase:
        raise BranchConflictError(
            f"main is at version {main_head_v} but branch {name!r} "
            f"forked at {fork['forked_from']}; fast-forward is impossible "
            "— re-fork from the new head and replay the delta, or pass "
            "rebase=True to merge additive-only divergence"
        )
    fork_main = _read_commit(spark, path, fork["forked_from"])
    main_head = _read_commit(spark, path, main_head_v)

    def _endpoint_additive(base: dict, tip: dict) -> list[str]:
        probs = []
        if set(base["files"]) - set(tip["files"]):
            probs.append("removed data files")
        if set(base.get("delete_files") or []) - set(
            tip.get("delete_files") or []
        ):
            probs.append("dropped delete vectors")
        for k in (
            "columns", "constraints", "rename_history",
            "partition_cols", "partition_transforms",
        ):
            if (base.get(k) or None) != (tip.get(k) or None):
                probs.append(f"changed {k}")
        return probs

    for side, tip in (("main", main_head), (f"branch {name!r}", head)):
        probs = _endpoint_additive(fork_main, tip)
        if probs:
            raise BranchConflictError(
                f"rebase merge of {name!r} refused: {side} diverged "
                f"non-additively from fork version {fork['forked_from']} "
                f"({', '.join(probs)}); re-fork and replay"
            )
    branch_added = [
        f for f in head["files"] if f not in set(fork_main["files"])
    ]
    fork_dvs = set(fork_main.get("delete_files") or [])
    branch_added_dvs = [
        f for f in head.get("delete_files") or [] if f not in fork_dvs
    ]
    new_v = main_head_v + 1
    _commit(
        spark,
        path,
        new_v,
        main_head["files"] + branch_added,
        main_head["partition_cols"],
        f"merge({name})",
        main_head.get("partition_types"),
        {
            **_carry(main_head),
            "delete_files": (main_head.get("delete_files") or [])
            + branch_added_dvs,
            "txn": {
                "base_version": fork["forked_from"],
                "rebased_over": list(
                    range(fork["forked_from"] + 1, main_head_v + 1)
                ),
            },
        },
    )
    return new_v


def drop_branch(spark: SparkSession, path: str, name: str) -> list[str]:
    """Delete the branch's commit log, then reclaim its PRIVATE data
    files: anything under this branch's `b-{name}-v*` dirs that no
    surviving commit (main or other branch) references. Merged files
    survive — the merge commit on main references them. Returns the
    reclaimed files' table-relative paths."""
    blog_dir = os.path.join(path, _branch_log(name))
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(blog_dir)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        raise ValueError(f"no branch {name!r} on {path}")
    fs.delete(p, True)
    # selective vacuum, scoped to this branch's data-dir namespace
    referenced: set[str] = set()
    logs = [_LOG_DIR] + [
        os.path.join(_BRANCH_LOG_ROOT, b) for b in _list_branch_names(spark, path)
    ]
    for log_dir in logs:
        for v in _list_versions(spark, path, log_dir):
            c = _read_commit(spark, path, v, log_dir)
            referenced |= set(c["files"])
            referenced |= set(c.get("delete_files") or [])
            for e in c.get("eq_deletes") or []:
                referenced |= set(e["files"])
    prefix = f"b-{name}-"
    data_root = os.path.join(path, _DATA_DIR)
    marker = f"/{_DATA_DIR}/"
    removed = []
    still_referenced_vdirs = {
        r.split("/", 1)[0] for r in referenced if r.startswith(prefix)
    }
    branch_vdirs = set()
    for f in sorted(list_data_files(spark, data_root)):
        rel = f[f.rindex(marker) + len(marker) :]
        vdir = rel.split("/", 1)[0]
        if vdir.startswith(prefix):
            branch_vdirs.add(vdir)
            if rel not in referenced:
                removed.append(rel)
    # whole-directory delete when no surviving commit references the vdir
    # (clears _SUCCESS markers and empty partition dirs so a later branch
    # of the same name can stage into a fresh v1 again); file-by-file
    # otherwise — a merge commit may pin a subset of the vdir's files
    for vdir in sorted(branch_vdirs):
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(data_root, vdir))
        dir_fs = p.getFileSystem(hconf)
        if vdir not in still_referenced_vdirs:
            dir_fs.delete(p, True)
        else:
            for rel in removed:
                if rel.split("/", 1)[0] == vdir:
                    fp = jvm.org.apache.hadoop.fs.Path(
                        os.path.join(data_root, rel)
                    )
                    fp.getFileSystem(hconf).delete(fp, False)
    return removed


# -------------------------------------------------------------------- tags


def create_tag(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> int:
    """Pin a main-line version under an immutable name. Publishing is
    atomic create-exclusive — a tag name can never be reassigned
    (delete + recreate is the explicit two-step). Tagged versions are
    protected from `expire_versions`. Returns the pinned version."""
    versions = _list_versions(spark, path)
    if not versions:
        raise ValueError(f"no table at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(
            f"cannot tag version {v}; available: "
            f"{versions[0]}..{versions[-1]}"
        )
    ok = create_text_exclusive(
        spark, _ref_path(path, name), json.dumps({"name": name, "version": v})
    )
    if not ok:
        raise ValueError(
            f"tag {name!r} already exists on {path}; tags are immutable "
            "(create a new tag instead)"
        )
    return v


def list_tags(spark: SparkSession, path: str) -> dict[str, int]:
    refs_dir = os.path.join(path, _REFS_DIR)
    from vptstools_spark.plans.timetravel import _list_fs_children

    out = {}
    for fname in _list_fs_children(spark, refs_dir):
        if fname.endswith(".json"):
            ref = json.loads(
                read_text_sidecar(spark, os.path.join(refs_dir, fname))
            )
            out[ref["name"]] = int(ref["version"])
    return out


def read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    tags = list_tags(spark, path)
    if name not in tags:
        raise ValueError(f"no tag {name!r} on {path}; tags: {sorted(tags)}")
    return _read_snapshot(spark, path, tags[name])


# --------------------------------------------------------------------- WAP


def wap_publish(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    audit,
    branch_name: str = "wap",
    mode: str = "append",
) -> int:
    """Write-Audit-Publish: stage `delta` on a fork of the current head,
    run `audit(staged_snapshot_df) -> bool` over the WHOLE staged
    snapshot, and publish by fast-forward merge — un-audited rows are
    never visible to main readers. On audit failure the branch is
    dropped (its files reclaimed) and `AuditFailedError` raises; on a
    concurrent main-line commit the merge raises `BranchConflictError`
    after cleanup — retry is a re-fork, exactly as the merge contract
    documents. Returns the published main version."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    create_branch(spark, path, branch_name)
    try:
        if mode == "append":
            branch_append(spark, path, branch_name, delta)
        else:
            branch_overwrite(spark, path, branch_name, delta)
        if not audit(read_branch(spark, path, branch_name)):
            raise AuditFailedError(
                f"audit rejected the staged snapshot on branch "
                f"{branch_name!r}; nothing was published"
            )
        new_v = merge_branch(spark, path, branch_name)
    except BaseException:
        # ANY failure before the merge publishes (audit rejection, a
        # constraint violation inside the staged write, a merge race, a
        # broken audit fn) must not leave a dangling staging branch —
        # create_branch on the same name is the de-facto staging lock,
        # and an orphaned branch would deadlock the next publish
        drop_branch(spark, path, branch_name)
        raise
    drop_branch(spark, path, branch_name)
    return new_v
