"""Optimistic concurrency with LOGICAL conflict detection and rebase —
the Delta-style conflict matrix over `plans/timetravel.py`'s commit log.

The base layer's contract is physical: two writers racing to one version
number produce one winner and one `CommitConflictError`, even when their
changes are disjoint (two appends, an append racing a compaction). At
100 TB with simultaneous ingest, compaction and GDPR deletes on one
table, no-retry OCC is an operational wall: every maintenance pass fails
some ingest batch. This module adds what Delta's commit protocol layers
on top (public docs: "Concurrency control" conflict matrix; Iceberg's
commit retry semantics are the same shape): each transaction PREPARES
its artifacts once against a base snapshot (data files, delete vectors —
written under collision-free dir labels), then PUBLISHES in a loop — on
losing the physical race it reads the interleaved commits, checks its
read/write sets against what actually changed, and REBASES (republishes
the same artifacts against the new head) when the sets are disjoint.
Genuinely conflicting interleavings RE-DERIVE (re-prepare against the
new head — always correct, costs one more pass) or raise
`ConcurrentTransactionError` where re-derivation cannot be correct
(schema/spec changed under a prepared write).

Read/write sets per op, and what each rebase checks:

- `append_atomic` — write-set: its new files. Rebases over every winner
  that neither changed the schema/partition spec nor could invalidate a
  constraint probe; winners that added rows/rules under table
  constraints re-run enforcement against the head before publishing.
  Appends commute: any serial order yields the same table.
- `compact_atomic` — write-set: the victim files it rewrites. Rebases
  over additive winners whose new vectors hit no victim (such a vector's
  target would vanish in the rewrite and its deletes resurrect) → else
  re-derives. Maintenance never clobbers ingest; ingest never waits.

Every rebased commit records `{"txn": {"base_version", "rebased_over"}}`
so history shows which commits were replayed and across what.

Reference semantics matched: Delta Lake's documented conflict matrix
(Append vs Append never conflicts; anything vs a metadata change
conflicts; WriteSerializable orders deletes before concurrent appends).
The reference repo (aloftdata/vptstools) has no concurrency story — a
single pandas process; this subsystem exists for the 100 TB target.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from vptstools_spark.plans.timetravel import (
    _DATA_DIR,
    _carry,
    _commit,
    _enforce,
    _list_versions,
    _read_commit,
    _resolve_version,
    _write_snapshot_files,
    CommitConflictError,
    clear_write_intent,
    read_version,
    register_write_intent,
)


class _Intents:
    """Write-intent registrations for one transaction: every dir label
    this transaction will write under is declared to `vacuum_table`
    BEFORE the first file lands (timetravel.register_write_intent), and
    ALL labels are cleared in the caller's finally — success publishes a
    commit that references the files (vacuum-safe forever), failure
    makes them reclaimable the moment the intent drops. This closes the
    prepare→publish window the age gate only narrows: an OCC rebase loop
    can hold prepared-but-unpublished files across arbitrary wall-clock
    time (constraint re-enforcement, repeated lost races), so a vacuum
    with ANY min_age could otherwise reap a live writer's artifacts."""

    def __init__(self, spark: SparkSession, path: str):
        self._spark, self._path, self._labels = spark, path, []

    def register(self, label: str) -> str:
        register_write_intent(self._spark, self._path, label)
        self._labels.append(label)
        return label

    def clear_all(self) -> None:
        for label in self._labels:
            try:
                clear_write_intent(self._spark, self._path, label)
            except Exception:
                pass  # a leftover intent is safe (cleaned by operator)


class ConcurrentTransactionError(CommitConflictError):
    """The interleaved commits LOGICALLY conflict with this transaction
    (not just a version-number race) and re-derivation cannot be
    correct: the table's schema or partition spec changed under the
    prepared write."""


#: artifact-additive ops: add files/vectors/equality entries, remove
#: nothing — every pre-existing file and vector survives them
_ADDITIVE_OPS = {"append", "delete", "update", "upsert_mor", "delete_eq"}
#: metadata loosening: can never invalidate a prepared write
_SAFE_METADATA_OPS = {"drop_constraints"}
#: row-preserving rewrites: remove files but never change row content
_REWRITE_OPS = {"purge_deletes", "compact", "cluster"}


def _interleaved(
    spark: SparkSession, path: str, base_v: int, head_v: int
) -> list[dict]:
    """The winners' commits in (base_v, head_v]. Raises the history-gap
    contract error if expiry removed part of the range."""
    have = {
        v: None for v in _list_versions(spark, path) if base_v < v <= head_v
    }
    missing = [v for v in range(base_v + 1, head_v + 1) if v not in have]
    if missing:
        raise ConcurrentTransactionError(
            f"cannot rebase across expired history of {path}: versions "
            f"{missing} are gone; re-prepare against the head"
        )
    return [
        _read_commit(spark, path, v) for v in range(base_v + 1, head_v + 1)
    ]


def _is_additive(commit: dict) -> bool:
    op = commit["op"]
    return op in _ADDITIVE_OPS or op in _SAFE_METADATA_OPS


def _new_dvs(base: dict, head_chain: list[dict]) -> list[str]:
    """Delete-vector files the interleaved commits introduced."""
    base_dvs = set(base.get("delete_files") or [])
    out: list[str] = []
    for c in head_chain:
        for f in c.get("delete_files") or []:
            if f not in base_dvs and f not in out:
                out.append(f)
    return out


def _dv_targets(spark: SparkSession, path: str, dv_rels: list[str]) -> set[str]:
    """Distinct data files a set of delete-vector parquets reference —
    vectors are broadcast-small by table contract, so this is a
    metadata-scale read."""
    if not dv_rels:
        return set()
    df = spark.read.parquet(
        *[os.path.join(path, _DATA_DIR, f) for f in dv_rels]
    )
    return {r["file"] for r in df.select("file").distinct().collect()}


def _txn_extra(base_v: int, head_v: int) -> dict:
    if head_v == base_v:
        return {}
    return {
        "txn": {
            "base_version": base_v,
            "rebased_over": list(range(base_v + 1, head_v + 1)),
        }
    }


def append_atomic(
    spark: SparkSession, path: str, df: DataFrame, max_retries: int = 5
) -> int:
    """APPEND with rebase: data files are written ONCE against the base
    snapshot; losing the commit race re-checks the interleaved commits
    and republishes the SAME files against the new head — never a
    rewrite. Two appenders, or an appender racing a compaction, all
    succeed, and the result equals some serial order of the commits
    (appends commute; a compaction never sees files that don't exist
    yet). Raises `ConcurrentTransactionError` when a winner changed the
    schema or partition spec (rename/evolve/overwrite/restore/COW
    upsert), `ConstraintViolationError` when re-enforcement against the
    new head fails. Returns the committed version."""
    base_v = _resolve_version(spark, path, None)
    base = _read_commit(spark, path, base_v)
    cur_schema = {
        f.name: f.dataType.simpleString()
        for f in read_version(spark, path, base_v).schema.fields
    }
    new_schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if cur_schema != new_schema:
        raise ValueError(
            f"append schema {sorted(new_schema.items())} does not match "
            f"table schema {sorted(cur_schema.items())}"
        )
    _enforce(df, base, "append", table=read_version(spark, path, base_v))
    pcols = base["partition_cols"]
    intents = _Intents(spark, path)
    try:
        label = intents.register(f"v{base_v + 1}-t{uuid.uuid4().hex[:8]}")
        rels = _write_snapshot_files(
            df, path, base_v + 1, pcols,
            vlabel=label, transforms=base.get("partition_transforms"),
        )
        for _ in range(max_retries + 1):
            head_v = _resolve_version(spark, path, None)
            head = _read_commit(spark, path, head_v)
            if head_v != base_v:
                winners = _interleaved(spark, path, base_v, head_v)
                blocked = [
                    w["op"]
                    for w in winners
                    if not _is_additive(w)
                    and w["op"] not in _REWRITE_OPS
                    and w["op"] != "set_constraints"
                ]
                if blocked:
                    raise ConcurrentTransactionError(
                        f"append prepared at version {base_v} of {path} cannot "
                        f"rebase over interleaved {blocked} commits (schema- or "
                        "snapshot-defining); re-prepare against the head"
                    )
                if (head.get("constraints") or []) and any(
                    w["op"] in ("append", "update", "upsert_mor", "set_constraints")
                    for w in winners
                ):
                    # winners added rows or rules: the uniqueness probe
                    # against the base snapshot is stale — re-enforce on head
                    _enforce(
                        df, head, "append",
                        table=read_version(spark, path, head_v),
                    )
            try:
                _commit(
                    spark,
                    path,
                    head_v + 1,
                    head["files"] + rels,
                    head["partition_cols"],
                    "append",
                    head.get("partition_types"),
                    {**_carry(head), **_txn_extra(base_v, head_v)},
                )
                return head_v + 1
            except CommitConflictError:
                continue  # physical race: loop re-reads the newer head
        raise CommitConflictError(
            f"append to {path} lost the commit race {max_retries + 1} times; "
            "table is under heavy write contention"
        )
    finally:
        intents.clear_all()


def compact_atomic(
    spark: SparkSession,
    path: str,
    min_files: int = 4,
    max_partition_bytes: int = 1 << 30,
    zorder_by: list[str] | None = None,
    max_retries: int = 5,
) -> dict:
    """Small-file compaction with rebase: victims are chosen and
    rewritten ONCE against the base snapshot; losing the race to
    additive winners republishes the same compacted files with
    carried = head files minus victims — UNLESS a winner's new delete
    vectors hit a victim (the rewrite would drop the vector's target
    file and resurrect its deleted rows), in which case the compaction
    re-derives against the head. Ingest never waits for maintenance;
    maintenance never clobbers ingest. Returns the
    `compact_versioned_table` report."""
    from vptstools_spark.plans.maintenance import (
        _plan_compaction,
        _rewrite_victims,
    )

    def prepare(v: int):
        victims, n_parts = _plan_compaction(
            spark, path, v, min_files, max_partition_bytes
        )
        if not victims:
            return victims, n_parts, []
        rels = _rewrite_victims(
            spark, path, v, victims, zorder_by,
            intents.register(f"v{v + 1}-c{uuid.uuid4().hex[:8]}"),
        )
        return victims, n_parts, rels

    intents = _Intents(spark, path)
    try:
        return _compact_atomic_loop(spark, path, prepare, max_retries)
    finally:
        intents.clear_all()


def _compact_atomic_loop(spark, path, prepare, max_retries) -> dict:
    base_v = _resolve_version(spark, path, None)
    victims, n_parts, rels = prepare(base_v)
    for _ in range(max_retries + 1):
        head_v = _resolve_version(spark, path, None)
        head = _read_commit(spark, path, head_v)
        base = _read_commit(spark, path, base_v)
        if head_v != base_v:
            winners = _interleaved(spark, path, base_v, head_v)
            # a winner's new POSITION vectors must hit no victim, and a
            # winner EQUALITY delete blocks outright: the prepared
            # rewrite predates the entry, and its output files would
            # carry seqs ABOVE the entry's version — the entry would
            # stop masking the rewritten rows (resurrection)
            rebase_ok = (
                all(_is_additive(w) for w in winners)
                and not any(w["op"] == "delete_eq" for w in winners)
                and not (
                    _dv_targets(spark, path, _new_dvs(base, winners))
                    & set(victims)
                )
            )
            if not rebase_ok:
                base_v = head_v
                victims, n_parts, rels = prepare(base_v)
                head = _read_commit(spark, path, head_v)
                base = _read_commit(spark, path, base_v)
        if not victims:
            return {
                "version": head_v,
                "compacted_partitions": 0,
                "files_before": len(head["files"]),
                "files_after": len(head["files"]),
            }
        carried = [f for f in head["files"] if f not in set(victims)]
        try:
            _commit(
                spark,
                path,
                head_v + 1,
                carried + rels,
                head["partition_cols"],
                "compact",
                head.get("partition_types"),
                {**_carry(head), **_txn_extra(base_v, head_v)},
            )
            return {
                "version": head_v + 1,
                "compacted_partitions": n_parts,
                "files_before": len(head["files"]),
                "files_after": len(carried) + len(rels),
            }
        except CommitConflictError:
            continue
    raise CommitConflictError(
        f"compaction on {path} lost the commit race {max_retries + 1} times"
    )
