"""Versioned-table maintenance: small-file compaction and z-order
clustering as commits on `plans/timetravel.py` tables.

Cost contract at 100 TB: every stage is worklist-scoped. The victim set
is decided from `files_metadata` (one filesystem stat per file, no data
scan) and only the listed partitions are rewritten — so a maintenance run
on a quiet table is a listing + no-op, and on a busy table costs one
exchange over the touched partitions.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def compact_versioned_table(
    spark: SparkSession,
    path: str,
    min_files: int = 4,
    max_partition_bytes: int = 1 << 30,
    zorder_by: list[str] | None = None,
) -> dict:
    """Small-file compaction as a COMMIT (the Iceberg rewrite-data-files /
    Delta OPTIMIZE shape for `plans/timetravel.py` tables) — the remedy
    for the small-file accretion that frequent small commits produce.
    Policy, all decided from `files_metadata` (one filesystem
    stat per file, no data scan):

    - a partition is a VICTIM when it holds >= `min_files` files and
      <= `max_partition_bytes` total (a huge partition is many files for
      a reason — compacting it into one task would serialize the write;
      leave it to partition-split strategies);
    - pre-evolution LEGACY files (partition values undecidable from the
      path after `evolve_partitioning`) are always victims: compaction
      doubles as spec migration, same rule as the COW upsert;
    - victims' rows are read with delete vectors APPLIED (deletes
      materialize for rewritten files, like `purge_deletes`), shuffled to
      ONE task per partition (`repartition(partition_cols)` — output is
      one file per compacted partition), optionally z-order-sorted within
      (`zorder_by` → plans/zorder.py:zvalue), and committed under a new
      version with every non-victim file CARRIED. Readers keep every
      prior version; vacuum reclaims the small files when their last
      referencing commit expires.

    Returns {"version", "compacted_partitions", "files_before",
    "files_after"} ("version" = current when nothing qualifies — no empty
    commit). For compaction racing live writers use
    `plans/occ.py:compact_atomic`, which prepares through the same
    `_plan_compaction`/`_rewrite_victims` halves and rebases the
    publish."""
    from vptstools_spark.plans.timetravel import (
        _carry,
        _commit,
        _read_commit,
        _resolve_version,
    )

    prev_v = _resolve_version(spark, path, None)
    prev = _read_commit(spark, path, prev_v)
    victims, n_parts = _plan_compaction(
        spark, path, prev_v, min_files, max_partition_bytes
    )
    if not victims:
        return {
            "version": prev_v,
            "compacted_partitions": 0,
            "files_before": len(prev["files"]),
            "files_after": len(prev["files"]),
        }
    new_v = prev_v + 1
    rels = _rewrite_victims(spark, path, prev_v, victims, zorder_by, None)
    carried = [f for f in prev["files"] if f not in set(victims)]
    _commit(
        spark,
        path,
        new_v,
        carried + rels,
        prev["partition_cols"],
        "compact",
        prev.get("partition_types"),
        # vectors that hit rewritten files were materialized; their
        # entries now match nothing (harmless, purged on purge_deletes)
        _carry(prev),
    )
    return {
        "version": new_v,
        "compacted_partitions": n_parts,
        "files_before": len(prev["files"]),
        "files_after": len(carried) + len(rels),
    }


def _plan_compaction(
    spark: SparkSession,
    path: str,
    version: int,
    min_files: int,
    max_partition_bytes: int,
) -> tuple[list[str], int]:
    """Victim selection for one snapshot — pure metadata (one stat per
    file via files_metadata, no data scan). Returns (victim files,
    compacted partition count incl. the legacy bucket)."""
    from vptstools_spark.plans.timetravel import (
        _partition_of,
        _read_commit,
        files_metadata,
    )

    pcols = _read_commit(spark, path, version)["partition_cols"]
    fm = files_metadata(spark, path, version).collect()
    by_part: dict[tuple, list] = {}
    legacy: list[str] = []
    for r in fm:
        pt = _partition_of(r["file"], pcols)
        if pcols and None in pt:
            legacy.append(r["file"])
        else:
            by_part.setdefault(pt, []).append(r)
    victims: list[str] = list(legacy)
    n_parts = 0
    for pt, rows in by_part.items():
        if len(rows) >= min_files and sum(
            r["size_bytes"] for r in rows
        ) <= max_partition_bytes:
            victims.extend(r["file"] for r in rows)
            n_parts += 1
    return victims, n_parts + (1 if legacy else 0)


def _rewrite_victims(
    spark: SparkSession,
    path: str,
    version: int,
    victims: list[str],
    zorder_by: list[str] | None,
    vlabel: str | None,
) -> list[str]:
    """Rewrite the victims' rows (delete vectors APPLIED — deletes
    materialize for rewritten files) into one file per compacted
    partition under `vlabel` (default `v{version+1}`); returns the new
    files' rels."""
    from vptstools_spark.plans.timetravel import (
        _derive,
        _read_commit,
        _read_snapshot,
        _write_snapshot_files,
    )
    from vptstools_spark.plans.zorder import zvalue

    prev = _read_commit(spark, path, version)
    pcols = prev["partition_cols"]
    snap = _read_snapshot(spark, path, version, file_subset=set(victims))
    # hidden-partitioning transforms: derive the partition columns before
    # clustering on them (the logical read excludes them by design)
    snap = _derive(snap, prev.get("partition_transforms") or {})
    # one output file per compacted partition; unpartitioned tables
    # compact to a single file (they qualified under the byte bound)
    snap = snap.repartition(*pcols) if pcols else snap.repartition(1)
    if zorder_by:
        snap = snap.sortWithinPartitions(zvalue(snap, zorder_by))
    return _write_snapshot_files(
        snap, path, version + 1, pcols, vlabel=vlabel
    )


def cluster_versioned_table(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 8,
    incremental: bool = False,
) -> dict:
    """Full-snapshot Z-ORDER re-cluster as a COMMIT — Delta's
    ``OPTIMIZE ... ZORDER BY`` for `plans/timetravel.py` tables, and the
    step that makes the commit-tracked file-skipping manifests BITE:
    after the rewrite every data file covers one segment of the Morton
    curve over `cols`, so the footer [min, max] envelopes each commit
    records (stats_cols) are tight in EVERY listed dimension and
    `read_version_pruned`/`read_version_where` admit a small file subset
    for a predicate on ANY of them — not just the leading sort key.

    Mechanics: one snapshot read (delete vectors and equality entries
    APPLIED — deletes materialize, so the new commit carries none), one
    quantile job for the bucket boundaries (plan literals), ONE range
    exchange on the z-value with within-partition sort, and a commit
    whose new files get fresh footer stats automatically (`_commit`
    footer-reads files new to a commit). Prior versions stay readable;
    vacuum reclaims the old layout when its last referencing commit
    expires.

    At 100 TB this is the periodic re-layout job: cost is the one
    unavoidable full-table exchange, amortized over every subsequent
    selective scan (measured in tests: point/range predicates admit a
    fraction of files vs ~all before). Hive-partitioned tables keep
    their directory layout (`n_files` bounds files per partition dir);
    the z-curve is most effective on unpartitioned or coarse-partitioned
    silver tables. Returns {"version", "files"}."""
    from vptstools_spark.plans.timetravel import (
        _carry,
        _commit,
        _read_commit,
        _read_snapshot,
        _resolve_version,
        _write_snapshot_files,
    )
    from vptstools_spark.plans.zorder import zvalue

    prev_v = _resolve_version(spark, path, None)
    prev = _read_commit(spark, path, prev_v)
    live = set(prev["files"])
    clustered = [f for f in (prev.get("clustered_files") or []) if f in live]
    if incremental and clustered:
        # liquid-style incremental pass: rewrite ONLY the unclustered
        # accretion (streaming/append churn since the last cluster
        # commit); the already-clustered bulk is CARRIED — at 100 TB
        # this is the difference between an OPTIMIZE that costs
        # O(new data) and one that rewrites the table. The new files
        # get tight footer envelopes of their own; the bulk keeps its
        # curve. Vectors that hit rewritten victims are materialized
        # (their entries then match nothing — same contract as
        # compaction); vectors on carried files keep applying.
        victims = sorted(live - set(clustered))
        if not victims:
            return {
                "version": prev_v,
                "files": len(prev["files"]),
                "rewritten": 0,
            }
        snap = _read_snapshot(spark, path, prev_v, file_subset=set(victims))
        carried = clustered
    else:
        victims = sorted(live)
        snap = _read_snapshot(spark, path, prev_v)
        carried = []
    z = zvalue(snap, cols, bits)
    df = (
        snap.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    new_v = prev_v + 1
    transforms = {
        k: tuple(v)
        for k, v in (prev.get("partition_transforms") or {}).items()
    }
    rels = _write_snapshot_files(
        df, path, new_v, prev["partition_cols"], transforms=transforms
    )
    extra = {
        **_carry(prev),
        "zorder_by": list(cols),
        "clustered_files": carried + rels,
    }
    if not carried:
        # full rewrite with deletes applied: no carried vectors/entries.
        # (Incremental passes carry them: vectors on carried files keep
        # applying; victim-referencing vector rows are inert because the
        # rewrite materialized those deletes.)
        extra["delete_files"] = []
        extra["eq_deletes"] = []
        extra["file_seqs"] = {}
    _commit(
        spark,
        path,
        new_v,
        carried + rels,
        prev["partition_cols"],
        "cluster",
        prev.get("partition_types"),
        extra,
    )
    return {"version": new_v, "files": len(carried) + len(rels), "rewritten": len(rels)}
