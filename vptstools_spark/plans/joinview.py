"""Incrementally-maintained JOIN materialized views over versioned tables.

Engine feature in the incremental-view-maintenance family (the delta-rule
algebra of Gupta & Mumick's IVM survey / DBToaster's higher-order deltas;
Materialize and Delta Live Tables ship the same contract). `plans/matview.py`
covers GROUP-BY summary tables; this module covers the other big MV class —
a persisted equi-JOIN of two versioned tables (fact ⋈ dim), refreshed from
their change-data feeds at O(changed data), never a full re-join.

The reference engine has no view layer at all (SURVEY §7.5's engine-extension
line); at 100 TB a pre-joined fact⋈dim table is what every BI/feature
pipeline reads, and rebuilding it per upstream commit is the canonical
accidental O(table) job this module eliminates.

Delta algebra (multiset-exact, inner join): with A_old → A_new = A_old + ΔA
and B_old → B_new = B_old + ΔB (ΔA, ΔB signed multisets from the change
feed: insert = +1, delete = −1),

    V_new − V_old = (ΔA ⋈ B_new) + (A_old ⋈ ΔB)

Proof sketch: A_new⋈B_new − A_old⋈B_old
  = (A_old+ΔA)⋈B_new − A_old⋈B_old
  = A_old⋈(B_new−B_old) + ΔA⋈B_new = A_old⋈ΔB + ΔA⋈B_new.  ∎

The algebra is applied as multisets, never by key: the new content of an
affected partition is (V_old ∪ ΔV⁺).exceptAll(ΔV⁻). That form is exact for
every churn pattern keyed application gets wrong — e.g. a left-row delete
concurrent with a right-row insert on the same join key contributes the
same output row at −1 (from ΔA⋈B_new) and +1 (from A_old⋈ΔB), net 0, which
cancellation handles and "apply deletes then inserts by key" does not.

Application is partition-scoped: the view is partitioned on a declared
view column, ΔV names the affected partitions, and only those are
recomputed and rewritten via dynamic partition overwrite — the same
bounded-worklist contract as `operators/merge.py:scope_to_partitions`.

Cost at scale: ΔA⋈B_new and A_old⋈ΔB are delta-sized probes into keyed
joins (the delta side broadcasts when small); the rewrite touches
O(affected partitions), not O(view). The one O(snapshot) input is A_old —
a pinned time-travel read used only as the build side of an equi-join
against the (small) ΔB; Catalyst pushes the join-key semi-filter into that
scan when ΔB broadcasts.

Scope: inner equi-joins. Outer joins need null-row compensation deltas
(the outer-IVM rules) — rejected loudly at definition time rather than
maintained wrongly.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.io import read_text_sidecar, write_text_sidecar
from vptstools_spark.plans.timetravel import (
    _resolve_version,
    read_version,
    table_changes,
)

_DEF_FILE = "_joinview.json"
_DATA_DIR = "data"
#: past this many affected partitions an incremental pass degenerates —
#: same bound as the merge/matview worklist discipline
_MAX_WORKLIST = 128

_CT = "_change_type"
_CV = "_commit_version"


@dataclass(frozen=True)
class JoinViewDef:
    """Definition of a maintained inner equi-join view.

    ``on`` are join key column names present in BOTH tables; ``select``
    is the view's output column list (must cover ``partition_by`` and may
    reference either side's columns — join keys resolve unambiguously
    because the join coalesces them)."""

    name: str
    left_path: str
    right_path: str
    on: list[str]
    select: list[str]
    partition_by: list[str]
    how: str = "inner"

    def __post_init__(self):
        if self.how != "inner":
            raise ValueError(
                "joinview maintains inner equi-joins only; outer joins "
                "need null-compensation deltas (unsupported: %r)" % self.how
            )
        missing = [c for c in self.partition_by if c not in self.select]
        if missing:
            raise ValueError(f"partition_by not in select: {missing}")

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "left_path": self.left_path,
                "right_path": self.right_path,
                "on": self.on,
                "select": self.select,
                "partition_by": self.partition_by,
                "how": self.how,
            }
        )


def _load_def(meta: dict) -> JoinViewDef:
    return JoinViewDef(
        name=meta["name"],
        left_path=meta["left_path"],
        right_path=meta["right_path"],
        on=list(meta["on"]),
        select=list(meta["select"]),
        partition_by=list(meta["partition_by"]),
        how=meta.get("how", "inner"),
    )


def _join(left: DataFrame, right: DataFrame, defn: JoinViewDef) -> DataFrame:
    # list-of-names join coalesces the key columns, so defn.select can
    # name them without ambiguity
    return left.join(right, defn.on, "inner").select(*defn.select)


def _meta_path(view_path: str) -> str:
    return os.path.join(view_path, _DEF_FILE)


def _data_path(view_path: str) -> str:
    return os.path.join(view_path, _DATA_DIR)


def build_joinview(
    spark: SparkSession, defn: JoinViewDef, view_path: str
) -> dict:
    """Full build: join the CURRENT versions of both tables, persist the
    result partitioned on ``defn.partition_by``, and pin the two source
    versions in the sidecar — the exclusive low bounds of the next
    refresh's change feeds."""
    lv = _resolve_version(spark, defn.left_path, None)
    rv = _resolve_version(spark, defn.right_path, None)
    left = read_version(spark, defn.left_path, lv)
    right = read_version(spark, defn.right_path, rv)
    view = _join(left, right, defn)
    (
        view.write.mode("overwrite")
        .partitionBy(*defn.partition_by)
        .parquet(_data_path(view_path))
    )
    meta = {
        **json.loads(defn.to_json()),
        "left_version": lv,
        "right_version": rv,
        "refreshes": [],
    }
    write_text_sidecar(spark, _meta_path(view_path), json.dumps(meta))
    return {"left_version": lv, "right_version": rv}


def read_joinview(
    spark: SparkSession, view_path: str
) -> tuple[DataFrame, JoinViewDef]:
    meta = json.loads(read_text_sidecar(spark, _meta_path(view_path)))
    defn = _load_def(meta)
    # partitionBy moves partition columns to the END on readback; restore
    # the declared column order so downstream positional ops stay sane
    return (
        spark.read.parquet(_data_path(view_path)).select(*defn.select),
        defn,
    )


def _signed_changes(
    spark: SparkSession, path: str, from_v: int, to_v: int
) -> DataFrame | None:
    """Change feed (from_v, to_v] with feed columns replaced by a signed
    multiplicity ``_sign`` ∈ {+1, −1}. None when no versions advanced."""
    if to_v <= from_v:
        return None
    ch = table_changes(spark, path, from_v, to_v)
    return ch.select(
        *[c for c in ch.columns if c not in (_CT, _CV)],
        F.when(F.col(_CT) == "insert", F.lit(1)).otherwise(F.lit(-1)).alias("_sign"),
    )


def refresh_joinview(spark: SparkSession, view_path: str) -> dict:
    """Incremental refresh: advance the view from its pinned source
    versions to the current ones at O(changed data).

    ΔV = (ΔA ⋈ B_new) + (A_old ⋈ ΔB), applied per affected partition as
    (V_old ∪ ΔV⁺).exceptAll(ΔV⁻) under dynamic partition overwrite.
    Partitions whose ΔV nets to emptiness are still rewritten (their
    content changed to empty — e.g. every row deleted); partitions ΔV
    never names keep their files byte-identical."""
    meta = json.loads(read_text_sidecar(spark, _meta_path(view_path)))
    defn = _load_def(meta)
    lv0, rv0 = meta["left_version"], meta["right_version"]
    lv1 = _resolve_version(spark, defn.left_path, None)
    rv1 = _resolve_version(spark, defn.right_path, None)
    if lv1 == lv0 and rv1 == rv0:
        return {"refreshed": False, "reason": "fresh", "delta_rows": 0}

    d_left = _signed_changes(spark, defn.left_path, lv0, lv1)
    d_right = _signed_changes(spark, defn.right_path, rv0, rv1)

    pieces: list[DataFrame] = []
    if d_left is not None:
        b_new = read_version(spark, defn.right_path, rv1)
        pieces.append(
            d_left.join(b_new, defn.on, "inner").select(*defn.select, "_sign")
        )
    if d_right is not None:
        a_old = read_version(spark, defn.left_path, lv0)
        pieces.append(
            a_old.join(d_right, defn.on, "inner").select(*defn.select, "_sign")
        )
    delta = pieces[0]
    for p in pieces[1:]:
        delta = delta.unionByName(p)
    delta = delta.persist()
    try:
        affected = [
            tuple(r[c] for c in defn.partition_by)
            for r in delta.select(*defn.partition_by).distinct().collect()
        ]
        n_delta = delta.count()
        if len(affected) > _MAX_WORKLIST:
            # the shared worklist discipline (operators/merge.py): past
            # ~128 partition literals the OR-predicate and per-partition
            # bookkeeping stop paying for themselves — a full rebuild is
            # one clean join instead of a degenerate incremental pass
            build_joinview(spark, defn, view_path)
            _advance(spark, view_path, json.loads(
                read_text_sidecar(spark, _meta_path(view_path))
            ), lv1, rv1, n_delta, len(affected))
            return {
                "refreshed": True,
                "delta_rows": n_delta,
                "partitions_rewritten": len(affected),
                "full_rebuild": True,
                "left_version": lv1,
                "right_version": rv1,
            }
        if not affected:
            # sources advanced but no view rows changed (e.g. non-matching
            # appends): just advance the pins
            _advance(spark, view_path, meta, lv1, rv1, 0, 0)
            return {
                "refreshed": True,
                "delta_rows": 0,
                "partitions_rewritten": 0,
                "left_version": lv1,
                "right_version": rv1,
            }

        def part_pred(df: DataFrame):
            conds = [_tuple_eq(df, defn.partition_by, vals) for vals in affected]
            out = conds[0]
            for c in conds[1:]:
                out = out | c
            return out

        v_old = spark.read.parquet(_data_path(view_path))
        # normalize readback order BEFORE exceptAll: partition columns
        # come back last, and exceptAll aligns by position
        v_old_aff = v_old.filter(part_pred(v_old)).select(*defn.select)
        plus = delta.filter(F.col("_sign") > 0).drop("_sign")
        minus = delta.filter(F.col("_sign") < 0).drop("_sign")
        new_aff = v_old_aff.unionByName(plus).exceptAll(minus)

        # new_aff READS the files the dynamic overwrite would delete —
        # a direct self-overwrite is a read-your-own-deletes race. Stage
        # the recomputed partitions (O(affected), not O(view)) and
        # overwrite from the staged copy.
        # outside data/ so view reads never glob it; no underscore prefix
        # (underscore roots trip Spark's ignore-list heuristics into WARNs)
        stage = os.path.join(view_path, f"stage-{lv1}-{rv1}")
        new_aff.write.mode("overwrite").parquet(stage)
        staged = spark.read.parquet(stage).select(*defn.select)

        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                staged.write.mode("overwrite")
                .partitionBy(*defn.partition_by)
                .parquet(_data_path(view_path))
            )
            # dynamic overwrite replaces only partitions present in the
            # staged data; an affected partition that became EMPTY (all
            # rows cancelled) produces no output partition and must be
            # dropped explicitly — the matview vanished-partition rule
            survivors = {
                tuple(r[c] for c in defn.partition_by)
                for r in staged.select(*defn.partition_by).distinct().collect()
            }
            for vals in affected:
                if tuple(vals) not in survivors:
                    _drop_partition_dir(spark, view_path, defn, vals)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            spark.catalog.refreshByPath(_data_path(view_path))
            _rm_dir(spark, stage)
        _advance(spark, view_path, meta, lv1, rv1, n_delta, len(affected))
        return {
            "refreshed": True,
            "delta_rows": n_delta,
            "partitions_rewritten": len(affected),
            "left_version": lv1,
            "right_version": rv1,
        }
    finally:
        delta.unpersist()


def _tuple_eq(df: DataFrame, cols: list[str], vals: tuple):
    cond = None
    for c, v in zip(cols, vals):
        piece = df[c].isNull() if v is None else (df[c] == F.lit(v))
        cond = piece if cond is None else (cond & piece)
    return cond


def _rm_dir(spark: SparkSession, target: str) -> None:
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(target)
    fs = p.getFileSystem(hconf)
    if fs.exists(p):
        fs.delete(p, True)


def _drop_partition_dir(
    spark: SparkSession, view_path: str, defn: JoinViewDef, vals: tuple
) -> None:
    """Remove a view partition whose rows all cancelled. Hive-rendered
    path (matching what partitionBy wrote); local+HDFS via the Hadoop FS
    API so it works on any supported filesystem."""
    from vptstools_spark.operators.merge import escape_partition_value

    segs = [
        f"{c}={escape_partition_value(v)}"
        for c, v in zip(defn.partition_by, vals)
    ]
    _rm_dir(spark, os.path.join(_data_path(view_path), *segs))


def _advance(
    spark: SparkSession,
    view_path: str,
    meta: dict,
    lv1: int,
    rv1: int,
    delta_rows: int,
    parts: int,
) -> None:
    meta = dict(meta)
    meta["left_version"], meta["right_version"] = lv1, rv1
    meta["refreshes"] = list(meta.get("refreshes", [])) + [
        {
            "left_version": lv1,
            "right_version": rv1,
            "delta_rows": delta_rows,
            "partitions_rewritten": parts,
        }
    ]
    write_text_sidecar(spark, _meta_path(view_path), json.dumps(meta))
