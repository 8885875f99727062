"""Aggregate materialized views (summary tables) with rollup answering.

Engine feature in the OLAP summary-table family (Druid/Pinot rollups,
BigQuery materialized views, Calcite's aggregate-match rewrite; the
reference engine has no MV layer — this extends SURVEY §7.5's
engine-extension line): define an aggregate MV over a base table, persist
it as partitioned parquet plus a JSON definition sidecar, and answer any
COARSER aggregation from the MV instead of the base table. At 100 TB the
MV is smaller than the base by the rollup factor (often 10³–10⁶×), so a
matched dashboard query scans megabytes instead of the lake.

Matching is SPEC-level, not plan-level: a request (dims, measures) routes
to the MV iff dims ⊆ mv.dims and every requested measure is derivable
from the MV's stored measures. Anything else falls through to the base
table — the router can be conservative but never wrong. Derivability is
the standard re-aggregation algebra:

    sum   → SUM(mv.sum)          count → SUM(mv.count)
    min   → MIN(mv.min)          max   → MAX(mv.max)
    avg   → SUM(mv.sum) / SUM(mv.count)   — never AVG(mv.avg)

(avg is why MVs must store sum+count, not averages: averages of averages
are wrong under uneven group sizes.)
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DEF_FILE = "_matview.json"
_DATA_DIR = "data"

#: measure functions the re-aggregation algebra can roll up further.
#: (avg is intentionally absent from STORABLE: it is derived, never stored)
STORABLE_FNS = ("sum", "count", "min", "max")
_REAGG = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


@dataclass(frozen=True)
class Measure:
    """One stored measure: `fn` over base column `col` (count uses "*"),
    optionally pre-cast to `cast` (e.g. "decimal(18,2)" for money sums —
    the exact-money rule survives re-aggregation because decimal sums of
    decimal sums are still exact)."""

    fn: str
    col: str
    cast: str | None = None

    def __post_init__(self):
        if self.fn not in STORABLE_FNS:
            raise ValueError(
                f"measure fn {self.fn!r} not storable; use one of {STORABLE_FNS}"
            )


@dataclass(frozen=True)
class MatViewDef:
    name: str
    dims: tuple[str, ...]
    measures: dict = field(hash=False)  # out_col -> Measure
    partition_dim: str | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "dims": list(self.dims),
                "measures": {
                    k: {"fn": m.fn, "col": m.col, "cast": m.cast}
                    for k, m in self.measures.items()
                },
                "partition_dim": self.partition_dim,
            }
        )

    @staticmethod
    def from_json(s: str) -> "MatViewDef":
        d = json.loads(s)
        return MatViewDef(
            name=d["name"],
            dims=tuple(d["dims"]),
            measures={
                k: Measure(m["fn"], m["col"], m.get("cast"))
                for k, m in d["measures"].items()
            },
            partition_dim=d.get("partition_dim"),
        )


def _agg_exprs(mv: MatViewDef) -> list:
    out = []
    for name, m in mv.measures.items():
        if m.fn == "count":
            src = F.lit(1) if m.col == "*" else F.col(m.col)
            expr = F.count(src)
        else:
            c = F.col(m.col)
            if m.cast:
                c = c.cast(m.cast)
            expr = getattr(F, m.fn)(c)
        out.append(expr.alias(name))
    return out


def _aggregate(base: DataFrame, mv: MatViewDef) -> DataFrame:
    return base.groupBy(*mv.dims).agg(*_agg_exprs(mv))


def create_matview(base: DataFrame, path: str, mv: MatViewDef) -> None:
    """Full build: one aggregate over the base table → parquet (partitioned
    by `partition_dim` when set, so refresh and dim-filtered reads prune
    at planning time) + the definition sidecar."""
    if mv.partition_dim is not None and mv.partition_dim not in mv.dims:
        raise ValueError("partition_dim must be one of the MV dims")
    agg = _aggregate(base, mv)
    w = agg.write.mode("overwrite")
    if mv.partition_dim:
        w = w.partitionBy(mv.partition_dim)
    w.parquet(os.path.join(path, _DATA_DIR))
    from vptstools_spark.io import write_text_sidecar

    write_text_sidecar(
        base.sparkSession, os.path.join(path, _DEF_FILE), mv.to_json()
    )


def read_matview(spark: SparkSession, path: str) -> tuple[DataFrame, MatViewDef]:
    from vptstools_spark.io import read_text_sidecar

    mv = MatViewDef.from_json(
        read_text_sidecar(spark, os.path.join(path, _DEF_FILE))
    )
    return spark.read.parquet(os.path.join(path, _DATA_DIR)), mv


#: predicate operators the MV router understands; anything else is a miss
_FILTER_OPS = {
    "=": lambda c, v: F.col(c) == F.lit(v),
    "!=": lambda c, v: F.col(c) != F.lit(v),
    "<": lambda c, v: F.col(c) < F.lit(v),
    "<=": lambda c, v: F.col(c) <= F.lit(v),
    ">": lambda c, v: F.col(c) > F.lit(v),
    ">=": lambda c, v: F.col(c) >= F.lit(v),
    "in": lambda c, v: F.col(c).isin(list(v)),
}


def _filters_answerable(mv: MatViewDef, filters: list | None) -> bool:
    """A predicate commutes with the MV's aggregation iff it references
    only GROUPING dims — each MV row is exactly one (dims…) cell, so a
    dim filter selects whole cells and every stored measure stays exact.
    A filter on a measure or any non-dim base column would need row-level
    data the MV no longer has → base-table fallback."""
    for col, op, _ in filters or []:
        if col not in mv.dims or op not in _FILTER_OPS:
            return False
    return True


def _filter_expr(filters: list):
    from functools import reduce

    return reduce(
        lambda a, b: a & b,
        [_FILTER_OPS[op](col, v) for col, op, v in filters],
    )


def can_answer(
    mv: MatViewDef,
    dims: list[str],
    wanted: dict,
    assume_non_null: bool = False,
    filters: list | None = None,
) -> bool:
    """True iff (dims, wanted, filters) is derivable: dims ⊆ mv.dims,
    every filter references an MV dim with a supported operator
    (`filters`: [(col, op, value), …] — ANDed), and every wanted
    (fn, col) has its stored prerequisite(s) — avg needs BOTH the sum and
    the count of the same column set.

    avg = Σsum/Σcount is only exact when the count skips the same NULLs
    the sum does, so by DEFAULT avg(col) requires a stored count(col);
    count(*) substitutes ONLY under the caller's explicit
    `assume_non_null=True` declaration (the conservative-router contract:
    a silent wrong answer on a nullable column is worse than a base-table
    fallback)."""
    for _, op, _v in filters or []:
        if op not in _FILTER_OPS:
            raise ValueError(
                f"unsupported filter op {op!r}; supported: {sorted(_FILTER_OPS)}"
            )
    if not set(dims) <= set(mv.dims):
        return False
    if not _filters_answerable(mv, filters):
        return False
    stored = {(m.fn, m.col) for m in mv.measures.values()}
    for fn, col in wanted.values():
        if fn == "avg":
            if ("sum", col) not in stored:
                return False
            if ("count", col) not in stored and not (
                assume_non_null and ("count", "*") in stored
            ):
                return False
        elif (fn, col) not in stored:
            return False
    return True


def _count_col_for(mv: MatViewDef, col: str) -> str:
    """The stored count measure to divide by for avg(col): count(col) when
    the MV stores it (NULL-exact), else count(*) — reached only when the
    caller declared `assume_non_null=True` in `can_answer`."""
    for name, m in mv.measures.items():
        if m.fn == "count" and m.col == col:
            return name
    for name, m in mv.measures.items():
        if m.fn == "count" and m.col == "*":
            return name
    raise ValueError(f"MV {mv.name} has no usable count measure for {col!r}")


def answer_from_mv(
    mv_df: DataFrame,
    mv: MatViewDef,
    dims: list[str],
    wanted: dict,
    assume_non_null: bool = False,
    filters: list | None = None,
) -> DataFrame:
    """Roll the MV up to `dims`, deriving each wanted measure with the
    re-aggregation algebra; `filters` ([(col, op, value), …], ANDed, dims
    only) are applied to the MV SCAN — when a filter hits `partition_dim`
    the hive layout prunes at planning time, so a dashboard's
    `WHERE month = '1995-03'` reads one MV partition, not the summary.
    `wanted`: out_col -> (fn, base_col) with fn in sum/count/min/max/avg.
    Raises if not derivable — call `can_answer` (or `route`) first."""
    if not can_answer(mv, dims, wanted, assume_non_null, filters):
        raise ValueError(
            f"MV {mv.name} cannot answer dims={dims} wanted={wanted} "
            f"filters={filters}"
        )
    if filters:
        mv_df = mv_df.filter(_filter_expr(filters))
    by_pair = {(m.fn, m.col): name for name, m in mv.measures.items()}
    exprs = []
    for out, (fn, col) in wanted.items():
        if fn == "avg":
            e = F.sum(by_pair[("sum", col)]).cast("double") / F.sum(
                _count_col_for(mv, col)
            )
        else:
            e = _REAGG[fn](F.col(by_pair[(fn, col)]))
        exprs.append(e.alias(out))
    return mv_df.groupBy(*dims).agg(*exprs)


def route(
    base: DataFrame,
    mv_df: DataFrame,
    mv: MatViewDef,
    dims: list[str],
    wanted: dict,
    assume_non_null: bool = False,
    filters: list | None = None,
) -> DataFrame:
    """Answer from the MV when derivable, else aggregate the base table
    directly — the conservative aggregate-navigator contract: a miss costs
    a base scan, never a wrong answer. `filters` route with the query: on
    a hit they prune the MV scan; on a miss (e.g. a predicate on a
    non-dim column) they are applied to the BASE table before aggregating,
    so both paths answer the same question."""
    if can_answer(mv, dims, wanted, assume_non_null, filters):
        return answer_from_mv(mv_df, mv, dims, wanted, assume_non_null, filters)
    if filters:
        base = base.filter(_filter_expr(filters))
    exprs = []
    for out, (fn, col) in wanted.items():
        if fn == "count":
            e = F.count(F.lit(1) if col == "*" else F.col(col))
        elif fn == "avg":
            e = F.avg(F.col(col))
        else:
            e = getattr(F, fn)(F.col(col))
        exprs.append(e.alias(out))
    return base.groupBy(*dims).agg(*exprs)
