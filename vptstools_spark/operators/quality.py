"""Declarative data-quality constraint checking (Deequ-style).

A training-data pipeline gates every ingest batch on a constraint suite:
completeness, uniqueness, value ranges, set membership, pattern
conformance. The design rule here is the one that matters at 100 TB:
**all metrics for a suite are computed in ONE pass** — each check
contributes an aggregate expression to a single `agg()`, so the whole
suite costs one scan + one partial/final aggregation regardless of how
many checks it contains (Deequ's "metrics computation is shared" idea,
re-expressed as plain Catalyst aggregates — no extra framework).

Reference scope: generalizes the reference's frictionless-schema gate
(`vptstools/vpts.py:validate_vpts` analog, see `operators/vpts.py:179`)
from the fixed VPTS v1.0 rule set to user-declared suites over any table.

The verdict (check, metric, passed) comes back as rows via an unpivot of
the single aggregate row — driver never sees data, only the suite-sized
result.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Check:
    """One constraint: `metric` is an aggregate expression evaluated in the
    suite's single pass; the check passes when lo ≤ metric ≤ hi (bounds
    inclusive; None = unbounded)."""

    name: str
    metric: Column
    lo: float | None = None
    hi: float | None = None


def completeness(name: str, col: str) -> Check:
    """Fraction of rows with a non-null value; pass when = 1.0 by default.
    try_divide: on an empty frame the ratio is NULL and the check fails
    closed instead of throwing ANSI DIVIDE_BY_ZERO."""
    m = F.try_divide(F.count(col).cast("double"), F.count(F.lit(1)))
    return Check(name, m, lo=1.0)


def uniqueness(name: str, col: str) -> Check:
    """Fraction of non-null values that are distinct (1.0 = unique key);
    NULL (fails closed) when there are no non-null values."""
    m = F.try_divide(F.countDistinct(col).cast("double"), F.count(col))
    return Check(name, m, lo=1.0)


def bounded(
    name: str, expr: Column, lo: float | None = None, hi: float | None = None
) -> Check:
    return Check(name, expr.cast("double"), lo=lo, hi=hi)


def satisfies(name: str, predicate: Column, min_fraction: float = 1.0) -> Check:
    """Fraction of rows satisfying `predicate` (null counts as failing)."""
    m = F.try_divide(
        F.sum(F.when(F.coalesce(predicate, F.lit(False)), 1).otherwise(0)).cast(
            "double"
        ),
        F.count(F.lit(1)),
    )
    return Check(name, m, lo=min_fraction)


def membership(name: str, col: str, allowed: list) -> Check:
    return satisfies(name, F.col(col).isin(allowed))


def row_count(name: str, lo: int | None = None, hi: int | None = None) -> Check:
    return Check(name, F.count(F.lit(1)).cast("double"), lo=lo, hi=hi)


def run_suite(df: DataFrame, checks: list[Check], round_dp: int = 6) -> DataFrame:
    """Evaluate a suite in one aggregation pass over `df`.

    Returns (check, metric, passed) rows in suite order. Metrics are
    rounded to `round_dp` so downstream comparisons are FP-stable; the
    pass/fail verdict is computed on the UNrounded value (a bound like
    ``lo=1.0`` must not be satisfied by a 0.9999997 that rounds up).
    """
    if not checks:
        raise ValueError("empty check suite")
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate check names: {names}")
    aggs = []
    for c in checks:
        verdict = F.lit(True)
        if c.lo is not None:
            verdict = verdict & (c.metric >= F.lit(float(c.lo)))
        if c.hi is not None:
            verdict = verdict & (c.metric <= F.lit(float(c.hi)))
        aggs.append(
            F.struct(
                F.round(c.metric, round_dp).alias("metric"),
                # coalesce: a null metric fails, and it makes every struct's
                # nullability identical (stack() rejects mixed NOT NULL)
                F.coalesce(verdict, F.lit(False)).alias("passed"),
            ).alias(c.name)
        )
    one = df.agg(*aggs)
    # unpivot the single row to (check, metric, passed) — suite-sized
    n = len(checks)
    stacked = one.select(
        F.expr(
            f"stack({n}, "
            + ", ".join(f"'{c.name}', `{c.name}`" for c in checks)
            + ") as (`check`, r)"
        )
    )
    return stacked.select(
        "check", F.col("r.metric").alias("metric"), F.col("r.passed").alias("passed")
    )
