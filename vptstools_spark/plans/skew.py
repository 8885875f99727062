"""Skew-mitigation plan helpers.

AQE's skew-join splitting handles joins; for *aggregations* over heavily
skewed keys (a handful of keys owning most rows — e.g. event types, hot
radars), pre-salting spreads each hot key over N reducers and a second tiny
aggregation merges the partials. Semantics identical to a plain groupBy —
proven by the `salted_coverage` oracle query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _row_salt(df: DataFrame, salt_buckets: int, salt_col: str | None = None) -> Column:
    """Deterministic per-row salt in [0, salt_buckets).

    `F.rand()` is non-deterministic: on shuffle-fetch failure or speculative
    re-execution a recomputed map task assigns DIFFERENT salts than the
    outputs some reducers already consumed, duplicating or dropping rows —
    the classic nondeterministic-repartition hazard, in exactly the at-scale
    regime these helpers target. A content hash recomputes identically on
    retry. Caveat: rows that are bit-identical across ALL columns land in the
    same bucket, so salting cannot spread exact full-row duplicates — pass
    `salt_col` naming a unique id column when the hot key's rows are
    duplicates of each other.
    """
    src = [F.col(salt_col)] if salt_col else [F.col(c) for c in df.columns]
    return F.pmod(F.xxhash64(*src), F.lit(salt_buckets)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Two-phase salted aggregation.

    `aggs` maps output column → (input column, fn) where fn ∈
    {count, sum, min, max} (the re-aggregable functions; avg = sum/count).
    Phase 1 groups by (keys + random salt) — each hot key splits across
    `salt_buckets` reducers; phase 2 merges partials per key (tiny input:
    |keys| × salt_buckets rows).
    """
    merge_fn = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    salted = df.withColumn("__salt", _row_salt(df, salt_buckets, salt_col))
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[
            (F.count("*") if fn == "count" else getattr(F, fn)(col)).alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )
    phase2 = phase1.groupBy(*keys).agg(
        *[
            getattr(F, merge_fn[fn])(out).alias(out)
            for out, (_col, fn) in aggs.items()
        ]
    )
    return phase2


def key_skew_report(df: DataFrame, keys: list[str]) -> DataFrame:
    """One-row skew diagnostic for a prospective join/agg key: row count,
    distinct keys, max and mean per-key cardinality, their ratio (the
    number AQE's skew-join and `salted_agg` care about), and the hottest
    key's share of all rows. This is the measurement half of the skew
    story — run it BEFORE choosing salt_buckets or bucketing a table, and
    in CI to catch data drift that turns a balanced key hot.

    Plan: one map-side-combining count per key, then a 1-row aggregate —
    no driver-side key list, so it runs at lake scale (the per-key table
    is the same shuffle a real aggregation on that key would pay)."""
    per_key = df.groupBy(*keys).agg(F.count("*").alias("cnt"))
    return per_key.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_key_rows"),
        F.round(F.avg("cnt"), 4).alias("avg_key_rows"),
        F.round(F.max("cnt") / F.avg("cnt"), 4).alias("skew_ratio"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top1_share"),
    )
