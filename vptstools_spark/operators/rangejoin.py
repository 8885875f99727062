"""Binned interval (range) join — point-in-interval matching as an
equi-join, the batch complement of `operators/asof.py` (most-recent match).

Core Spark plans `points.join(intervals, start <= p AND p <= end)` as a
BroadcastNestedLoopJoin — O(n·m) row comparisons, a scale killer unless one
side is tiny (Databricks' range-join optimization exists precisely because
of this; open-source Spark has none). The standard fix is bin bucketing:

1. pick a bin width W (≈ the typical interval length);
2. each point maps to ONE bin: floor(p / W);
3. each interval explodes to EVERY bin it overlaps:
   sequence(floor(start/W), floor(end/W)) — short arrays when W matches
   the interval scale;
4. equi-join on (keys…, bin) — hash shuffle, AQE-sized — then apply the
   exact `start <= p <= end` residual.

Each (point, interval) pair meets in exactly one bin (the point's), so no
post-join dedup is needed. Cost is linear in points + exploded intervals +
true matches; W trades explode factor (intervals spanning many bins)
against bin population (too-coarse bins degenerate toward all-pairs within
a bin). Timestamps are binned on their epoch offset via
`functions.scalars.epoch_expr`, so TIMESTAMP and TIMESTAMP_NTZ inputs both
work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vptstools_spark.functions.scalars import epoch_expr


def _epoch_seconds(df: DataFrame, col: str) -> Column:
    dtype = dict(df.dtypes)[col]
    if dtype in ("timestamp", "timestamp_ntz"):
        return epoch_expr(dtype, col, "SECOND")
    return F.col(col).cast("long")


def binned_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    keys: list[str] | None = None,
    bin_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row (same `keys`) whose
    `[start_col, end_col]` contains `point_col`. Returns all point columns
    plus the interval's columns. `how='left_semi'` keeps just the points
    that fall in any interval (existence check, no interval payload).

    Only `'inner'` and `'left_semi'` are supported: the containment
    residual is applied as a post-join filter, which for outer variants
    would silently drop unmatched rows (their NULL residual collapses the
    result to inner semantics). Outer interval joins need the residual
    folded into the join condition itself — not implemented.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"how={how!r} not supported: binned_interval_join applies the "
            "containment residual post-join, which is only correct for "
            "'inner' and 'left_semi'"
        )
    keys = keys or []
    p_bin = F.floor(_epoch_seconds(points, point_col) / F.lit(bin_seconds))
    i_start = _epoch_seconds(intervals, start_col)
    i_end = _epoch_seconds(intervals, end_col)
    i_bins = F.sequence(
        F.floor(i_start / F.lit(bin_seconds)), F.floor(i_end / F.lit(bin_seconds))
    )
    p = points.withColumn("__bin", p_bin)
    i = intervals.withColumn("__bin", F.explode(i_bins))
    residual = (F.col(start_col) <= F.col(point_col)) & (
        F.col(point_col) <= F.col(end_col)
    )
    joined = p.join(i, [*keys, "__bin"], how)
    if how == "left_semi":
        # residual must live inside the semi-join condition; re-express as
        # inner join + distinct on the point's columns
        joined = (
            p.join(i, [*keys, "__bin"], "inner")
            .filter(residual)
            .select(*[F.col(c) for c in points.columns])
            .distinct()
        )
        return joined
    return joined.filter(residual).drop("__bin")
