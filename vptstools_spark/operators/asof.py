"""As-of (backward) join — the canonical time-series operator Spark lacks.

Semantics: for each left row, attach the most recent right row with the same
key and right.ts <= left.ts (ties: the largest right.ts; among equal ts the
highest tie-break id). Matches DuckDB/pandas `ASOF JOIN` / `merge_asof`.

Implementation is the union-tag-window pattern, NOT a range join:
tag both sides, union, sort within key by (ts, side-priority), and carry the
last seen right payload forward with `last(..., ignorenulls)` over an
unbounded-preceding window. One shuffle on the key — same cost profile as a
single groupBy, immune to the O(n·m) blowup of naive range joins, and skew
behaves like any keyed window (salt the key if one user dominates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    payload_cols: list[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Backward as-of join of `left` to `right` on key `on` and time `ts_col`.

    Returns all left columns plus `<payload><suffix>` columns from the
    matched right row (NULL when no prior right row exists).
    """
    payload_cols = payload_cols or [
        c for c in right.columns if c not in (on, ts_col)
    ]
    lcols = left.columns

    # side ordering: right rows sort BEFORE left rows at equal ts, so a
    # same-timestamp right row is visible to the left row (<=, not <)
    l_tagged = left.select(
        F.col(on), F.col(ts_col), F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols if c not in (on, ts_col)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__p_{c}") for c in payload_cols],
    )
    r_tagged = right.select(
        F.col(on), F.col(ts_col), F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in (on, ts_col)],
        *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts_col), F.col("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.col(f"__p_{c}"), ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c in payload_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).select(
        *[F.col(c) for c in lcols],
        *[F.col(f"{c}{suffix}") for c in payload_cols],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    payload_cols: list[str] | None = None,
    suffix: str = "_right",
    tolerance: float | None = None,
) -> DataFrame:
    """Nearest as-of join: the right row minimizing |right.ts − left.ts|
    per key; exact ties break BACKWARD (the earlier right row), matching
    pandas merge_asof(direction='nearest'). `tolerance` (same units as
    `ts_col` after a numeric cast — seconds for timestamps) null-fills
    matches farther than the bound.

    ONE sort serves both directions: with right rows ordered before left
    at equal ts, the backward candidate is last(payload) over
    [unboundedPreceding, current] and the forward candidate is
    first(payload) over [current, unboundedFollowing]. An equal-ts right
    row is only visible to the BACKWARD frame — harmless, because a 0
    delta is minimal and ties resolve backward anyway. Still one shuffle
    on the key."""
    payload_cols = payload_cols or [
        c for c in right.columns if c not in (on, ts_col)
    ]
    lcols = left.columns
    l_tagged = left.select(
        F.col(on), F.col(ts_col), F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols if c not in (on, ts_col)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__p_{c}") for c in payload_cols],
    )
    r_tagged = right.select(
        F.col(on), F.col(ts_col), F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in (on, ts_col)],
        *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)
    order = [F.col(ts_col), F.col("__side")]
    wb = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # numeric view of ts for the distance math: timestamps (either
    # annotation — NTZ rejects a double cast) go through epoch_expr in
    # SECONDS to match a seconds-denominated `tolerance`; numeric ts
    # columns cast directly
    ts_dtype = dict(zip(left.columns, [f.dataType.simpleString() for f in left.schema.fields]))[ts_col]
    if ts_dtype in ("timestamp", "timestamp_ntz"):
        from vptstools_spark.functions.scalars import epoch_expr

        ts_num = epoch_expr(ts_dtype, ts_col, "MICROSECOND").cast(
            "double"
        ) / F.lit(1e6)
    else:
        ts_num = F.col(ts_col).cast("double")
    rts = F.when(F.col("__side") == 0, ts_num)
    carried = unioned.select(
        "*",
        F.last(rts, ignorenulls=True).over(wb).alias("__bts"),
        F.first(rts, ignorenulls=True).over(wf).alias("__fts"),
        *[
            F.last(F.col(f"__p_{c}"), ignorenulls=True).over(wb).alias(f"__b_{c}")
            for c in payload_cols
        ],
        *[
            F.first(F.col(f"__p_{c}"), ignorenulls=True).over(wf).alias(f"__f_{c}")
            for c in payload_cols
        ],
    ).filter(F.col("__side") == 1)
    lts = ts_num
    bd = lts - F.col("__bts")
    fd = F.col("__fts") - lts
    use_back = F.col("__fts").isNull() | (
        F.col("__bts").isNotNull() & (bd <= fd)
    )
    dist = F.when(use_back, bd).otherwise(fd)
    in_tol = (
        F.lit(True) if tolerance is None else dist <= F.lit(float(tolerance))
    )
    return carried.select(
        *[F.col(c) for c in lcols],
        *[
            F.when(
                in_tol,
                F.when(use_back, F.col(f"__b_{c}")).otherwise(F.col(f"__f_{c}")),
            ).alias(f"{c}{suffix}")
            for c in payload_cols
        ],
    )


def point_in_time_join(
    labels: DataFrame,
    feature_tables: list[dict],
    label_ts_col: str = "ts",
) -> DataFrame:
    """Feature-store point-in-time join (public design family: Feast /
    "point-in-time correctness"): attach to each label row, from every
    feature table, the feature values AS OF the label timestamp — the
    newest feature row with feature.ts <= label.ts — so training data
    can never leak a feature computed after the prediction moment.

    Each entry of `feature_tables` is a dict:
        {"df": DataFrame, "on": key column (same name on labels),
         "ts_col": feature timestamp column,
         "payload_cols": feature columns to attach,
         "prefix": output column prefix,
         "ttl_seconds": optional staleness bound — a match older than
                        label.ts - ttl comes back NULL (expired
                        features must not silently train)}

    Semantics: WHOLE-ROW as-of — the payloads are packed into one struct
    before the carry-forward, so every attached column comes from the
    SAME feature row (the plain union-tag pattern carries each column's
    last non-null independently, which would mix rows when a feature
    table has NULL cells). TTL nulling therefore applies per feature
    table, not per column.

    Scale shape: one keyed shuffle + one window per feature table —
    cost identical to chaining `asof_join_backward`, no range join, no
    per-row Python; at 100 TB each feature table's join is the same
    exchange a groupBy on its key would pay, and tables with the same
    key reuse Spark's partitioning across consecutive joins."""
    out = labels
    for ft in feature_tables:
        fdf, on, fts = ft["df"], ft["on"], ft["ts_col"]
        pays = ft["payload_cols"]
        prefix = ft.get("prefix", "")
        ttl = ft.get("ttl_seconds")
        packed = fdf.select(
            F.col(on),
            F.col(fts).alias(label_ts_col),
            F.struct(
                F.col(fts).alias("__fts"),
                *[F.col(c) for c in pays],
            ).alias("__pay"),
        )
        joined = asof_join_backward(
            out, packed, on=on, ts_col=label_ts_col,
            payload_cols=["__pay"], suffix="_r",
        )
        live = F.col("__pay_r")
        if ttl is not None:
            # microsecond diff: exact integer comparison at any ts
            # granularity, so the boundary case is engine-portable
            age = F.expr(
                f"timestampdiff(MICROSECOND, __pay_r.__fts, {label_ts_col})"
            )
            live = F.when(
                age <= F.lit(int(ttl) * 1_000_000), F.col("__pay_r")
            )
        out = joined.select(
            *[F.col(c) for c in out.columns],
            *[live[c].alias(f"{prefix}{c}") for c in pays],
        )
    return out
