"""Join-strategy selection helpers.

Catalyst picks join strategies from size estimates; at 100 TB the estimates
at plan time can be wrong in both directions (pre-aggregated sides look big,
exploded sides look small). These helpers make the strategy an explicit,
reviewable choice at the call sites where it matters:

- ``broadcast``: dimension-sized side (fits executor memory × replication).
- ``shuffle_hash``: both sides big but ONE side's per-partition build fits
  memory — avoids sort-merge's two sorts; the win on high-cardinality
  equi-joins where neither side is pre-sorted.
- ``merge``: both sides huge; sort-merge spills gracefully and is the only
  safe default for fact⋈fact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

_HINTS = {"broadcast": "broadcast", "shuffle_hash": "shuffle_hash", "merge": "merge"}


def hinted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
    strategy: str | None = None,
) -> DataFrame:
    """Join with an explicit physical-strategy hint on the RIGHT side.

    ``strategy``: None (let Catalyst/AQE decide), 'broadcast',
    'shuffle_hash', or 'merge'.
    """
    if strategy is None:
        return left.join(right, on, how)
    if strategy not in _HINTS:
        raise ValueError(f"unknown join strategy {strategy!r}")
    return left.join(right.hint(_HINTS[strategy]), on, how)


def plan_string(df: DataFrame) -> str:
    """Executed-plan text for assertions ('which join did I actually get?')."""
    return df._jdf.queryExecution().executedPlan().toString()
