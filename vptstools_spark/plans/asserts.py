"""Plan assertions — executable conventions about what a query plan may do.

`unbounded_global_windows` enforces the no-global-window rule: a window
function with an empty PARTITION BY funnels its entire input through one
partition; that is only acceptable when the input is already bounded by a
Limit below the window (the two-phase top-k shape, e.g. `supplier_rank`).
Tests sweep every registered query through this check so the convention is
enforced, not aspirational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _walk(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def _subtree_has_limit(node) -> bool:
    for sub in _walk(node):
        if sub.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit"):
            return True
    return False


#: a global window is tolerated when its input provably holds at most this
#: many rows — report/model-sized frames (e.g. a union of per-stage 1-row
#: aggregates), never data-sized ones
MAX_BOUNDED_WINDOW_ROWS = 64


def _input_statically_bounded(window_node) -> bool:
    """True when the window's input has a provable row bound of at most
    `MAX_BOUNDED_WINDOW_ROWS` (maxRows on the optimized logical node).
    Catalyst's EliminateLimits removes a Limit whose child already proves
    maxRows ≤ n — e.g. a union of single-row aggregates — so "bounded by a
    Limit" must also accept inputs whose bound the optimizer considered too
    obvious to keep. The size cap keeps a provably-large input (range(1e9)
    has maxRows too) flagged."""
    children = window_node.children()
    if children.size() == 0:
        return False
    for i in range(children.size()):
        mr = children.apply(i).maxRows()
        if not mr.isDefined() or int(mr.get()) > MAX_BOUNDED_WINDOW_ROWS:
            return False
    return True


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Names of window expressions that run with an empty partitionSpec over
    an input NOT bounded by a Limit — i.e. true single-partition windows
    over unbounded data. Empty list ⇒ the plan honors the convention.

    Inspects the optimized logical plan (stable node shapes; the physical
    SinglePartition exchange is a consequence of what this detects).
    """
    plan = df._jdf.queryExecution().optimizedPlan()
    flagged: list[str] = []
    for node in _walk(plan):
        if node.getClass().getSimpleName() != "Window":
            continue
        if not node.partitionSpec().isEmpty():
            continue
        if _subtree_has_limit(node) or _input_statically_bounded(node):
            continue
        exprs = node.windowExpressions()
        names = ",".join(
            exprs.apply(i).name() for i in range(exprs.size())
        )
        flagged.append(names or "<window>")
    return flagged


#: physical nodes that evaluate Python row-at-a-time — banned everywhere
ROW_PYTHON_NODES = {"BatchEvalPython"}

#: Arrow-vectorized Python nodes — allowed only where a query's semantics
#: genuinely exceed built-in expressions (blocked BLAS, binary decode)
VECTOR_PYTHON_NODES = {
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "AggregateInPandas",
    "FlatMapCoGroupsInPandas",
}


def python_eval_nodes(df: DataFrame) -> dict[str, int]:
    """Count of Python-evaluation nodes by kind in the physical plan —
    `{}` means the whole plan runs JVM-side (whole-stage codegen eligible).

    Scans the rendered plan string rather than walking `children()`:
    AdaptiveSparkPlanExec does not expose its wrapped plan through
    `children()`, so a tree walk silently misses every node under AQE.
    """
    import re

    text = df._jdf.queryExecution().executedPlan().toString()
    out: dict[str, int] = {}
    for kind in ROW_PYTHON_NODES | VECTOR_PYTHON_NODES:
        n = len(re.findall(rf"(?:^|[+:\-\s]){kind}\b", text))
        if n:
            out[kind] = n
    return out
