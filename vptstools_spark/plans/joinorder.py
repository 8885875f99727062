"""Cost-based JOIN-ORDER enumeration (Selinger et al. 1979) on top of the
ANALYZE statistics layer (`plans/stats.py`).

Catalyst reorders joins only when CBO + joinReorder are enabled and stats
exist in a catalog; plain-parquet pipelines get the written order. At
100 TB the difference between joining the 6-billion-row fact table against
an unfiltered sibling first versus reducing it through the selective
dimensions first is the whole job, so the engine makes ordering explicit:

- ``join_stats``: System-R composition — the estimated TableStats OF a
  join result (rows via |L|·|R| / Π max(ndv); column NDVs carried with
  the containment clamp), so estimates chain through a join tree.
- ``enumerate_join_order``: dynamic programming over CONNECTED subsets of
  the join graph (bushy trees, no cross products), minimizing the classic
  C_out metric — the sum of estimated intermediate result sizes. Exact DP
  is exponential in relations; guarded at 12 (4096 subsets), which covers
  every TPC-H-shaped query; beyond that, pre-reduce with explicit
  subqueries.
- ``ordered_join``: executes the chosen tree, picking the PHYSICAL
  strategy per join from the same stats (`choose_join_strategy` →
  broadcast/shuffle_hash/merge hints), and returns the decision record —
  order, per-node estimates, strategies — so the choice is reviewable.

The result is ORDER-INDEPENDENT (inner equi-joins commute/associate);
only cost changes — which is what makes the enumerator value-testable
against a DuckDB oracle that plans the same SQL its own way.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from vptstools_spark.plans.hints import hinted_join
from vptstools_spark.plans.stats import (
    ColumnStats,
    TableStats,
    choose_join_strategy,
    estimate_equi_join,
)

#: exact subset-DP bound: 2^12 subsets is instant; past it the planning
#: itself becomes the cost — pre-reduce with explicit subqueries instead
MAX_RELATIONS = 12


@dataclass(frozen=True)
class JoinEdge:
    left: str
    right: str
    keys: list[str] | tuple[str, ...]  # equi-join columns, same name both sides

    def names(self) -> tuple[str, str]:
        return self.left, self.right


def join_stats(left: TableStats, right: TableStats, keys: list[str]) -> TableStats:
    """Estimated stats OF an equi-join result: System-R cardinality, both
    sides' columns carried with NDV clamped to the new row count
    (distinct-value containment) — join-key NDV additionally clamped to
    the SMALLER side's (the matching-domain assumption)."""
    n = max(int(estimate_equi_join(left, right, list(keys))), 0)
    cols: dict[str, ColumnStats] = {}
    key_set = set(keys)
    for side in (left, right):
        for name, c in side.columns.items():
            ndv = c.ndv
            if name in key_set:
                ndv = min(
                    left.columns[name].ndv if name in left.columns else ndv,
                    right.columns[name].ndv if name in right.columns else ndv,
                )
            prev = cols.get(name)
            if prev is not None:
                ndv = min(ndv, prev.ndv)
            cols[name] = ColumnStats(
                name=name,
                n_nonnull=min(c.n_nonnull, n),
                ndv=max(min(ndv, n), 1 if n else 0),
                min=c.min,
                max=c.max,
                avg_len=c.avg_len,
            )
    return TableStats(n_rows=n, columns=cols)


def _edge_keys(edges: list[JoinEdge], s1: frozenset, s2: frozenset) -> list[str]:
    """Union of join keys on edges crossing the (s1, s2) cut — joining two
    subtrees applies EVERY predicate that connects them at once."""
    keys: list[str] = []
    for e in edges:
        a, b = e.names()
        if (a in s1 and b in s2) or (a in s2 and b in s1):
            for k in e.keys:
                if k not in keys:
                    keys.append(k)
    return keys


def enumerate_join_order(
    stats: dict[str, TableStats], edges: list[JoinEdge]
) -> dict:
    """Bushy-tree DP over connected subsets minimizing C_out (Σ estimated
    intermediate rows). Returns {"tree", "cost", "rows_est", "order"}:
    `tree` is a nested ("join", left_tree, right_tree, keys) / ("scan",
    name) structure, `order` the relation sequence of a depth-first walk
    (the human-readable summary). Raises on disconnected graphs (a cross
    product is virtually always a query bug — demand an explicit edge)."""
    names = sorted(stats)
    if len(names) > MAX_RELATIONS:
        raise ValueError(
            f"{len(names)} relations exceeds the exact-DP bound "
            f"{MAX_RELATIONS}; pre-join a subset explicitly"
        )
    for e in edges:
        for nm in e.names():
            if nm not in stats:
                raise ValueError(f"edge references unknown relation {nm!r}")
    # best[subset] = (cost, rows_est, stats, tree)
    best: dict[frozenset, tuple] = {}
    for nm in names:
        s = frozenset([nm])
        best[s] = (0.0, float(stats[nm].n_rows), stats[nm], ("scan", nm))

    # enumerate subsets by size; split each into connected halves
    from itertools import combinations

    for size in range(2, len(names) + 1):
        for combo in combinations(names, size):
            s = frozenset(combo)
            cand: tuple | None = None
            members = sorted(s)
            # iterate proper non-empty subsets via bitmask over members;
            # fix members[0] on the left side to halve the symmetry
            m = len(members)
            # mask 0 = anchor alone on the left; the all-ones mask leaves
            # s2 empty and is skipped below
            for mask in range(0, 1 << (m - 1)):
                s1 = frozenset(
                    [members[0]]
                    + [members[i] for i in range(1, m) if mask & (1 << (i - 1))]
                )
                s2 = s - s1
                if not s2 or s1 not in best or s2 not in best:
                    continue
                keys = _edge_keys(edges, s1, s2)
                if not keys:
                    continue  # no connecting edge: would be a cross product
                c1, _, st1, t1 = best[s1]
                c2, _, st2, t2 = best[s2]
                st = join_stats(st1, st2, keys)
                cost = c1 + c2 + st.n_rows
                if cand is None or cost < cand[0]:
                    cand = (cost, float(st.n_rows), st, ("join", t1, t2, keys))
            if cand is not None:
                best[s] = cand
    full = frozenset(names)
    if full not in best:
        raise ValueError(
            "join graph is disconnected: some relation joins nothing "
            "(add the missing JoinEdge; implicit cross products refused)"
        )
    cost, rows, _, tree = best[full]

    def walk(t) -> list[str]:
        # deeper subtree first: the sequence in which relations enter the
        # pipeline (for a left-deep tree this is the classic join order)
        if t[0] == "scan":
            return [t[1]]
        l, r = walk(t[1]), walk(t[2])
        return (l + r) if len(l) >= len(r) else (r + l)

    return {"tree": tree, "cost": cost, "rows_est": rows, "order": walk(tree)}


def ordered_join(
    dfs: dict[str, DataFrame],
    stats: dict[str, TableStats],
    edges: list[JoinEdge],
    **thresholds,
) -> tuple[DataFrame, dict]:
    """Execute the enumerated join tree over actual DataFrames. Each
    internal node picks its physical strategy from the subtree's ESTIMATED
    sizes (`choose_join_strategy` → plans/hints.py hint on the smaller
    side) — order and strategy both come from statistics, and both are
    returned in the decision record. Inner equi-joins only (the reorder
    algebra); filters belong on the inputs, where Catalyst pushes them
    into the scans before any of this runs."""
    plan = enumerate_join_order(stats, edges)
    decisions: list[dict] = []

    def build(t) -> tuple[DataFrame, TableStats]:
        if t[0] == "scan":
            return dfs[t[1]], stats[t[1]]
        _, lt, rt, keys = t
        ldf, lst = build(lt)
        rdf, rst = build(rt)
        d = choose_join_strategy(lst, rst, ldf.schema, rdf.schema, **thresholds)
        # hinted_join hints its right argument; flip so the hint lands on
        # the estimated-smaller side (inner joins are side-symmetric)
        if d["side"] == "left":
            out = hinted_join(rdf, ldf, on=list(keys), how="inner", strategy=d["strategy"])
        else:
            out = hinted_join(ldf, rdf, on=list(keys), how="inner", strategy=d["strategy"])
        st = join_stats(lst, rst, list(keys))
        decisions.append(
            {
                "keys": list(keys),
                "strategy": d["strategy"],
                "build_side_rows_est": min(lst.n_rows, rst.n_rows),
                "rows_est": st.n_rows,
            }
        )
        return out, st

    df, _ = build(plan["tree"])
    return df, {**plan, "joins": decisions}
