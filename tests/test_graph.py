"""Connected components (operators/graph.py): correctness + convergence."""

import pytest
from pyspark.sql import functions as F

from vptstools_spark.operators.graph import connected_components


def _components(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df).collect()
    return {r["node"]: r["component"] for r in out}


def test_two_components(spark):
    got = _components(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_longer_than_one_hop(spark):
    # a 6-node path: min label must propagate the full diameter
    edges = [(i, i + 1) for i in range(6)]
    got = _components(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 7


def test_edge_direction_irrelevant(spark):
    assert _components(spark, [(5, 2)]) == _components(spark, [(2, 5)])


def test_self_loop_and_duplicate_edges(spark):
    got = _components(spark, [(4, 4), (4, 7), (7, 4), (4, 7)])
    assert got == {4: 4, 7: 4}


def test_max_iter_bounds_work(spark):
    # max_iter=1 on a path must still return every node exactly once, but the
    # unconverged exit is signalled — silent partial labels are wrong clusters.
    # driver_max_edges=0 forces the distributed loop (the driver route has no
    # iteration bound: union-find always converges)
    df = spark.createDataFrame([(i, i + 1) for i in range(4)], "src long, dst long")
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = connected_components(df, max_iter=1, driver_max_edges=0)
        assert out.count() == 5
        assert out.select(F.countDistinct("node")).first()[0] == 5


def test_max_iter_strict_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(4)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1, strict=True, driver_max_edges=0)


def test_driver_route_matches_distributed(spark):
    """The r9 size-gated driver union-find and the distributed min-label
    loop must agree exactly — components, labels, and emitted node set —
    on a mixed-shape pseudo-random graph (chain + clique + sparse pairs
    + self-loops + duplicate/reversed edges)."""
    import random

    rng = random.Random(17)
    edges = [(i, i + 1) for i in range(0, 30)]
    edges += [(a, b) for a in range(100, 107) for b in range(a + 1, 107)]
    pool = list(range(200, 240))
    edges += [(rng.choice(pool), rng.choice(pool)) for _ in range(60)]
    edges += [(n, n) for n in (0, 300)]          # self-loops (300 isolated-ish)
    edges += [(b, a) for (a, b) in edges[:10]]   # reversed duplicates
    df = spark.createDataFrame(edges, "src long, dst long")

    driver = {
        (r.node, r.component) for r in connected_components(df).collect()
    }
    dist = {
        (r.node, r.component)
        for r in connected_components(
            df, max_iter=100, driver_max_edges=0
        ).collect()
    }
    assert driver == dist
    assert (300, 300) in driver  # self-loop node emitted with own label


def test_converged_run_emits_no_warning(spark):
    import warnings

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = connected_components(df, max_iter=10)
        assert out.filter(F.col("component") != 1).count() == 0


def test_pagerank_ring_is_uniform(spark):
    from vptstools_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iters=4).collect()}
    for v in ranks.values():
        assert abs(v - 1 / 3) < 1e-12


def test_pagerank_star_matches_hand_computation(spark):
    from vptstools_spark.operators.graph import pagerank

    # a->c, b->c: after 1 iter r(c)=0.05+0.85*(2/3*1/1)... hand-rolled below
    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "src string, dst string"
    )
    n, d = 3, 0.85
    r = {v: 1.0 / n for v in "abc"}
    for _ in range(2):
        r = {
            "a": (1.0 - d) / n,
            "b": (1.0 - d) / n,
            "c": (1.0 - d) / n + d * (r["a"] / 1 + r["b"] / 1),
        }
    got = {x.node: x.rank for x in pagerank(edges, iters=2).collect()}
    for v in "abc":
        assert abs(got[v] - r[v]) < 1e-15, v


def test_pagerank_checkpoint_every_truncates_lineage(spark):
    from vptstools_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    plain = {r.node: r.rank for r in pagerank(edges, iters=4).collect()}
    ckpt = {
        r.node: r.rank
        for r in pagerank(edges, iters=4, checkpoint_every=2).collect()
    }
    assert plain == ckpt


def test_label_propagation_two_cliques_with_bridge(spark):
    # two 4-cliques joined by one bridge edge: after 2 deterministic rounds
    # each clique converges to its minimum id; the bridge does not merge
    # them (mode of a bridge endpoint's neighborhood stays in-clique)
    from vptstools_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src int, dst int")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iters=2).collect()
    }
    assert all(got[n] == 0 for n in range(4))
    assert all(got[n] == 10 for n in range(10, 14))


def test_label_propagation_star_adopts_center_minimum(spark):
    # star centered at 5 with leaves 6..9: leaves see only the center.
    # Round 1: leaves -> 5, center -> min leaf label (6). Round 2: leaves
    # adopt the center's round-1 label (6), center adopts the leaves' (5) —
    # the classic synchronous star oscillation, pinned deterministically.
    from vptstools_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(5, leaf) for leaf in range(6, 10)], "src int, dst int"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iters=2).collect()
    }
    assert got[5] == 5 and all(got[leaf] == 6 for leaf in range(6, 10))


def test_bounded_reachability_chain(spark):
    # path 0-1-2-3-4-5, seed {0}, depth 3 → hops 0..3 reach nodes 0..3 only
    from vptstools_spark.operators.graph import bounded_reachability

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src int, dst int"
    )
    sym = edges.unionByName(edges.selectExpr("dst as src", "src as dst"))
    seeds = spark.createDataFrame([(0,)], "node int")
    got = {
        r["node"]: r["hops"]
        for r in bounded_reachability(sym, seeds, depth=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bounded_reachability_min_hops_and_multi_source(spark):
    # diamond 0→1→3, 0→2→3 plus seed 9 on its own island: node 3 gets
    # hops=2 once (min), not twice; islands expand independently
    from vptstools_spark.operators.graph import bounded_reachability

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (9, 10)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(0,), (9,)], "node int")
    rows = bounded_reachability(edges, seeds, depth=5).collect()
    got = {r["node"]: r["hops"] for r in rows}
    assert len(rows) == len(got)  # no duplicate nodes
    assert got == {0: 0, 9: 0, 1: 1, 2: 1, 10: 1, 3: 2}


def test_bounded_reachability_early_stop(spark):
    # depth larger than the graph: loop must stop at the empty frontier
    from vptstools_spark.operators.graph import bounded_reachability

    edges = spark.createDataFrame([(0, 1)], "src int, dst int")
    seeds = spark.createDataFrame([(0,)], "node int")
    got = bounded_reachability(edges, seeds, depth=50).collect()
    assert {(r["node"], r["hops"]) for r in got} == {(0, 0), (1, 1)}


def test_kcore_peels_to_known_core(spark):
    """A 4-clique with pendant chains: the 3-core is exactly the clique,
    and peeling needs TWO rounds (removing the pendants drops the chain
    attachment points below k only after round 1)."""
    from pyspark.sql import functions as F

    from vptstools_spark.operators.graph import kcore

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    # chains: 4-10-20 and 10-21 hang off node 3 via 10
    extra = [(3, 10), (10, 20), (10, 21)]
    edges = spark.createDataFrame(clique + extra, "src int, dst int")
    core = {r["node"]: r["deg"] for r in kcore(edges, k=3, iters=3).collect()}
    assert core == {0: 3, 1: 3, 2: 3, 3: 3}
    # one round is NOT enough: node 3 has degree 4 before the peel, and 10
    # has degree 3 (3, 20, 21) — 20/21 die in round 1, 10 dies in round 2
    one = {r["node"] for r in kcore(edges, k=3, iters=1).select("node").collect()}
    assert 10 in one


def test_kcore_fixed_rounds_deterministic(spark):
    from vptstools_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(5) if a < b], "src int, dst int"
    )
    a = sorted(map(tuple, kcore(edges, k=2, iters=2).collect()))
    b = sorted(map(tuple, kcore(edges, k=2, iters=2).collect()))
    assert a == b and len(a) == 5


def test_adamic_adar_known_scores(spark):
    from vptstools_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        [("u1", "A"), ("u1", "B"),
         ("u2", "A"), ("u2", "B"), ("u2", "C"),
         ("u3", "B"), ("u3", "C"),
         ("u4", "A")],  # deg-1 neighbor: contributes nothing (ln 1 = 0)
        "src string, dst string",
    )
    out = {
        (r["node_a"], r["node_b"]): (r["n_common"], r["score"])
        for r in adamic_adar(edges).collect()
    }
    import math

    aa2, aa3 = 1.0 / math.log(2), 1.0 / math.log(3)
    assert out[("A", "B")] == (2, round(aa2 + aa3, 6))
    assert out[("B", "C")] == (2, round(aa2 + aa3, 6))
    assert out[("A", "C")] == (1, round(aa3, 6))
    assert len(out) == 3


def test_adamic_adar_hub_guard_drops_promiscuous_neighbors(spark):
    from vptstools_spark.operators.graph import adamic_adar

    hub = [("hub", x) for x in ("A", "B", "C", "D")]
    edges = spark.createDataFrame(
        [("u1", "A"), ("u1", "B")] + hub, "src string, dst string"
    )
    out = adamic_adar(edges, max_hub_degree=3).collect()
    # the hub (degree 4 > 3) is excluded -> only u1's single pair remains
    assert [(r["node_a"], r["node_b"], r["n_common"]) for r in out] == [("A", "B", 1)]


# ---------------------------------------------------------------------------
# bounded weighted SSSP
# ---------------------------------------------------------------------------


def test_sssp_hand_graph(spark):
    import pytest
    from pyspark.sql import functions as F

    from vptstools_spark.operators.graph import sssp_bounded

    #    a -1- b -1- c -1- d        a -10- d  (direct but heavy)
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("a", "d", 10),
         ("a", "b", 5)],  # parallel edge, must collapse to the cheaper
        "src string, dst string, weight long",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.dist for r in sssp_bounded(edges, seeds, depth=4).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}
    # hop bound binds: with depth=1 only the direct heavy edge reaches d
    got1 = {r.node: r.dist for r in sssp_bounded(edges, seeds, depth=1).collect()}
    assert got1 == {"a": 0, "b": 1, "d": 10}
    with pytest.raises(ValueError, match="non-negative"):
        bad = spark.createDataFrame(
            [("a", "b", -1)], "src string, dst string, weight long"
        )
        sssp_bounded(bad, seeds, depth=2)


def test_sssp_early_exit_and_multi_source(spark):
    from vptstools_spark.operators.graph import sssp_bounded

    edges = spark.createDataFrame(
        [("a", "b", 2), ("x", "y", 3)],
        "src string, dst string, weight long",
    )
    seeds = spark.createDataFrame([("a",), ("x",)], "node string")
    # depth far larger than the graph diameter: the frontier empties and
    # the loop exits without running 50 rounds
    got = {r.node: r.dist for r in sssp_bounded(edges, seeds, depth=50).collect()}
    assert got == {"a": 0, "x": 0, "b": 2, "y": 3}


def test_hits_zero_iters_rejected(spark):
    from vptstools_spark.operators.graph import hits

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iters"):
        hits(e, iters=0)


def test_connected_components_zero_iters_rejected(spark):
    from vptstools_spark.operators.graph import connected_components

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(e, max_iter=0)


def test_copartition_route_matches_default(spark):
    """The r9 `copartition` cluster knob (co-partitioned static loop
    relations, guide §2.4) must change plans only, never answers: every
    loop operator returns identical rows with it on and off, on a
    mixed-shape pseudo-random weighted graph."""
    import random

    from vptstools_spark.operators.graph import (
        bounded_reachability,
        hits,
        kcore,
        label_propagation,
        pagerank,
        sssp_bounded,
        triangle_count,
    )

    rng = random.Random(23)
    edges = [(i, i + 1, (i % 5) + 1) for i in range(0, 25)]
    edges += [
        (a, b, ((a + b) % 3) + 1)
        for a in range(100, 108)
        for b in range(a + 1, 108)
    ]
    pool = list(range(200, 230))
    edges += [
        (rng.choice(pool), rng.choice(pool), rng.randrange(1, 7))
        for _ in range(50)
    ]
    df = spark.createDataFrame(edges, "src long, dst long, weight long")
    srcs = spark.createDataFrame([(0,), (100,), (205,)], "node long")

    def rows(out, ndigits=9):
        return sorted(
            tuple(
                round(v, ndigits) if isinstance(v, float) else v for v in r
            )
            for r in out.collect()
        )

    cases = [
        lambda cp: pagerank(df, iters=3, copartition=cp),
        lambda cp: hits(df, iters=2, weight_col="weight", copartition=cp),
        lambda cp: label_propagation(df, iters=2, copartition=cp),
        # driver_max_nodes=0 pins the distributed loop: this test is about
        # the copartition plan knob, which the driver-bookkeeping route
        # would bypass entirely on a toy graph
        lambda cp: bounded_reachability(
            df, srcs, depth=4, copartition=cp, driver_max_nodes=0
        ),
        lambda cp: kcore(df, k=2, iters=3, copartition=cp),
        lambda cp: sssp_bounded(
            df, srcs, depth=5, copartition=cp, driver_max_nodes=0
        ),
        lambda cp: triangle_count(df, copartition=cp),
    ]
    for build in cases:
        assert rows(build(False)) == rows(build(True))


def test_frontier_driver_route_matches_distributed(spark):
    """The r9 driver-bookkeeping route of sssp_bounded /
    bounded_reachability (frontier state in a driver dict, relaxation
    distributed) must return identical rows to the all-DataFrame loop on
    a mixed-shape pseudo-random weighted graph — including early-exit,
    multi-source min semantics, and unreached nodes."""
    import random

    from vptstools_spark.operators.graph import (
        bounded_reachability,
        sssp_bounded,
    )

    rng = random.Random(41)
    edges = [(i, i + 1, (i % 5) + 1) for i in range(0, 25)]
    edges += [
        (a, b, ((a + b) % 3) + 1)
        for a in range(100, 108)
        for b in range(a + 1, 108)
    ]
    pool = list(range(200, 230))
    edges += [
        (rng.choice(pool), rng.choice(pool), rng.randrange(1, 7))
        for _ in range(60)
    ]
    df = spark.createDataFrame(edges, "src long, dst long, weight long")
    srcs = spark.createDataFrame([(0,), (100,), (205,)], "node long")

    def rows(out):
        return sorted((r[0], r[1]) for r in out.collect())

    for depth in (1, 3, 50):
        assert rows(
            sssp_bounded(df, srcs, depth=depth, driver_max_nodes=0)
        ) == rows(sssp_bounded(df, srcs, depth=depth))
        assert rows(
            bounded_reachability(df, srcs, depth=depth, driver_max_nodes=0)
        ) == rows(bounded_reachability(df, srcs, depth=depth))


def test_driver_route_gate_arithmetic():
    """Pin the driver-route gate constants to their documented heap
    budgets (VERDICT r9 #9): the bounds are derived from the driver
    heap, so a refactor must not silently widen them past the budget
    the docstrings promise. CC: 2 x bound x 16 B Arrow transfer must
    stay <= 32 MB; frontier: bound x 16 B per-round collect <= 32 MB.
    Widening either requires re-deriving the budget in graph.py AND
    updating this pin."""
    from vptstools_spark.operators.graph import (
        _CC_DRIVER_MAX_EDGES,
        _FRONTIER_DRIVER_MAX_NODES,
    )

    assert 2 * _CC_DRIVER_MAX_EDGES * 16 <= 32 * 1024 * 1024
    assert _FRONTIER_DRIVER_MAX_NODES * 16 <= 32 * 1024 * 1024
