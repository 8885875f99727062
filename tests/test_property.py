"""Property-based tests (hypothesis): operator semantics checked against
naive in-Python references on randomized small inputs — the generative
layer on top of the known-geometry unit tests (SURVEY §5 model)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vptstools_spark.operators.asof import asof_join_backward
from vptstools_spark.operators.graph import connected_components

PROP_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

KEY = st.integers(0, 3)
TS = st.integers(0, 30)


@PROP_SETTINGS
@given(
    left=st.lists(st.tuples(KEY, TS), max_size=12),
    right=st.dictionaries(st.tuples(KEY, TS), st.integers(-9, 9), max_size=12),
)
def test_asof_backward_matches_naive(spark, left, right):
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)] or [],
        "k long, ts long, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, t, float(v)) for (k, t), v in right.items()] or [],
        "k long, ts long, v double",
    )
    out = {
        r["lid"]: r["v_right"]
        for r in asof_join_backward(ldf, rdf, on="k", payload_cols=["v"]).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(t2, v) for (k2, t2), v in right.items() if k2 == k and t2 <= t]
        want = float(max(cands)[1]) if cands else None
        assert out[i] == want, (i, k, t, out[i], want)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


@PROP_SETTINGS
@given(edges=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=20))
def test_connected_components_match_union_find(spark, edges):
    if not edges:
        return
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == _uf_components(edges)


@PROP_SETTINGS
@given(
    vals=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False, width=32),
        max_size=8,
    )
)
def test_tristate_csv_roundtrip(spark, tmp_path_factory, vals):
    """Tri-state invariant under the CSV contract: a NULL u with nodata state
    renders '', with undetect state renders 'NaN', and real values survive a
    write+string-preserving-reread byte-for-byte."""
    import glob

    from tests.conftest import make_profile_record
    from vptstools_spark.operators.pipeline import read_daily_csv_string_preserving
    from vptstools_spark.operators.vpts import to_vpts_table, vpts_to_csv
    from vptstools_spark.schemas import STATE_NODATA, STATE_UNDETECT, STATE_VALUE
    from vptstools_spark.sources.odim import profiles_from_records

    recs = [
        make_profile_record(height=200 * i, u=float(v), u_state=STATE_VALUE)
        for i, v in enumerate(vals)
    ]
    recs.append(
        make_profile_record(height=200 * len(recs), u=None, u_state=STATE_NODATA)
    )
    recs.append(
        make_profile_record(height=200 * len(recs), u=None, u_state=STATE_UNDETECT)
    )
    df = to_vpts_table(profiles_from_records(spark, recs))
    out = str(tmp_path_factory.mktemp("prop_csv") / "out.csv")
    vpts_to_csv(df, out)
    reread = read_daily_csv_string_preserving(spark, out)
    u_by_height = {int(r["height"]): r["u"] for r in reread.collect()}
    for i, v in enumerate(vals):
        assert u_by_height[200 * i] == repr(float(v))
    assert u_by_height[200 * len(vals)] == ""
    assert u_by_height[200 * len(vals) + 200] == "NaN"


@PROP_SETTINGS
@given(
    points=st.lists(st.tuples(KEY, st.integers(0, 500)), max_size=14),
    intervals=st.lists(
        st.tuples(KEY, st.integers(0, 500), st.integers(0, 200)), max_size=8
    ),
    bin_seconds=st.sampled_from([7, 60, 1000]),
)
def test_binned_interval_join_matches_naive(spark, points, intervals, bin_seconds):
    """Bin-bucketed containment join == the naive O(n·m) definition, for any
    bin width (bins narrower than, comparable to, and wider than the data
    range)."""
    from vptstools_spark.operators.rangejoin import binned_interval_join

    pdf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(points)] or [],
        "k long, p long, pid long",
    )
    idf = spark.createDataFrame(
        [(k, s, s + w, j) for j, (k, s, w) in enumerate(intervals)] or [],
        "k long, lo long, hi long, iid long",
    )
    got = {
        (r.pid, r.iid)
        for r in binned_interval_join(
            pdf, idf, "p", "lo", "hi", keys=["k"], bin_seconds=bin_seconds
        ).collect()
    }
    want = {
        (pi, ii)
        for pi, (pk, pt) in enumerate(points)
        for ii, (ik, s, w) in enumerate(intervals)
        if pk == ik and s <= pt <= s + w
    }
    assert got == want


@PROP_SETTINGS
@given(
    keys=st.lists(st.integers(0, 500), min_size=1, max_size=60),
    split=st.integers(1, 59),
)
def test_hll_merge_equals_whole_and_python_replica(spark, keys, split):
    """(1) registers(shard A) ⊕ registers(shard B) == registers(A ∪ B) for
    ANY split — the mergeability contract; (2) the register table equals a
    pure-Python md5 replica, pinning the hash derivation the DuckDB oracle
    also mirrors."""
    import hashlib
    import re

    from vptstools_spark.operators import sketch

    df = spark.createDataFrame([(k,) for k in keys], "k int")
    whole = sketch.hll_registers(df, F.col("k"), []).collect()

    a = spark.createDataFrame([(k,) for k in keys[:split]] or [(keys[0],)], "k int")
    b = spark.createDataFrame([(k,) for k in keys[split:]] or [(keys[-1],)], "k int")
    if keys[:split] and keys[split:]:
        merged = sketch.hll_merge(
            sketch.hll_registers(a, F.col("k"), []).unionByName(
                sketch.hll_registers(b, F.col("k"), [])
            ),
            [],
        ).collect()
        assert sorted(map(tuple, merged)) == sorted(map(tuple, whole))

    # python replica of bucket/rho
    regs = {}
    for k in set(keys):
        h = hashlib.md5(str(k).encode()).hexdigest()
        bucket = int(h[:2], 16)
        tail = h[2:17]
        stripped = re.sub("^0+", "", tail)
        if not stripped:
            rho = 61
        else:
            rho = (15 - len(stripped)) * 4 + {"1": 3, "2": 2, "3": 2}.get(
                stripped[0], 1 if stripped[0] in "4567" else 0
            ) + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    got = {r["__bucket"]: r["__m"] for r in whole}
    assert got == regs


@PROP_SETTINGS
@given(keys=st.lists(st.text("ab", min_size=1, max_size=3), min_size=1, max_size=40))
def test_cm_estimate_upper_bounds_truth(spark, keys):
    """CM one-sided error on arbitrary key multisets: estimate ≥ truth for
    every key, and the total sketch mass per row equals the input size."""
    from collections import Counter

    from vptstools_spark.operators import sketch

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    sk = sketch.cm_sketch(df, F.col("k"), depth=3, width=16)
    per_row = {r["__row"]: 0 for r in sk.collect()}
    for r in sk.collect():
        per_row[r["__row"]] += r["__cnt"]
    assert all(v == len(keys) for v in per_row.values())
    truth = Counter(keys)
    est = sketch.cm_estimate(
        sk, df.distinct(), "k", depth=3, width=16
    ).collect()
    for r in est:
        assert r["cm_est"] >= truth[r["k"]]


@PROP_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C"]),
            st.sampled_from(["m1", "m2"]),
            st.integers(-50, 50),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_matview_answers_match_naive(spark, rows, tmp_path_factory):
    """MV re-aggregation algebra vs a naive Python reference on random
    groups — including the derived avg under uneven group sizes."""
    from vptstools_spark.plans.matview import (
        MatViewDef,
        Measure,
        answer_from_mv,
        create_matview,
        read_matview,
    )

    mv = MatViewDef(
        "p", ("g", "m"),
        {"s": Measure("sum", "v"), "n": Measure("count", "*"),
         "mn": Measure("min", "v"), "mx": Measure("max", "v")},
        None,
    )
    df = spark.createDataFrame(
        [(g, m, float(v)) for g, m, v in rows], "g string, m string, v double"
    )
    path = str(tmp_path_factory.mktemp("mvp") / "mv")
    create_matview(df, path, mv)
    mv_df, mvd = read_matview(spark, path)
    got = {
        r["g"]: (r["s"], r["n"], r["a"], r["mn"], r["mx"])
        for r in answer_from_mv(
            mv_df, mvd, ["g"],
            {"s": ("sum", "v"), "n": ("count", "*"), "a": ("avg", "v"),
             "mn": ("min", "v"), "mx": ("max", "v")},
            # generated v is non-null by construction; count(*) backs avg
            assume_non_null=True,
        ).collect()
    }
    by_g: dict = {}
    for g, _, v in rows:
        by_g.setdefault(g, []).append(float(v))
    for g, vs in by_g.items():
        s, n, a, mn, mx = got[g]
        assert (s, n, mn, mx) == (sum(vs), len(vs), min(vs), max(vs))
        assert abs(a - sum(vs) / len(vs)) < 1e-9


@PROP_SETTINGS
@given(
    old=st.dictionaries(st.integers(0, 20), st.integers(-5, 5), max_size=15),
    new=st.dictionaries(st.integers(0, 20), st.integers(-5, 5), max_size=15),
)
def test_segment_digests_agree_with_row_diff(spark, old, new):
    """Coarse-to-fine consistency: the dirty-segment set from XOR digests
    must be EXACTLY the segments containing keys snapshot_diff flags."""
    from vptstools_spark.operators.scd import segment_sync_hashes, snapshot_diff

    odf = spark.createDataFrame(
        [(k, float(v)) for k, v in old.items()] or [], "k long, v double"
    )
    ndf = spark.createDataFrame(
        [(k, float(v)) for k, v in new.items()] or [], "k long, v double"
    )
    n_seg = 8
    a = {r["segment"]: (r["digest"], r["n_rows"])
         for r in segment_sync_hashes(odf, ["k"], n_seg).collect()}
    b = {r["segment"]: (r["digest"], r["n_rows"])
         for r in segment_sync_hashes(ndf, ["k"], n_seg).collect()}
    dirty = {s for s in set(a) | set(b) if a.get(s) != b.get(s)}
    diff_keys = [r["k"] for r in snapshot_diff(odf, ndf, keys=["k"]).collect()]
    seg_of = {
        r["k"]: r["segment"]
        for r in spark.createDataFrame(
            [(k,) for k in diff_keys] or [], "k long"
        ).select(
            "k",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("\x01"), F.col("k").cast("string"))),
                        1, 6,
                    ), 16, 10,
                ).cast("long") % n_seg
            ).alias("segment"),
        ).collect()
    }
    # XOR collisions could in principle hide a change, but not on these
    # sizes; equality (not ⊆) is the property that makes the recursion safe
    assert dirty == set(seg_of.values())


@PROP_SETTINGS
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1), st.integers(-50, 50)),
        min_size=1,
        max_size=30,
    )
)
def test_moments_merge_identity_and_python_replica(spark, vals):
    """merge(fine sketches) == direct coarse sketch (exact integers), and
    the power sums match a naive Python accumulation."""
    from vptstools_spark.operators.sketch import moments_merge, moments_sketch

    df = spark.createDataFrame(vals, "g int, sub int, x long")
    fine = moments_sketch(df, "x", ["g", "sub"], k=4)
    merged = {
        r["g"]: r for r in moments_merge(fine, ["g"], k=4).collect()
    }
    direct = {
        r["g"]: r for r in moments_sketch(df, "x", ["g"], k=4).collect()
    }
    assert merged.keys() == direct.keys()
    for g in direct:
        for c in ["n", "mn", "mx", "s1", "s2", "s3", "s4"]:
            assert merged[g][c] == direct[g][c], (g, c)
        xs = [x for gg, _s, x in vals if gg == g]
        assert direct[g]["n"] == len(xs)
        assert direct[g]["mn"] == min(xs) and direct[g]["mx"] == max(xs)
        for i in range(1, 5):
            assert direct[g][f"s{i}"] == sum(x**i for x in xs), (g, i)


@PROP_SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=2, max_size=12
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8, 1.0]),
)
def test_similarity_join_matches_naive_on_replica_heavy_input(
    spark, texts, threshold
):
    """The replica-collapse + array-verify similarity_join equals the
    naive all-pairs token-set Jaccard — tiny 'ab '-alphabet corpora are
    exactly the degenerate replica-heavy shape the collapse targets."""
    from vptstools_spark.operators.simjoin import similarity_join

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in similarity_join(docs, threshold).collect()
    }
    sets = {i: {w for w in t.split(" ") if w} for i, t in enumerate(texts)}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= threshold:
                    want[(a, b)] = round(j, 4)
    assert got == want


@PROP_SETTINGS
@given(
    left=st.lists(st.tuples(KEY, TS), max_size=12),
    right=st.dictionaries(st.tuples(KEY, TS), st.integers(-9, 9), max_size=12),
    tol=st.sampled_from([None, 0, 3, 100]),
)
def test_asof_nearest_matches_naive(spark, left, right, tol):
    from vptstools_spark.operators.asof import asof_join_nearest

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)] or [],
        "k long, ts long, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, t, float(v)) for (k, t), v in right.items()] or [],
        "k long, ts long, v double",
    )
    near = {
        r["lid"]: r["v_right"]
        for r in asof_join_nearest(
            ldf, rdf, on="k", payload_cols=["v"], tolerance=tol
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(t2, v) for (k2, t2), v in right.items() if k2 == k]
        n_want = None
        if cands:
            # min distance; ties -> backward (earlier right ts)
            best = min(cands, key=lambda tv: (abs(tv[0] - t), tv[0] >= t))
            if tol is None or abs(best[0] - t) <= tol:
                n_want = float(best[1])
        assert near[i] == n_want, ("near", i, k, t, tol)
