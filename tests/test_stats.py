"""Table statistics + cost-based join planning (plans/stats.py):
single-pass ANALYZE correctness, sidecar roundtrip, version-pinned
staleness, System-R estimates, and — the point — the stats-driven
strategy actually materializing as the corresponding physical join."""

import pytest
from pyspark.sql import functions as F

from vptstools_spark.plans.hints import plan_string
from vptstools_spark.plans.stats import (
    TableStats,
    analyze_table,
    analyze_versioned_table,
    choose_join_strategy,
    estimate_equi_join,
    estimate_filter_selectivity,
    read_stats,
    stats_join,
    stats_stale,
    write_stats,
)


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [(i, i % 10, f"name_{i % 7}", None if i % 5 == 0 else float(i))
         for i in range(1000)],
        "id long, grp int, name string, val double",
    )


def test_analyze_exact(spark, df):
    s = analyze_table(df, exact=True)
    assert s.n_rows == 1000
    assert s.columns["id"].ndv == 1000
    assert s.columns["grp"].ndv == 10
    assert s.columns["name"].ndv == 7
    assert s.columns["val"].n_nonnull == 800
    assert s.null_count("val") == 200
    assert s.columns["id"].min == 0 and s.columns["id"].max == 999
    assert s.columns["name"].avg_len == pytest.approx(6.0)


def test_analyze_approx_close(spark, df):
    s = analyze_table(df)
    # HLL++ at rsd 5%: well within 15% on these cardinalities
    assert abs(s.columns["id"].ndv - 1000) <= 150
    assert abs(s.columns["grp"].ndv - 10) <= 2


def test_sidecar_roundtrip_and_staleness(spark, df, tmp_path):
    from vptstools_spark.plans.timetravel import commit_append, commit_initial

    path = str(tmp_path / "vt")
    commit_initial(df, path, [])
    s = analyze_versioned_table(spark, path, exact=True)
    assert s.version == 0
    back = read_stats(spark, path)
    assert back.n_rows == 1000 and back.version == 0
    assert back.columns["grp"].ndv == 10
    assert stats_stale(spark, path) is False
    commit_append(spark, path, df.limit(5))
    assert stats_stale(spark, path) is True


def test_join_estimate_formula():
    l = TableStats(
        n_rows=1000,
        columns={"k": _cs("k", 1000, 100)},
    )
    r = TableStats(n_rows=500, columns={"k": _cs("k", 500, 50)})
    # 1000*500 / max(100,50) = 5000
    assert estimate_equi_join(l, r, ["k"]) == pytest.approx(5000.0)


def _cs(name, nn, ndv, mn=None, mx=None, al=None):
    from vptstools_spark.plans.stats import ColumnStats

    return ColumnStats(name=name, n_nonnull=nn, ndv=ndv, min=mn, max=mx, avg_len=al)


def test_join_estimate_close_to_actual(spark):
    a = spark.range(0, 2000).select((F.col("id") % 40).alias("k"), "id")
    b = spark.range(0, 300).select((F.col("id") % 40).alias("k"))
    sa, sb = analyze_table(a, exact=True), analyze_table(b, exact=True)
    est = estimate_equi_join(sa, sb, ["k"])
    actual = a.join(b, "k").count()
    assert 0.5 * actual <= est <= 2.0 * actual


def test_filter_selectivity():
    s = TableStats(n_rows=100, columns={"x": _cs("x", 100, 20, 0, 100)})
    assert estimate_filter_selectivity(s, "x", "=", 5) == pytest.approx(0.05)
    assert estimate_filter_selectivity(s, "x", "<", 25) == pytest.approx(0.25)
    assert estimate_filter_selectivity(s, "x", ">", 25) == pytest.approx(0.75)
    # non-numeric bounds → Selinger default
    s2 = TableStats(n_rows=100, columns={"x": _cs("x", 100, 20, "a", "z")})
    assert estimate_filter_selectivity(s2, "x", "<", "m") == pytest.approx(1 / 3)


def test_choose_strategy_thresholds():
    small = TableStats(n_rows=100, columns={"k": _cs("k", 100, 100)})
    big = TableStats(n_rows=10**9, columns={"k": _cs("k", 10**9, 10**6)})
    mid = TableStats(n_rows=10**7, columns={"k": _cs("k", 10**7, 10**6)})
    d = choose_join_strategy(big, small)
    assert d["strategy"] == "broadcast" and d["side"] == "right"
    d = choose_join_strategy(big, mid)
    assert d["strategy"] == "shuffle_hash"
    d = choose_join_strategy(big, big)
    assert d["strategy"] == "merge"


def test_stats_join_materializes_choice(spark):
    """With auto-broadcast disabled, the broadcast in the executed plan
    can only come from OUR stats-driven hint."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(0, 50_000).select((F.col("id") % 97).alias("k"), "id")
        dim = spark.range(0, 97).select(F.col("id").alias("k"),
                                        (F.col("id") * 2).alias("v"))
        sb, sd = analyze_table(big, exact=True), analyze_table(dim, exact=True)
        df, decision = stats_join(big, dim, ["k"], sb, sd)
        assert decision["strategy"] == "broadcast" and decision["side"] == "right"
        assert "BroadcastHashJoin" in plan_string(df)
        assert df.count() == 50_000

        # both sides over the broadcast budget → no broadcast in the plan
        big2 = spark.range(0, 50_000).select((F.col("id") % 97).alias("k"))
        inflated = TableStats(
            n_rows=10**9, columns={"k": _cs("k", 10**9, 97)}
        )
        df2, d2 = stats_join(big, big2, ["k"], inflated, inflated)
        assert d2["strategy"] == "merge"
        assert "BroadcastHashJoin" not in plan_string(df2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_stats_join_left_side_small_flips_hint(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        dim = spark.range(0, 97).select(F.col("id").alias("k"),
                                        (F.col("id") * 2).alias("v"))
        big = spark.range(0, 50_000).select((F.col("id") % 97).alias("k"), "id")
        sd, sb = analyze_table(dim, exact=True), analyze_table(big, exact=True)
        df, decision = stats_join(dim, big, ["k"], sd, sb)
        assert decision["side"] == "left" and decision["strategy"] == "broadcast"
        assert "BroadcastHashJoin" in plan_string(df)
        # flip preserved the declared column order: on, left cols, right cols
        assert df.columns == ["k", "v", "id"]
        assert df.count() == 50_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ------------------------------------------------ incremental maintenance


def _tt(spark, tmp_path, name="tt"):
    from vptstools_spark.plans.timetravel import commit_initial

    path = str(tmp_path / name)
    base = spark.createDataFrame(
        [(i, i % 5, f"w{i % 13}", float(i)) for i in range(200)],
        "k long, day int, w string, v double",
    )
    commit_initial(base, path, ["day"])
    return path


def _cmp(inc, full, cols):
    assert inc.n_rows == full.n_rows
    for c in cols:
        ic, fc = inc.columns[c], full.columns[c]
        assert ic.n_nonnull == fc.n_nonnull, c
        assert ic.ndv == fc.ndv, c
        assert str(ic.min) == str(fc.min) and str(ic.max) == str(fc.max), c
        if fc.avg_len is not None:
            assert ic.avg_len == pytest.approx(fc.avg_len), c


def test_incremental_analyze_appends_match_full(spark, tmp_path):
    """Append-only history: the CDF-maintained stats are IDENTICAL to a
    full re-analyze — counts/sums signed-exact, NDV via sketch union
    (HLL of a multiset == union of its parts' HLLs, deterministically)."""
    from vptstools_spark.plans.stats import (
        analyze_table_sketched,
        incremental_analyze,
    )
    from vptstools_spark.plans.timetravel import commit_append, read_version

    path = _tt(spark, tmp_path)
    s0 = incremental_analyze(spark, path)  # first call: full pass
    assert s0.version == 0 and s0.n_rows == 200
    delta = spark.createDataFrame(
        [(i, i % 5, f"w{i % 31}", float(i)) for i in range(200, 350)],
        "k long, day int, w string, v double",
    )
    commit_append(spark, path, delta)
    inc = incremental_analyze(spark, path)
    assert inc.version == 1 and inc.n_rows == 350
    full, _ = analyze_table_sketched(read_version(spark, path))
    _cmp(inc, full, ["k", "day", "w", "v"])


def test_incremental_analyze_deletes_signed_counts_bounded_ndv(
    spark, tmp_path
):
    """MOR deletes: row/non-null counts and length sums subtract exactly;
    NDV and min/max become valid BOUNDS (can't shrink a sketch)."""
    from vptstools_spark.plans.stats import incremental_analyze
    from vptstools_spark.plans.timetravel import delete_where

    path = _tt(spark, tmp_path, "ttd")
    incremental_analyze(spark, path)
    delete_where(spark, path, "k >= 150")
    inc = incremental_analyze(spark, path)
    assert inc.n_rows == 150
    assert inc.columns["k"].n_nonnull == 150
    # bounds: still valid (cover the data), possibly loose
    assert float(inc.columns["k"].min) <= 0
    assert float(inc.columns["k"].max) >= 149
    assert inc.columns["k"].ndv >= 140  # upper-bound NDV clamped to rows? no:
    # 200-value sketch clamped to min(ndv, n_nonnull)=150
    assert inc.columns["k"].ndv <= 150
    # avg_len stays exact under deletes (signed length sums)
    got = inc.columns["w"].avg_len
    want = sum(len(f"w{i % 13}") for i in range(150)) / 150
    assert got == pytest.approx(want)


def test_incremental_analyze_cow_falls_back_to_full(spark, tmp_path):
    """A copy-on-write upsert in the gap makes the CDF O(snapshot), so the
    maintainer re-analyzes fully — and the result is exact again."""
    from vptstools_spark.plans.stats import (
        analyze_table_sketched,
        incremental_analyze,
    )
    from vptstools_spark.plans.timetravel import commit_upsert, read_version

    path = _tt(spark, tmp_path, "ttc")
    incremental_analyze(spark, path)
    delta = spark.createDataFrame(
        [(1, 0, "zz", 99.0)], "k long, day int, w string, v double"
    )
    commit_upsert(spark, path, delta, keys=["k"])
    inc = incremental_analyze(spark, path)
    full, _ = analyze_table_sketched(read_version(spark, path))
    _cmp(inc, full, ["k", "day", "w", "v"])
    assert inc.version == 1


def test_incremental_analyze_fresh_is_noop(spark, tmp_path):
    from vptstools_spark.plans.stats import incremental_analyze

    path = _tt(spark, tmp_path, "ttn")
    s1 = incremental_analyze(spark, path)
    s2 = incremental_analyze(spark, path)  # same version: sidecar read only
    assert s2.version == s1.version and s2.n_rows == s1.n_rows


def test_incremental_analyze_fresh_but_missing_column_rebuilds(
    spark, tmp_path
):
    """An explicit `columns` request naming a column ABSENT from the
    stored doc must trigger a full rebuild even when the stored version
    is current — not silently return the narrower stored stats
    (ADVICE r7)."""
    from vptstools_spark.plans.stats import incremental_analyze

    path = _tt(spark, tmp_path, "ttm")
    s1 = incremental_analyze(spark, path, columns=["k", "day"])
    assert set(s1.columns) == {"k", "day"}
    s2 = incremental_analyze(spark, path, columns=["k", "day", "w"])
    assert s2.version == s1.version
    assert "w" in s2.columns and s2.columns["w"].n_nonnull == 200


def test_auto_analyze_refreshes_and_flips_strategy(spark, tmp_path):
    """VERDICT r5 #7: commit → stale stats → the planner refreshes
    automatically → the join strategy flips with the new sizes."""
    import warnings

    from vptstools_spark.plans.stats import (
        StaleStatsWarning,
        analyze_versioned_table,
        fresh_stats,
        read_stats,
        stats_join_versioned,
        stats_stale,
    )
    from vptstools_spark.plans.timetravel import commit_append, commit_initial

    dim = str(tmp_path / "dim")
    fact = str(tmp_path / "fact")
    commit_initial(
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(10)], "k long, name string"
        ),
        dim,
    )
    commit_initial(
        spark.createDataFrame(
            [(i % 10, float(i)) for i in range(500)], "k long, v double"
        ),
        fact,
    )
    analyze_versioned_table(spark, dim)
    analyze_versioned_table(spark, fact)

    # tiny thresholds so sizes land on either side of the broadcast cut
    thresholds = dict(broadcast_bytes=3000, hash_build_bytes=10**9)
    _, d1 = stats_join_versioned(spark, dim, fact, ["k"], **thresholds)
    assert d1["strategy"] == "broadcast" and d1["side"] == "left"

    # the dim grows past the broadcast budget; stats are now stale
    commit_append(
        spark,
        dim,
        spark.createDataFrame(
            [(100 + i, f"x{i}") for i in range(3000)], "k long, name string"
        ),
    )
    assert stats_stale(spark, dim)
    _, d2 = stats_join_versioned(spark, dim, fact, ["k"], **thresholds)
    # the planner refreshed (sidecar re-pinned to the new version) and
    # the strategy flipped off broadcast-left
    assert not stats_stale(spark, dim)
    assert d2["left_stats_version"] == 1
    assert read_stats(spark, dim).n_rows == 3010
    assert (d2["strategy"], d2["side"]) != ("broadcast", "left")

    # auto_refresh=False: stale stats are served with the warning
    commit_append(
        spark, dim,
        spark.createDataFrame([(9999, "z")], "k long, name string"),
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        st = fresh_stats(spark, dim, auto_refresh=False)
    assert any(issubclass(x.category, StaleStatsWarning) for x in w)
    assert st.version == 1  # the stale pin, served as-is


def test_hist_roundtrip_and_exact_incremental(spark, tmp_path):
    """Histogram bucket counts survive the sidecar round-trip and are
    maintained EXACTLY (not bounded) through MOR churn with deletes —
    the property NDV sketches cannot have."""
    from vptstools_spark.plans.stats import (
        analyze_table_sketched,
        incremental_analyze,
        read_stats,
        write_stats_sketched,
    )
    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_initial,
        delete_where,
        read_version,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 5000).selectExpr(
        "id AS k", "CAST((id * id) % 1000 AS LONG) AS x"
    )
    commit_initial(df, path, [])
    st, sk = analyze_table_sketched(read_version(spark, path))
    write_stats_sketched(spark, path, st, sk, version=0)
    assert read_stats(spark, path).columns["x"].hist == st.columns["x"].hist
    delete_where(spark, path, "k % 3 = 0")
    commit_append(
        spark,
        path,
        spark.range(9000, 9500).selectExpr(
            "id AS k", "CAST(id % 7 AS LONG) AS x"
        ),
    )
    inc = incremental_analyze(spark, path)
    full, _ = analyze_table_sketched(read_version(spark, path))
    assert inc.columns["x"].hist == full.columns["x"].hist
    assert inc.columns["k"].hist == full.columns["k"].hist


def test_hist_selectivity_beats_interpolation_on_skew(spark):
    """Exponential-ish skew: uniform interpolation misestimates a median
    threshold badly; the histogram lands within its bucket-width bound."""
    from vptstools_spark.plans.stats import (
        analyze_table_sketched,
        estimate_filter_selectivity,
    )
    import dataclasses

    # 10k rows, 99% below 100, 1% up to 1e6 — range estimate for
    # x <= 100 from [min, max] interpolation is ~1e-4; truth is ~0.99
    df = spark.range(0, 10000).selectExpr(
        "CASE WHEN id % 100 = 0 THEN 1000000 - id ELSE id % 100 END AS x"
    )
    st, _ = analyze_table_sketched(df)
    actual = df.filter("x <= 100").count() / 10000
    est = estimate_filter_selectivity(st, "x", "<=", 100)
    assert abs(est - actual) < 0.07  # one bucket of slack
    # strip the histogram: the uniform fallback is off by > 10x
    bare = dataclasses.replace(st.columns["x"], hist=None)
    st_bare = dataclasses.replace(st, columns={**st.columns, "x": bare})
    fallback = estimate_filter_selectivity(st_bare, "x", "<=", 100)
    assert fallback < actual / 10


def test_hist_negative_underflow_bucket(spark):
    from vptstools_spark.plans.stats import (
        analyze_table_sketched,
        estimate_filter_selectivity,
    )

    df = spark.range(0, 1000).selectExpr("CAST(id - 500 AS LONG) AS x")
    st, _ = analyze_table_sketched(df)
    assert st.columns["x"].hist[-1] == 500  # all negatives, one bucket
    est = estimate_filter_selectivity(st, "x", "<=", 0)
    assert abs(est - 0.501) < 0.05
    est_gt = estimate_filter_selectivity(st, "x", ">", 250)
    assert abs(est_gt - 249 / 1000) < 0.07
