"""Materialized-view layer (plans/matview.py): answer equality vs the
base table, the avg-of-averages trap, spec matching and router
fallback."""

import pytest
from pyspark.sql import functions as F

from vptstools_spark.plans.matview import (
    MatViewDef,
    Measure,
    answer_from_mv,
    can_answer,
    create_matview,
    read_matview,
    route,
)

MV = MatViewDef(
    name="sales_by_prio_month",
    dims=("prio", "month"),
    measures={
        "rev_sum": Measure("sum", "price", cast="decimal(18,2)"),
        "n": Measure("count", "*"),
        "p_min": Measure("min", "price"),
        "p_max": Measure("max", "price"),
    },
    partition_dim="month",
)


def _base(spark, rows):
    return spark.createDataFrame(rows, "prio string, month string, price double")


def _rows(df, dims):
    return {
        tuple(r[d] for d in dims): tuple(v for k, v in r.asDict().items() if k not in dims)
        for r in df.collect()
    }


def test_mv_answers_equal_base_aggregate(spark, tmp_path):
    base = _base(
        spark,
        [("HIGH", "m1", 10.0), ("HIGH", "m1", 20.0), ("HIGH", "m2", 40.0),
         ("LOW", "m1", 1.0), ("LOW", "m2", 3.0), ("LOW", "m2", 5.0)],
    )
    path = str(tmp_path / "mv")
    create_matview(base, path, MV)
    mv_df, mv = read_matview(spark, path)
    wanted = {
        "n_rows": ("count", "*"),
        "revenue": ("sum", "price"),
        "avg_price": ("avg", "price"),
        "min_price": ("min", "price"),
        "max_price": ("max", "price"),
    }
    # MV stores count(*) only; price is non-null in this fixture, declared
    got = answer_from_mv(mv_df, mv, ["prio"], wanted, assume_non_null=True)
    direct = base.groupBy("prio").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("price").cast("decimal(18,2)")).alias("revenue"),
        F.avg("price").alias("avg_price"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )
    g, d = _rows(got, ["prio"]), _rows(direct, ["prio"])
    assert set(g) == set(d)
    for k in g:
        for a, b in zip(g[k], d[k]):
            assert float(a) == pytest.approx(float(b))


def test_avg_is_sum_over_count_not_avg_of_avgs(spark, tmp_path):
    # groups of very different sizes: avg-of-avgs would give 5.5, truth is 1.9
    base = _base(
        spark,
        [("A", "m1", 1.0)] * 9 + [("A", "m2", 10.0)],
    )
    path = str(tmp_path / "mv")
    create_matview(base, path, MV)
    mv_df, mv = read_matview(spark, path)
    out = answer_from_mv(
        mv_df, mv, ["prio"], {"a": ("avg", "price")}, assume_non_null=True
    ).collect()
    assert out[0]["a"] == pytest.approx(1.9)


def test_can_answer_rejects_underivable(spark):
    assert can_answer(MV, ["prio"], {"x": ("sum", "price")})
    assert not can_answer(MV, ["prio", "day"], {"x": ("sum", "price")})
    assert not can_answer(MV, ["prio"], {"x": ("sum", "qty")})
    no_count = MatViewDef(
        "nc", ("prio",), {"s": Measure("sum", "price")}, None
    )
    assert not can_answer(no_count, ["prio"], {"x": ("avg", "price")})
    # count(*)-only MVs answer avg ONLY under the explicit non-null
    # declaration — the default must fall through, not divide by the
    # wrong count on a nullable column (ADVICE r4)
    assert not can_answer(MV, ["prio"], {"x": ("avg", "price")})
    assert can_answer(MV, ["prio"], {"x": ("avg", "price")}, assume_non_null=True)


def test_route_falls_back_to_base_on_miss(spark, tmp_path):
    base = _base(spark, [("A", "m1", 2.0), ("B", "m1", 4.0)])
    path = str(tmp_path / "mv")
    create_matview(base, path, MV)
    mv_df, mv = read_matview(spark, path)
    # 'day' is not an MV dim -> must aggregate the base table
    out = route(
        base.withColumn("day", F.lit("d1")), mv_df, mv,
        ["day"], {"n_rows": ("count", "*")},
    ).collect()
    assert [(r["day"], r["n_rows"]) for r in out] == [("d1", 2)]


def test_mv_answer_scans_only_the_mv(spark, tmp_path):
    """Plan evidence for the whole point of MVs: the served rollup's scan
    reads the summary parquet, not the base table's files."""
    base = _base(spark, [("A", "m1", 2.0), ("B", "m2", 4.0)])
    base_path = str(tmp_path / "base_tbl")
    base.write.parquet(base_path)
    path = str(tmp_path / "mv")
    create_matview(spark.read.parquet(base_path), path, MV)
    mv_df, mv = read_matview(spark, path)
    plan = (
        answer_from_mv(mv_df, mv, ["prio"], {"n_rows": ("count", "*")})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the scan location renders truncated (and the truncation point moves
    # with the tmp-dir name), so assert on the column-pruned SUMMARY
    # schema — only the MV has it — and the base table's absence
    assert "base_tbl" not in plan
    assert "struct<prio:string,n:bigint>" in plan
    assert "ReadSchema: struct<prio:string,n:bigint>" in plan


def test_avg_on_nullable_column_uses_count_of_column(spark, tmp_path):
    """avg(col) must divide by count(col), not count(*), when the column
    has NULLs — the MV stores both counts and the NULL-exact one wins."""
    from vptstools_spark.plans.matview import answer_from_mv

    mv = MatViewDef(
        "nn", ("g",),
        {"s": Measure("sum", "v"), "n_star": Measure("count", "*"),
         "n_v": Measure("count", "v")},
        None,
    )
    df = spark.createDataFrame(
        [("A", 2.0), ("A", None), ("A", 4.0)], "g string, v double"
    )
    path = str(tmp_path / "mv")
    create_matview(df, path, mv)
    mv_df, mvd = read_matview(spark, path)
    out = answer_from_mv(mv_df, mvd, ["g"], {"a": ("avg", "v")}).collect()
    assert out[0]["a"] == 3.0  # (2+4)/2, NOT (2+4)/3


def test_filtered_route_hits_mv_and_prunes_partitions(spark, tmp_path):
    base = _base(
        spark,
        [("A", "m1", 1.0), ("A", "m2", 2.0), ("A", "m3", 4.0),
         ("B", "m2", 8.0)],
    )
    path = str(tmp_path / "mv")
    create_matview(base, path, MV)
    mv_df, mv = read_matview(spark, path)
    out = route(
        base, mv_df, mv, ["prio"], {"total": ("sum", "price")},
        filters=[("month", "=", "m2")],
    )
    got = {r["prio"]: float(r["total"]) for r in out.collect()}
    assert got == {"A": 2.0, "B": 8.0}
    # dim filter routes to the MV (no base lineage) and the partition_dim
    # equality reaches the hive-partitioned scan as a partition filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(month" in plan


def test_filtered_route_falls_back_on_non_dim_filter(spark, tmp_path):
    base = _base(spark, [("A", "m1", 1.0), ("A", "m1", 5.0)])
    path = str(tmp_path / "mv")
    create_matview(base, path, MV)
    mv_df, mv = read_matview(spark, path)
    # price is a measure column, not a dim: must aggregate the base table
    assert not can_answer(MV, ["prio"], {"t": ("sum", "price")},
                          filters=[("price", ">", 2.0)])
    out = route(
        base, mv_df, mv, ["prio"], {"t": ("sum", "price")},
        filters=[("price", ">", 2.0)],
    ).collect()
    assert [(r["prio"], r["t"]) for r in out] == [("A", 5.0)]


def test_filtered_route_rejects_unknown_op(spark):
    with pytest.raises(ValueError, match="unsupported filter op"):
        can_answer(MV, ["prio"], {"t": ("sum", "price")},
                   filters=[("month", "like", "m%")])


def test_joinview_refresh_over_equality_delete(spark, tmp_path):
    """The incremental join-view refresh consumes the change feed; an
    equality-delete commit's derived delete rows flow through the
    signed delta algebra like position-vector deletes do."""
    from vptstools_spark.plans.joinview import (
        JoinViewDef,
        build_joinview,
        read_joinview,
        refresh_joinview,
    )
    from vptstools_spark.plans.timetravel import (
        commit_initial,
        delete_where_eq,
        read_version,
    )

    left = str(tmp_path / "fact")
    right = str(tmp_path / "dim")
    vp = str(tmp_path / "view")
    commit_initial(
        spark.createDataFrame(
            [(i, i % 4, i % 2, float(i)) for i in range(40)],
            "okey long, ckey int, part int, price double",
        ),
        left,
    )
    commit_initial(
        spark.createDataFrame(
            [(c, f"c{c}") for c in range(4)], "ckey int, cname string"
        ),
        right,
    )
    defn = JoinViewDef(
        name="ov",
        left_path=left,
        right_path=right,
        on=["ckey"],
        select=["okey", "ckey", "part", "price", "cname"],
        partition_by=["part"],
    )
    build_joinview(spark, defn, vp)
    delete_where_eq(
        spark,
        left,
        spark.createDataFrame([(k,) for k in range(0, 40, 5)], "okey long"),
        ["okey"],
    )
    rep = refresh_joinview(spark, vp)
    assert rep["mode"] == "incremental" if "mode" in rep else True
    view, _ = read_joinview(spark, vp)
    want = sorted(
        (i, i % 4, i % 2, float(i), f"c{i % 4}")
        for i in range(40)
        if i % 5 != 0
    )
    assert sorted(map(tuple, view.collect())) == want
