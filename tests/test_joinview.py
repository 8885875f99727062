"""Incrementally-maintained join views (plans/joinview.py): refresh via
the signed delta algebra ΔV = ΔA⋈B_new + A_old⋈ΔB must equal a full
re-join after every churn pattern, rewrite only affected partitions, and
handle the cancellation cases keyed application gets wrong."""

import os

import pytest
from pyspark.sql import functions as F

from vptstools_spark.plans.joinview import (
    JoinViewDef,
    build_joinview,
    read_joinview,
    refresh_joinview,
)
from vptstools_spark.plans.timetravel import (
    commit_append,
    commit_initial,
    commit_upsert_mor,
    delete_where,
    read_version,
)


def _orders(spark, rows):
    return spark.createDataFrame(rows, "okey long, ckey long, price double, part int")


def _cust(spark, rows):
    return spark.createDataFrame(rows, "ckey long, cname string, nation string")


@pytest.fixture()
def lake(spark, tmp_path):
    left = str(tmp_path / "orders_t")
    right = str(tmp_path / "cust_t")
    commit_initial(
        _orders(
            spark,
            [
                (1, 10, 5.0, 0),
                (2, 10, 7.0, 0),
                (3, 11, 9.0, 1),
                (4, 12, 2.0, 1),
                (5, 13, 4.0, 2),  # ckey 13 has no customer yet
            ],
        ),
        left,
        ["part"],
    )
    commit_initial(
        _cust(
            spark,
            [(10, "a", "FR"), (11, "b", "DE"), (12, "c", "FR")],
        ),
        right,
        [],
    )
    return left, right


def _defn(left, right):
    return JoinViewDef(
        name="ov",
        left_path=left,
        right_path=right,
        on=["ckey"],
        select=["okey", "ckey", "price", "part", "cname", "nation"],
        partition_by=["part"],
    )


def _full_join(spark, defn):
    a = read_version(spark, defn.left_path, None)
    b = read_version(spark, defn.right_path, None)
    return a.join(b, ["ckey"], "inner").select(*defn.select)


def _assert_view_exact(spark, view_path, defn):
    view, _ = read_joinview(spark, view_path)
    view = view.select(*defn.select)
    want = _full_join(spark, defn)
    assert view.exceptAll(want).count() == 0
    assert want.exceptAll(view).count() == 0


def test_build_then_noop_refresh(spark, tmp_path, lake):
    left, right = lake
    vp = str(tmp_path / "jv")
    defn = _defn(left, right)
    build_joinview(spark, defn, vp)
    _assert_view_exact(spark, vp, defn)
    r = refresh_joinview(spark, vp)
    assert r["refreshed"] is False


def test_left_append_and_delete(spark, tmp_path, lake):
    left, right = lake
    vp = str(tmp_path / "jv")
    defn = _defn(left, right)
    build_joinview(spark, defn, vp)
    commit_append(spark, left, _orders(spark, [(6, 11, 1.5, 2), (7, 12, 3.5, 0)]))
    delete_where(spark, left, "okey = 2")
    r = refresh_joinview(spark, vp)
    assert r["refreshed"] is True and r["delta_rows"] > 0
    _assert_view_exact(spark, vp, defn)


def test_right_append_matches_old_left_rows(spark, tmp_path, lake):
    left, right = lake
    vp = str(tmp_path / "jv")
    defn = _defn(left, right)
    build_joinview(spark, defn, vp)
    # customer 13 arrives late: order 5 (part 2) must join in
    commit_append(spark, right, _cust(spark, [(13, "d", "BE")]))
    refresh_joinview(spark, vp)
    _assert_view_exact(spark, vp, defn)
    view, _ = read_joinview(spark, vp)
    assert view.filter("okey = 5").count() == 1


def test_update_changes_content(spark, tmp_path, lake):
    left, right = lake
    vp = str(tmp_path / "jv")
    defn = _defn(left, right)
    build_joinview(spark, defn, vp)
    # MOR upsert = delete+insert pair in the feed; content must change
    commit_upsert_mor(
        spark, left, _orders(spark, [(3, 11, 99.0, 1)]), keys=["okey"]
    )
    refresh_joinview(spark, vp)
    _assert_view_exact(spark, vp, defn)
    view, _ = read_joinview(spark, vp)
    assert view.filter("okey = 3").select("price").first()["price"] == 99.0


def test_cross_cancellation_left_delete_right_insert(spark, tmp_path, lake):
    """The algebra's net-zero case: delete order 5 (ckey 13) in the same
    refresh window as customer 13's insert. ΔA⋈B_new yields −(5,13,...),
    A_old⋈ΔB yields +(5,13,...); net 0 — the row must NOT appear."""
    left, right = lake
    vp = str(tmp_path / "jv")
    defn = _defn(left, right)
    build_joinview(spark, defn, vp)
    delete_where(spark, left, "okey = 5")
    commit_append(spark, right, _cust(spark, [(13, "d", "BE")]))
    refresh_joinview(spark, vp)
    _assert_view_exact(spark, vp, defn)
    view, _ = read_joinview(spark, vp)
    assert view.filter("okey = 5").count() == 0


def test_partition_scoped_rewrite(spark, tmp_path, lake):
    """A refresh whose delta touches only part=2 must leave part 0/1
    data files byte-identical (bounded-worklist contract)."""
    left, right = lake
    vp = str(tmp_path / "jv")
    defn = _defn(left, right)
    build_joinview(spark, defn, vp)

    def files_in(part):
        d = os.path.join(vp, "data", f"part={part}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before0, before1 = files_in(0), files_in(1)
    commit_append(spark, left, _orders(spark, [(8, 11, 6.0, 2)]))
    r = refresh_joinview(spark, vp)
    assert r["partitions_rewritten"] == 1
    assert files_in(0) == before0 and files_in(1) == before1
    _assert_view_exact(spark, vp, defn)


def test_vanished_partition_dropped(spark, tmp_path, lake):
    """Deleting every order in part=2's only joined row set must remove
    the view partition (dynamic overwrite alone would leave it stale)."""
    left, right = lake
    vp = str(tmp_path / "jv")
    defn = _defn(left, right)
    build_joinview(spark, defn, vp)
    # make part=2 joinable first, then kill it
    commit_append(spark, right, _cust(spark, [(13, "d", "BE")]))
    refresh_joinview(spark, vp)
    view, _ = read_joinview(spark, vp)
    assert view.filter("part = 2").count() == 1
    delete_where(spark, left, "part = 2")
    refresh_joinview(spark, vp)
    _assert_view_exact(spark, vp, defn)
    assert not os.path.isdir(os.path.join(vp, "data", "part=2"))


def test_nonmatching_append_advances_pins_only(spark, tmp_path, lake):
    left, right = lake
    vp = str(tmp_path / "jv")
    defn = _defn(left, right)
    build_joinview(spark, defn, vp)
    # ckey 99 has no customer: delta joins to nothing
    commit_append(spark, left, _orders(spark, [(9, 99, 1.0, 0)]))
    r = refresh_joinview(spark, vp)
    assert r["refreshed"] is True and r["delta_rows"] == 0
    # the pins advanced: a second refresh has nothing left to apply
    assert refresh_joinview(spark, vp)["refreshed"] is False
    _assert_view_exact(spark, vp, defn)


def test_outer_join_rejected():
    with pytest.raises(ValueError, match="inner"):
        JoinViewDef(
            name="x",
            left_path="l",
            right_path="r",
            on=["k"],
            select=["k"],
            partition_by=[],
            how="left",
        )


def test_churn_sequence_stays_exact(spark, tmp_path, lake):
    """Multi-commit churn on both sides between refreshes, twice over —
    the view must track the full re-join at every refresh point."""
    left, right = lake
    vp = str(tmp_path / "jv")
    defn = _defn(left, right)
    build_joinview(spark, defn, vp)

    commit_append(spark, left, _orders(spark, [(6, 10, 1.0, 0), (7, 13, 2.0, 1)]))
    delete_where(spark, left, "okey = 1")
    commit_append(spark, right, _cust(spark, [(13, "d", "BE")]))
    commit_upsert_mor(spark, right, _cust(spark, [(10, "a2", "US")]), keys=["ckey"])
    refresh_joinview(spark, vp)
    _assert_view_exact(spark, vp, defn)

    delete_where(spark, right, "ckey = 11")
    commit_append(spark, left, _orders(spark, [(8, 12, 3.0, 2)]))
    commit_upsert_mor(spark, left, _orders(spark, [(4, 12, 20.0, 1)]), keys=["okey"])
    refresh_joinview(spark, vp)
    _assert_view_exact(spark, vp, defn)
