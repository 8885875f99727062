"""Cross-table transactional catalog (plans/catalog.py)."""

import pytest

from vptstools_spark.plans.catalog import (
    catalog_add_table,
    catalog_commit,
    catalog_init,
    catalog_pins,
    pinned_table_versions,
    read_catalog_table,
    register_catalog,
)
from vptstools_spark.plans.timetravel import (
    CommitConflictError,
    commit_append,
    commit_initial,
)


def _mk(spark, rows, schema="k int, v double"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def warehouse(spark, tmp_path):
    orders = str(tmp_path / "orders")
    rollup = str(tmp_path / "rollup")
    commit_initial(_mk(spark, [(1, 10.0), (2, 20.0)]), orders)
    commit_initial(_mk(spark, [(0, 30.0)], "grp int, total double"), rollup)
    cat = str(tmp_path / "cat")
    catalog_init(spark, cat, {"orders": (orders, 0), "rollup": (rollup, 0)})
    return cat, orders, rollup


def test_staged_versions_invisible_until_catalog_commit(spark, warehouse):
    cat, orders, rollup = warehouse
    # stage new versions in BOTH table logs — catalog still serves v0s
    commit_append(spark, orders, _mk(spark, [(3, 30.0)]))
    commit_append(spark, rollup, _mk(spark, [(1, 30.0)], "grp int, total double"))
    assert read_catalog_table(spark, cat, "orders").count() == 2
    assert read_catalog_table(spark, cat, "rollup").count() == 1

    # one atomic swap exposes both together
    v = catalog_commit(spark, cat, {"orders": 1, "rollup": 1})
    assert read_catalog_table(spark, cat, "orders", v).count() == 3
    assert read_catalog_table(spark, cat, "rollup", v).count() == 2
    # the old catalog version is still a consistent snapshot
    assert read_catalog_table(spark, cat, "orders", 0).count() == 2


def test_catalog_commit_guards(spark, warehouse):
    cat, orders, _rollup = warehouse
    with pytest.raises(ValueError):  # version not committed in table log
        catalog_commit(spark, cat, {"orders": 9})
    with pytest.raises(ValueError):  # unknown table
        catalog_commit(spark, cat, {"nope": 0})
    commit_append(spark, orders, _mk(spark, [(3, 30.0)]))
    with pytest.raises(CommitConflictError):  # stale expected_version
        catalog_commit(spark, cat, {"orders": 1}, expected_version=7)
    v = catalog_commit(spark, cat, {"orders": 1}, expected_version=0)
    assert v == 1
    assert catalog_pins(spark, cat)["orders"][1] == 1


def test_add_table_retention_and_sql_face(spark, warehouse, tmp_path):
    cat, orders, rollup = warehouse
    extra = str(tmp_path / "extra")
    commit_initial(_mk(spark, [(9, 9.0)]), extra)
    catalog_add_table(spark, cat, "extra", extra, 0)
    commit_append(spark, orders, _mk(spark, [(3, 30.0)]))
    catalog_commit(spark, cat, {"orders": 1})

    pinned = pinned_table_versions(spark, cat)
    assert pinned[orders] == {0, 1}  # both catalog commits' pins survive
    assert pinned[rollup] == {0}
    assert pinned[extra] == {0}

    views = register_catalog(spark, cat)
    assert views == ["extra", "orders", "rollup"]
    assert spark.sql("SELECT count(*) n FROM orders").collect()[0]["n"] == 3
    # pinned view of the PREVIOUS catalog version is the old warehouse
    register_catalog(spark, cat, 1)
    assert spark.sql("SELECT count(*) n FROM orders").collect()[0]["n"] == 2
