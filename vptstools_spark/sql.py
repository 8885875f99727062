"""SQL face: make the whole engine reachable from ``spark.sql``.

`register_all` publishes the harness tables as temp views, registers the
LATERAL-join UDTFs (`functions/udtfs.py`), and exposes every registry
query as a `q_<name>` temp view — so a SQL-only consumer (BI tool,
notebook, `spark-sql` shell) can compose engine operators without
touching the Python API:

    >>> register_all(spark, "/root/testdata/sf0.01")
    >>> spark.sql("SELECT * FROM q_pricing_summary").show()
    >>> spark.sql(\"\"\"
    ...     SELECT c.c_name, q.revenue
    ...     FROM q_region_revenue q JOIN customer c ON ...
    ... \"\"\")

Views are lazy plans, not materializations: Catalyst fuses a view
reference into the consuming query, so filters written in SQL still push
down through the registered query's plan.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from vptstools_spark.io import TABLES, table


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        table(spark, sf_dir, t).createOrReplaceTempView(t)


def register_query_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[str]:
    """Expose registry queries as `q_<name>` temp views; returns the view
    names. Pass `names` to register a subset (building all 130+ plans takes
    a few seconds of driver time — plan construction only, no execution)."""
    from vptstools_spark.analytics import all_queries

    out = []
    for name, fn in all_queries().items():
        if names is not None and name not in names:
            continue
        fn(spark, sf_dir).createOrReplaceTempView(f"q_{name}")
        out.append(f"q_{name}")
    return out


def register_table_as_of(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
    timestamp: float | None = None,
) -> str:
    """Time travel's session-level face: pin a versioned table (written by
    `plans/timetravel.py`) at `version` (default: latest) as a temp view,
    so SQL consumers get `SELECT ... FROM orders_v3`-style as-of reads:

        >>> register_table_as_of(spark, "/data/orders_tt", "orders_v3", 3)
        >>> spark.sql("SELECT count(*) FROM orders_v3")

    The view is the pinned snapshot's lazy plan — expiring the version
    later does not break the already-registered view (data files are never
    deleted by `expire_versions`), but re-registering it will raise the
    expired-version error."""
    from vptstools_spark.plans.timetravel import read_version

    # `timestamp` (epoch seconds) is the TIMESTAMP AS OF form; mutually
    # exclusive with `version` (read_version enforces it)
    read_version(spark, path, version, timestamp=timestamp).createOrReplaceTempView(
        name
    )
    return name


def register_table_changes(
    spark: SparkSession,
    path: str,
    name: str,
    from_version: int,
    to_version: int | None = None,
) -> str:
    """Change data feed's SQL face: the row-level feed of a versioned
    table (`plans/timetravel.py:table_changes`) as a temp view with
    `_change_type` / `_commit_version` columns, so SQL consumers audit or
    replay history without the Python API:

        >>> register_table_changes(spark, "/data/orders_tt", "orders_cdf", 3)
        >>> spark.sql("SELECT _change_type, count(*) FROM orders_cdf GROUP BY 1")
    """
    from vptstools_spark.plans.timetravel import table_changes

    table_changes(spark, path, from_version, to_version).createOrReplaceTempView(
        name
    )
    return name


def register_table_pruned(
    spark: SparkSession,
    path: str,
    name: str,
    predicates: list[tuple],
    version: int | None = None,
) -> str:
    """Pruned reads' SQL face (`plans/timetravel.py:read_version_where`):
    a versioned-table scan with the conjunction of (col, op, value)
    predicates pushed through hidden-partition transforms AND the
    commit's file-skipping manifest, registered as a temp view — SQL
    consumers get the planning-time pruning without the Python API:

        >>> register_table_pruned(spark, "/data/orders_tt", "o_recent",
        ...                       [("o_orderdate", ">=", "1997-06-15")])
        >>> spark.sql("SELECT count(*) FROM o_recent")
    """
    from vptstools_spark.plans.timetravel import read_version_where

    read_version_where(
        spark, path, predicates, version=version
    ).createOrReplaceTempView(name)
    return name


def register_table_branch(
    spark: SparkSession, path: str, branch: str, name: str
) -> str:
    """Branch reads' SQL face (`plans/branches.py:read_branch`): the
    branch head as a temp view, so an audit query inspects staged rows
    before a write-audit-publish merge makes them visible to main:

        >>> register_table_branch(spark, "/data/orders_tt", "wap", "staged")
        >>> spark.sql("SELECT count(*) FROM staged WHERE price < 0")
    """
    from vptstools_spark.plans.branches import read_branch

    read_branch(spark, path, branch).createOrReplaceTempView(name)
    return name


def register_metadata_tables(
    spark: SparkSession, path: str, prefix: str
) -> list[str]:
    """Iceberg-style metadata tables of a versioned table as temp views:
    `{prefix}_files`, `{prefix}_partitions`, `{prefix}_history` — so the
    compaction/skew/retention questions ("which partitions are
    small-file-heavy?", "how many delete commits since the last
    optimize?") are plain SQL:

        >>> register_metadata_tables(spark, "/data/orders_tt", "orders")
        >>> spark.sql("SELECT * FROM orders_partitions ORDER BY n_files DESC")
    """
    from vptstools_spark.plans.timetravel import (
        files_metadata,
        history_metadata,
        partitions_metadata,
    )

    names = []
    for suffix, df in (
        ("files", files_metadata(spark, path)),
        ("partitions", partitions_metadata(spark, path)),
        ("history", history_metadata(spark, path)),
    ):
        name = f"{prefix}_{suffix}"
        df.createOrReplaceTempView(name)
        names.append(name)
    return names


def register_all(
    spark: SparkSession, sf_dir: str, query_names: list[str] | None = None
) -> list[str]:
    """Tables + UDTFs + query views in one call; returns query view names."""
    from vptstools_spark.functions.udtfs import register_udtfs

    register_tables(spark, sf_dir)
    register_udtfs(spark)
    return register_query_views(spark, sf_dir, query_names)
