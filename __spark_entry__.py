"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query smoke check at sf0.001.
queries()      — every implemented operator (SURVEY.md §2 + training-data
                 pipeline extensions) as (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent SQL per query for the correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vptstools_spark.analytics import all_oracles, all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from vptstools_spark.analytics.relational import q_pricing_summary

    return q_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return all_queries()


def oracle_sql() -> dict[str, str]:
    return all_oracles()
