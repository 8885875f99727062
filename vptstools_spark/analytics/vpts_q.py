"""VPTS rendering semantics under the oracle gate.

The reference's own inputs are HDF5 files (no oracle-comparable tables), so
this module drives the engine's *rendering* operators — tri-state cell
serialization, ISO-8601, boolean render, int_to_nodata — over a profile-shaped
projection of `lineitem`, with the oracle reproducing the normative rules
(reference: src/vptstools/vpts_csv.py:240-295, vpts.py:125-127).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.functions.scalars import (
    bool_to_bool_str,
    datetime_to_proper8601,
    int_to_nodata,
)
from vptstools_spark.io import table
from vptstools_spark.operators.vpts import _render_measurement
from vptstools_spark.schemas import get_vpts_version


def q_vpts_tristate_render(spark: SparkSession, sf: str) -> DataFrame:
    """Profile-shaped rows from lineitem → v1.0 string rendering through the
    engine's real render expressions ("" = nodata, "NaN" = undetect,
    TRUE/FALSE gap, vcp NULL/0 → nodata)."""
    spec = get_vpts_version("v1.0")
    l = table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 2000)
    profile = l.select(
        F.col("l_returnflag").alias("radar"),
        F.col("l_shipdate").alias("ts"),
        (F.col("l_linenumber") * 200).alias("height"),
        # a double cell arrives as its rendered text (sources.odim.render_double);
        # Spark's cast gives the same text as DuckDB's for these quantities
        F.col("l_quantity").cast("double").cast("string").alias("u"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 3).cast("tinyint").alias("u__state"),
        (F.col("l_linenumber") % 2 == 1).alias("gap"),
        F.when(F.col("l_suppkey") % 3 == 0, "NULL")
        .when(F.col("l_suppkey") % 3 == 1, "0")
        .otherwise("12")
        .alias("vcp"),
    )
    return profile.select(
        F.col("radar"),
        datetime_to_proper8601(F.col("ts")).alias("datetime"),
        F.col("height").cast("string").alias("height"),
        _render_measurement("u", spec).alias("u_cell"),
        bool_to_bool_str(F.col("gap")).alias("gap"),
        int_to_nodata(F.col("vcp"), list(spec.vcp_nodata_values), spec.nodata).alias("vcp"),
    )


QUERIES = {"vpts_tristate_render": q_vpts_tristate_render}

ORACLES = {
    "vpts_tristate_render": """
        SELECT l_returnflag AS radar,
               strftime(l_shipdate, '%Y-%m-%dT%H:%M:%SZ') AS datetime,
               CAST(l_linenumber * 200 AS VARCHAR) AS height,
               CASE CAST((l_orderkey + l_linenumber) % 3 AS INT)
                    WHEN 1 THEN ''
                    WHEN 2 THEN 'NaN'
                    ELSE CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR)
               END AS u_cell,
               CASE WHEN l_linenumber % 2 = 1 THEN 'TRUE' ELSE 'FALSE' END AS gap,
               CASE CAST(l_suppkey % 3 AS INT)
                    WHEN 0 THEN '' WHEN 1 THEN '' ELSE '12'
               END AS vcp
        FROM lineitem WHERE l_orderkey <= 2000
    """,
}
