"""Inventory analytics queries — the reference's S3-inventory surface
(SURVEY §2 S5/P11-P13/F1-F2/A1-A4) driven through the engine's
operators/inventory.py over a synthetic inventory derived deterministically
from the `events` table (the oracle reconstructs the same facts from the raw
columns, so the engine's path parsing/aggregation is verified end-to-end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.io import fan_out, table
from vptstools_spark.operators.inventory import (
    coverage,
    monthly_rollup,
    parse_inventory,
)

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def synth_inventory(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic inventory table from events: 5-letter radar code from
    user_id, hive-like key `{source}/hdf5/{radar}/{yyyy}/{mm}/{dd}/{name}.h5`
    (path grammar: reference src/vptstools/s3.py:100-153). 'error' events
    become non-h5 noise keys that the h5-suffix filter must drop."""
    # the driver parquet is a single row group → one scan task; the regex
    # parse downstream is the expensive narrow stage fan_out exists for
    e = fan_out(table(spark, sf, "events").select("user_id", "event_type", "ts"))
    radar = F.concat(
        F.lit("bej"),
        F.expr(f"substr('{_ALPHA}', CAST(user_id % 26 AS INT) + 1, 1)"),
        F.expr(f"substr('{_ALPHA}', CAST((user_id div 26) % 26 AS INT) + 1, 1)"),
    )
    h5_key = F.concat(
        F.lit("baltrad/hdf5/"),
        radar,
        F.lit("/"),
        F.date_format("ts", "yyyy/MM/dd"),
        F.lit("/"),
        radar,
        F.lit("_vp_"),
        F.date_format("ts", "yyyyMMdd'T'HHmm"),
        F.lit("Z_0xb.h5"),
    )
    noise_key = F.concat(F.lit("baltrad/logs/"), F.date_format("ts", "yyyy/MM/dd"), F.lit("/log.csv"))
    # r10 (guide §2.6 round-5 AQE/serialization family): downstream
    # parse_inventory filters on the key's extension, and Catalyst pushed
    # that predicate — with the whole CASE+date_format key synthesis
    # substituted into it — BELOW fan_out's round-robin exchange, i.e.
    # into the single-row-group scan task: the expensive filter ran
    # SERIAL (8-core/32-core ratio 0.94) and the synthesis evaluated
    # twice (once in the pushed filter, once in the projection). An
    # explode_outer(array(…)) Generate is a predicate-pushdown barrier:
    # the key is synthesized ONCE, after the exchange, in parallel, and
    # the suffix filter stays above it. explode_OUTER so
    # InferFiltersFromGenerate cannot re-derive a size()>0 probe of the
    # synthesis below the exchange; array(expr) is 1 element per row, so
    # rows are unchanged.
    key = F.when(F.col("event_type") == "error", noise_key).otherwise(h5_key)
    return e.select(
        F.lit("testrepo").alias("repo"),
        F.explode_outer(F.array(key)).alias("file"),
        F.lit(0).cast("long").alias("size"),
        F.col("ts").alias("modified"),
    )


def q_inv_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Path parse + h5 filter + radar-day group-count (A1/A2 via Catalyst's
    automatic partial/final aggregation)."""
    return coverage(parse_inventory(synth_inventory(spark, sf)))


def q_inv_days_window(spark: SparkSession, sf: str) -> DataFrame:
    """days_to_create_vpts A3: modified-window filter (7 days back from the
    data max — a broadcast scalar, no driver collect) + group-count."""
    parsed = parse_inventory(synth_inventory(spark, sf))
    mx = parsed.agg(F.max("modified").alias("_mx"))
    recent = (
        parsed.join(F.broadcast(mx))
        .filter(F.col("modified") > F.col("_mx") - F.expr("INTERVAL 7 DAYS"))
        .drop("_mx")
    )
    return coverage(recent)


def q_inv_monthly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Day→month rollup A4 (reference bin/vph5_to_vpts.py:204-211)."""
    return monthly_rollup(q_inv_coverage(spark, sf))


def q_odim_filename_parse(spark: SparkSession, sf: str) -> DataFrame:
    """ODIM filename grammar P11 (reference s3.py:74-109): the (radar, year,
    month, day) record ``parse_inventory`` extracted from each key's
    filename, re-aggregated; the oracle recomputes from the raw timestamp,
    proving the parse."""
    return (
        parse_inventory(synth_inventory(spark, sf))
        .groupBy("radar_code", "year", "month", "day")
        .agg(F.count("*").alias("n_files"))
    )


_SYNTH_INV_SQL = f"""
        SELECT 'bej'
               || substr('{_ALPHA}', CAST(user_id % 26 AS INT) + 1, 1)
               || substr('{_ALPHA}', CAST((user_id // 26) % 26 AS INT) + 1, 1) AS radar,
               ts
        FROM events WHERE event_type <> 'error'
"""

QUERIES = {
    "inv_coverage": q_inv_coverage,
    "inv_days_window": q_inv_days_window,
    "inv_monthly_rollup": q_inv_monthly_rollup,
    "odim_filename_parse": q_odim_filename_parse,
}

ORACLES = {
    "inv_coverage": f"""
        WITH inv AS ({_SYNTH_INV_SQL})
        SELECT 'baltrad/hdf5/' || radar || '/' || strftime(ts, '%Y/%m/%d') AS directory,
               COUNT(*) AS file_count
        FROM inv GROUP BY 1
    """,
    "inv_days_window": f"""
        WITH inv AS ({_SYNTH_INV_SQL})
        SELECT 'baltrad/hdf5/' || radar || '/' || strftime(ts, '%Y/%m/%d') AS directory,
               COUNT(*) AS file_count
        FROM inv
        WHERE ts > (SELECT max(ts) FROM events WHERE event_type <> 'error') - INTERVAL 7 DAY
        GROUP BY 1
    """,
    "inv_monthly_rollup": f"""
        WITH inv AS ({_SYNTH_INV_SQL})
        SELECT 'baltrad/hdf5/' || radar || '/' || strftime(ts, '%Y/%m') AS directory,
               COUNT(*) AS file_count
        FROM inv GROUP BY 1
    """,
    "odim_filename_parse": f"""
        WITH inv AS ({_SYNTH_INV_SQL})
        SELECT radar AS radar_code,
               strftime(ts, '%Y') AS year,
               strftime(ts, '%m') AS month,
               strftime(ts, '%d') AS day,
               COUNT(*) AS n_files
        FROM inv GROUP BY 1, 2, 3, 4
    """,
}
