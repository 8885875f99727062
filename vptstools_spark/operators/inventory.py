"""S3 inventory analytics — coverage + incremental partition selection.

Reference (src/vptstools/s3.py:263-384): chunked pandas scan of the AWS S3
inventory CSV, path feature extraction, h5 filter, modified-window filter,
hand-rolled two-phase group-counts. In Spark all of that is one declarative
plan: the chunking is partitioned scan, the partial/final aggregation is
Catalyst's HashAggregate(partial) → exchange → HashAggregate(final).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.functions.paths import directory_col, with_parsed_inventory
from vptstools_spark.schemas import inventory_schema

#: inventory `modified` timestamp format (reference: src/vptstools/s3.py:290-292)
MODIFIED_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

GROUP_COLS = ["source", "file_type", "radar_code", "year", "month", "day"]


def read_inventory(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Scan the (gzipped, headerless) S3 inventory CSV S5
    (reference: src/vptstools/s3.py:344-350). Spark's partitioned CSV scan
    replaces the reference's 50k-row chunk loop."""
    df = spark.read.csv(path, schema=inventory_schema(), header=False)
    return df.withColumn("modified", F.to_timestamp("modified", MODIFIED_FORMAT))


def parse_inventory(df: DataFrame) -> DataFrame:
    """Path feature extraction P11-P13 + h5 filter F1
    (reference: src/vptstools/s3.py:289-297). A ``.h5`` key whose FILENAME
    does not match the ODIM grammar (its parsed ``radar_code`` comes back
    empty) fails the scan with the file's name, as the reference's
    ``parse_file_name`` raises ValueError (src/vptstools/s3.py:74-99),
    instead of pooling into one bogus all-empty coverage group."""
    parsed = with_parsed_inventory(df).filter(F.col("suffix") == "h5")
    return parsed.withColumn(
        "radar_code",
        F.when(
            F.col("radar_code") == "",
            F.raise_error(F.concat(F.lit("cannot parse ODIM filename: "), F.col("filename"))),
        ).otherwise(F.col("radar_code")),
    )


def coverage(df_parsed: DataFrame, recent: Column | None = None) -> DataFrame:
    """Files per radar-day A1/A2 (reference: src/vptstools/s3.py:243-260,
    338-366). Catalyst emits partial+final hash aggregation automatically —
    the reference's chunk-accumulate-concat-regroup pattern is free here.
    With ``recent``, the same aggregate also counts the rows that predicate
    accepts, as ``recent_count``."""
    counts = {"file_count": F.count("*")}
    if recent is not None:
        counts["recent_count"] = F.count_if(recent)
    return (
        df_parsed.groupBy(*GROUP_COLS)
        .agg(*[c.alias(name) for name, c in counts.items()])
        .select(
            directory_col(*[F.col(c) for c in GROUP_COLS]).alias("directory"),
            *counts,
        )
    )


def modified_since(days: int, now=None) -> Column:
    """Modified-window predicate F2 (reference: src/vptstools/s3.py:228-240):
    true for rows whose `modified` falls within the lookback window. `now`
    is an explicit timestamp for deterministic tests (defaults to current
    time)."""
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    return F.col("modified") > now_col - F.make_interval(days=F.lit(days))


def modified_window(df_parsed: DataFrame, days: int, now=None) -> DataFrame:
    """Keep the rows of ``df_parsed`` that ``modified_since`` accepts."""
    return df_parsed.filter(modified_since(days, now))


def days_to_create_vpts(df_parsed: DataFrame, days: int, now=None) -> DataFrame:
    """Radar-days needing (re)derivation A3 (reference: src/vptstools/s3.py:368-382):
    group-count of the window-filtered subset, as a frame of its own;
    ``handle_manifest`` takes the same days from its one aggregate."""
    return coverage(modified_window(df_parsed, days, now))


def monthly_rollup(days_df: DataFrame) -> DataFrame:
    """Day → month rollup A4 (reference: src/vptstools/bin/vph5_to_vpts.py:204-211):
    truncate the day component and re-count."""
    parts = F.split(F.col("directory"), "/")
    month_dir = F.concat_ws(
        "/", *[F.element_at(parts, i) for i in range(1, 6)]
    )
    return (
        days_df.groupBy(month_dir.alias("directory"))
        .agg(F.sum("file_count").alias("file_count"))
    )


def list_manifest_file_keys(manifest_path: str) -> list[str]:
    """S4: S3-inventory manifest JSON → inventory subfile keys
    (reference: src/vptstools/s3.py:318-335). The manifest is a tiny
    driver-side file; the heavy lifting is the CSV scan it points to."""
    import json

    with open(manifest_path) as fh:
        return [f["key"] for f in json.load(fh)["files"]]


def handle_manifest(
    spark: SparkSession,
    manifest_path: str,
    modified_days_ago: int = 2,
    now=None,
    key_to_path=None,
):
    """Manifest → (full coverage, days to recreate) — the reference's
    `handle_manifest` e2e contract (src/vptstools/s3.py:386-443), which
    returns two pandas frames: coverage aggregates the WHOLE inventory; the
    days to recreate count only the files modified inside the lookback
    window.

    Both come from ONE per-radar-day aggregate, ``count(*)`` next to
    ``count_if(modified_since)``, collected once: the inventory is
    gzip-scanned and regex-parsed once. The aggregate is radar-days-sized,
    so both results are driver lists sorted by ``directory``: the
    ``(directory, file_count)`` of every radar-day, and the
    ``(directory, recent_count)`` of those with a file modified inside the
    window.

    ``key_to_path`` maps a manifest key to a readable path (production: an
    s3:// URL; tests: the fixture directory) — same dependency-injection
    seam as operators/transfer.py.
    """
    import os

    root = os.path.dirname(manifest_path)
    resolve = key_to_path or (lambda k: os.path.join(root, os.path.basename(k)))
    paths = [resolve(k) for k in list_manifest_file_keys(manifest_path)]
    parsed = parse_inventory(read_inventory(spark, paths))
    per_day = sorted(coverage(parsed, modified_since(modified_days_ago, now)).collect())
    return (
        [(r["directory"], r["file_count"]) for r in per_day],
        [(r["directory"], r["recent_count"]) for r in per_day if r["recent_count"] > 0],
    )
