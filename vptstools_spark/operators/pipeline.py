"""Incremental daily/monthly VPTS pipeline — the engine form of the
reference's `vph5_to_vpts` CLI (src/vptstools/bin/vph5_to_vpts.py:59-251).

Reference shape: inventory → modified radar-days → per-day download+convert →
daily CSV → per-month concat → monthly gzip CSV. Spark shape: the same
semantics as three declarative jobs with *partition-granularity idempotence*
(SURVEY §2.8): a radar-day is always recomputed whole and overwritten
atomically (`partitionOverwriteMode=dynamic`), which makes re-runs and
late-arriving files exactly-once-by-idempotence — no row-level upsert state.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vptstools_spark.functions.scalars import sql_in_strings
from vptstools_spark.operators.inventory import days_to_create_vpts, parse_inventory
from vptstools_spark.operators.vpts import to_vpts_table
from vptstools_spark.schemas import get_vpts_version

#: descriptor filename (reference: src/vptstools/vpts.py:20)
DESCRIPTOR_FILENAME = "vpts.resource.json"


def resolve_source_file(path: str, transform: str | Callable[[str], str] | None) -> str:
    """The reference's one user-extensible scalar hook P16
    (src/vptstools/vpts.py:189-220): `source_file` may be a fixed string or a
    named callable path→str; default is the basename. Lambdas are rejected —
    the same pickling constraint the reference documents (vpts.py:237-239)
    applies to PySpark closures shipped to executors."""
    if transform is None or transform == "":
        return os.path.basename(path)
    if callable(transform):
        if getattr(transform, "__name__", "") == "<lambda>":
            raise ValueError(
                "source_file callable may not be a lambda (must be picklable "
                "by name for executor shipping)"
            )
        return str(transform(path))
    return str(transform)


def radar_day_filter(days: list[tuple[str, str]]) -> Column:
    """True for profile rows whose content radar and ``yyyyMMdd`` date form
    one of the ``(radar, yyyymmdd)`` pairs in ``days``: one literal ``IN``
    over ``radar/yyyymmdd`` keys, built in one JVM call however long the
    list is."""
    return sql_in_strings(
        "concat_ws('/', radar, date_format(ts, 'yyyyMMdd'))",
        sorted({f"{radar}/{date}" for radar, date in days}),
    )


def daily_vpts_job(
    spark: SparkSession,
    profiles: DataFrame,
    days: list[tuple[str, str]],
    output_path: str,
    vpts_csv_version: str = "v1.0",
) -> None:
    """Daily phase (reference bin/vph5_to_vpts.py:153-202): restrict profiles
    to the affected radar-days, project to VPTS, write hive-partitioned by
    (radar, date) with dynamic partition overwrite.

    ``days`` is the driver's ``(radar, yyyymmdd)`` work list. Rows whose
    content radar or date falls outside it are dropped by one literal
    predicate (``radar_day_filter``, which starts no Spark job), so dynamic
    overwrite can never replace another day's partition.

    Where the reference loops radar-days on the driver (download → fork →
    convert → upload per day), this is ONE plan over all affected days; Spark
    schedules per-partition tasks, and only the recomputed partitions are
    replaced."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    table = to_vpts_table(profiles.filter(radar_day_filter(days)), vpts_csv_version)
    # re-derive partition cols from the rendered table (radar + yyyymmdd)
    out = table.withColumn(
        "p_radar", F.col("radar")
    ).withColumn("p_date", F.regexp_replace(F.substring("datetime", 1, 10), "-", ""))
    (
        out.repartition("p_radar", "p_date")
        # partition cols lead the sort: the partitioned-file writer requires
        # rows clustered by partition values and would otherwise re-sort by
        # them alone, destroying the data order
        .sortWithinPartitions(
            "p_radar", "p_date", "radar", "datetime", F.col("height").cast("int"), "source_file"
        )
        .write.mode("overwrite")
        .partitionBy("p_radar", "p_date")
        .option("header", "true")
        .option("emptyValue", "")
        .option("nullValue", "")
        .csv(output_path)
    )


#: all-string read of daily VPTS CSVs, preserving tri-state text exactly
#: (reference S7: bin/vph5_to_vpts.py:230-240 — dtype=str, no NA parsing)
def read_daily_csv_string_preserving(
    spark: SparkSession, path: str | list[str], months: list[str] | None = None
) -> DataFrame:
    """``months`` (``yyyymm``) restricts a partitioned daily store to those
    months' ``p_date=`` directories, so Spark lists and reads only them."""
    spec = get_vpts_version("v1.0")
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in spec.columns])
    df = spark.read.schema(schema).option("header", "true").csv(path)
    if months:
        # a predicate on the partition column alone prunes directories; it
        # must run before the projection below drops p_date
        df = df.filter(
            sql_in_strings("substring(CAST(p_date AS STRING), 1, 6)", months)
        )
    # NaN/Inf-looking text stays literal under the all-string schema, but
    # unquoted empty fields surface as NULL from the CSV parser - restore
    # them to "": in VPTS CSV the empty string IS the nodata value, not SQL
    # NULL (pandas equivalent: dtype=str + keep_default_na=False,
    # reference bin/vph5_to_vpts.py:232-238)
    return df.select(*[F.coalesce(F.col(c), F.lit("")).alias(c) for c in spec.columns])


def monthly_vpts_job(
    spark: SparkSession,
    daily_path: str,
    output_path: str,
    months: list[str] | None = None,
) -> None:
    """Monthly phase (reference bin/vph5_to_vpts.py:204-250): re-read the
    affected months' daily CSVs string-preserving (only their partitions
    are read), union, re-sort, write gzip CSV partitioned by (radar, month)
    with dynamic overwrite."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df = read_daily_csv_string_preserving(spark, daily_path, months)
    df = df.withColumn("p_radar", F.col("radar")).withColumn(
        "p_month", F.regexp_replace(F.substring("datetime", 1, 7), "-", "")
    )
    (
        df.repartition("p_radar", "p_month")
        # partition cols lead the sort: the partitioned-file writer requires
        # rows clustered by partition values and would otherwise re-sort by
        # them alone, destroying the data order
        .sortWithinPartitions(
            "p_radar", "p_month", "radar", "datetime", F.col("height").cast("int"), "source_file"
        )
        .write.mode("overwrite")
        .partitionBy("p_radar", "p_month")
        .option("header", "true")
        .option("emptyValue", "")
        .option("nullValue", "")
        .option("compression", "gzip")
        .csv(output_path)
    )


def write_descriptor(path: str, vpts_csv_version: str = "v1.0") -> str:
    """Frictionless-style resource descriptor sink K4
    (reference: src/vptstools/vpts.py:320-343) — driver-side JSON pointing at
    the versioned table schema."""
    spec = get_vpts_version(vpts_csv_version)
    descriptor = {
        "name": "vpts",
        "path": "*.csv",
        "format": "csv",
        "mediatype": "text/csv",
        "encoding": "utf-8",
        "schema": (
            "https://raw.githubusercontent.com/enram/vpts-csv/"
            f"{spec.version}/vpts-csv-table-schema.json"
        ),
    }
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, DESCRIPTOR_FILENAME)
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(descriptor, fh, indent=2)
    return out


def incremental_run(
    spark: SparkSession,
    inventory_df: DataFrame,
    profiles: DataFrame,
    output_root: str,
    modified_days_ago: int = 2,
    now=None,
) -> DataFrame:
    """End-to-end incremental pipeline (reference §3.3): inventory → affected
    radar-days → daily partition overwrite → monthly partition overwrite.
    Returns the days_to_create_vpts frame (what was recomputed)."""
    parsed = parse_inventory(inventory_df)
    days = days_to_create_vpts(parsed, modified_days_ago, now)
    # directory = source/file_type/radar/yyyy/mm/dd; the day list is
    # driver-sized, collected once for both phases
    keys = [r["directory"].split("/")[2:] for r in days.select("directory").collect()]
    daily_vpts_job(
        spark, profiles, [(radar, y + m + d) for radar, y, m, d in keys],
        os.path.join(output_root, "daily"),
    )
    months = sorted({y + m for _radar, y, m, _d in keys})
    monthly_vpts_job(
        spark, os.path.join(output_root, "daily"), os.path.join(output_root, "monthly"), months
    )
    write_descriptor(output_root)
    return days
