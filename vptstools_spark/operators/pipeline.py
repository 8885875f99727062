"""Incremental daily/monthly VPTS pipeline — the engine form of the
reference's `vph5_to_vpts` CLI (src/vptstools/bin/vph5_to_vpts.py:59-251).

Reference shape: inventory → modified radar-days → per-day download+convert →
daily CSV → per-month concat → monthly gzip CSV. Spark shape: the inventory
and daily phases are declarative Spark jobs; the monthly phase is the
reference's ordered concat, a local-file join of each radar-month's daily
files in date order (no Spark job). Both write with *partition-granularity
idempotence* (SURVEY §2.8): a radar-day or radar-month is always recomputed
whole and replaced (`partitionOverwriteMode=dynamic` for the daily store, an
`os.replace` for the monthly one), which makes re-runs and late-arriving
files exactly-once-by-idempotence — no row-level upsert state.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vptstools_spark.functions.scalars import sql_in_strings
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
    table = to_vpts_table(profiles.filter(radar_day_filter(days)), vpts_csv_version)
    write_daily_store(spark, table, output_path)


def write_daily_store(spark: SparkSession, table: DataFrame, output_path: str) -> None:
    """Write a VPTS table into the daily store: hive-partitioned by
    (radar, yyyymmdd), one sorted CSV per radar-day, with dynamic partition
    overwrite so only the radar-days present in ``table`` are replaced."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
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
def read_daily_csv_string_preserving(spark: SparkSession, path: str | list[str]) -> DataFrame:
    spec = get_vpts_version("v1.0")
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in spec.columns])
    df = spark.read.schema(schema).option("header", "true").csv(path)
    # NaN/Inf-looking text stays literal under the all-string schema, but
    # unquoted empty fields surface as NULL from the CSV parser - restore
    # them to "": in VPTS CSV the empty string IS the nodata value, not SQL
    # NULL (pandas equivalent: dtype=str + keep_default_na=False,
    # reference bin/vph5_to_vpts.py:232-238)
    return df.select(*[F.coalesce(F.col(c), F.lit("")).alias(c) for c in spec.columns])


def monthly_vpts_job(
    daily_path: str, output_path: str, months: list[tuple[str, str]] | None = None
) -> None:
    """Monthly phase (reference bin/vph5_to_vpts.py:204-250): for each
    ``(radar, yyyymm)`` pair in ``months`` (every radar-month of the daily
    store when None), join the radar-month's daily part files in date order
    under the first file's header into ``p_radar=…/p_month=yyyymm/`` as gzip
    CSV, replacing that partition whole. Other radars' partitions of the
    same month are neither read nor rewritten. Starts no Spark job.

    A daily partition is one radar-day written sorted by (radar, datetime,
    height::int, source_file), and days are disjoint in ``datetime``, so date
    order of the files is the VPTS sort order; data lines are copied
    unchanged. Raises ValueError unless each daily partition holds exactly
    one part file with the same header as the month's first."""
    headers: dict[tuple[str, str], bytes] = {}
    by_month: dict[tuple[str, str], list[str]] = {}
    # list only the selected radar-months' day partitions
    patterns = (
        [("*", "")] if months is None
        else [(glob.escape(radar), glob.escape(month)) for radar, month in set(months)]
    )
    day_dirs = [
        d for radar, month in patterns
        for d in glob.glob(os.path.join(daily_path, f"p_radar={radar}", f"p_date={month}*"))
    ]
    for day_dir in sorted(day_dirs):
        radar_dir, date_dir = day_dir.split(os.sep)[-2:]
        month = date_dir.removeprefix("p_date=")[:6]
        parts = glob.glob(os.path.join(day_dir, "*.csv"))
        if len(parts) != 1:
            raise ValueError(f"daily partition {day_dir} holds {len(parts)} part files, not 1")
        with open(parts[0], "rb") as fh:
            header = fh.readline()
        key = (radar_dir, month)
        if headers.setdefault(key, header) != header:
            raise ValueError(f"{parts[0]}: header differs from {by_month[key][0]}")
        by_month.setdefault(key, []).append(parts[0])
    # every precondition holds before the first partition is replaced
    for (radar_dir, month), days in by_month.items():
        out_dir = os.path.join(output_path, radar_dir, f"p_month={month}")
        os.makedirs(out_dir, exist_ok=True)
        tmp = os.path.join(out_dir, ".part-00000.csv.gz.tmp")
        # mtime=0 and no file name: the same daily files give the same bytes
        with open(tmp, "wb") as raw, gzip.GzipFile("", "wb", 6, raw, mtime=0) as out:
            out.write(headers[radar_dir, month])
            for day in days:
                with open(day, "rb") as src:
                    src.readline()
                    shutil.copyfileobj(src, out)
        os.replace(tmp, os.path.join(out_dir, "part-00000.csv.gz"))
        for name in os.listdir(out_dir):
            if name != "part-00000.csv.gz":
                os.remove(os.path.join(out_dir, name))


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
