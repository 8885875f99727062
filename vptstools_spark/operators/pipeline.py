"""Incremental daily/monthly VPTS pipeline — the engine form of the
reference's `vph5_to_vpts` CLI (src/vptstools/bin/vph5_to_vpts.py:59-251),
and the one module that knows the published layout
(``{source}/daily/{radar}/{yyyy}/{radar}_vpts_{yyyymmdd}.csv`` and
``{source}/monthly/{radar}/{yyyy}/{radar}_vpts_{yyyymm}.csv.gz``, reference
s3.py:133-153).

Reference shape: inventory → modified radar-days → per-day download+convert →
daily CSV → per-month concat → monthly gzip CSV. Spark shape: the inventory
and daily phases are declarative Spark jobs. The daily phase keys every
profile row by the radar-day directory of the file it was decoded from
(``{source}/{file_type}/{radar}/{yyyy}/{mm}/{dd}``), the key the work list
and the published names use too. The monthly phase is the reference's
ordered concat, a local-file join of each source's radar-month daily files
in date order (no Spark job), and ``coverage.csv`` is written on the
driver from the inventory's collected per-radar-day aggregate. The
published tree is the only store, and both phases write with
*partition-granularity idempotence*
(SURVEY §2.8): a radar-day or radar-month is always recomputed whole and
``os.replace``d onto its published name, which makes re-runs and
late-arriving files exactly-once-by-idempotence — no row-level upsert state.
"""

from __future__ import annotations

import csv
import glob
import gzip
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vptstools_spark.operators.vpts import vpts_columns
from vptstools_spark.schemas import get_vpts_version

#: descriptor filename (reference: src/vptstools/vpts.py:20)
DESCRIPTOR_FILENAME = "vpts.resource.json"


#: the staging partition columns: the radar-day key (source, radar, yyyymmdd)
DAY_KEY = ("p_source", "p_radar", "p_date")


def daily_vpts_job(
    spark: SparkSession,
    profiles: DataFrame,
    day_dirs: list[str],
    destination: str,
    vpts_csv_version: str = "v1.0",
) -> int:
    """Daily phase (reference bin/vph5_to_vpts.py:153-202): render the
    profiles of the radar-days in ``day_dirs``
    (``source/file_type/radar/yyyy/mm/dd``) to VPTS in ONE plan and publish
    one CSV per radar-day at
    ``{source}/daily/{radar}/{yyyy}/{radar}_vpts_{yyyymmdd}.csv`` under
    ``destination``. Returns how many files it published; a radar-day
    without rows publishes none.

    A profile row belongs to the radar-day directory of the file it was
    decoded from (its ``path``), as in the reference, which converts each
    radar-day folder's files into that folder's CSV. The plan writes into a
    staging directory under ``destination``, partitioned by that key; each
    work-list radar-day's part file is then ``os.replace``d onto its
    published name, so a reader never sees a partial file, and rows of any
    other directory are dropped with the staging directory. Raises
    ValueError, before anything is published, when a radar-day was written
    as more than one part file."""
    targets: dict[tuple[str, str, str], str] = {}
    for day_dir in day_dirs:
        source, _ftype, radar, yyyy, mm, dd = day_dir.split("/")
        targets[source, radar, f"{yyyy}{mm}{dd}"] = os.path.join(
            destination, source, "daily", radar, yyyy, f"{radar}_vpts_{yyyy}{mm}{dd}.csv"
        )
    # the radar-day key of each row's file path, derived before the
    # exchange: the path itself never crosses the shuffle
    segments = F.split("path", "/")
    table = profiles.select(
        *vpts_columns(get_vpts_version(vpts_csv_version)),
        F.element_at(segments, -7).alias("p_source"),
        F.element_at(segments, -5).alias("p_radar"),
        F.concat(*[F.element_at(segments, i) for i in (-4, -3, -2)]).alias("p_date"),
    )
    os.makedirs(destination, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="_staging-", dir=destination)
    try:
        write_daily_store(table, staging)
        parts: dict[str, str] = {}
        for day, target in targets.items():
            partition = os.path.join(staging, *[f"{c}={v}" for c, v in zip(DAY_KEY, day)])
            found = glob.glob(os.path.join(glob.escape(partition), "*.csv"))
            if len(found) > 1:
                raise ValueError(f"daily partition {'/'.join(day)} holds {len(found)} part files, not 1")
            if found:
                parts[target] = found[0]
        # every radar-day is whole before the first file is published
        for target, part in parts.items():
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.replace(part, target)
        return len(parts)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _beside(target: str) -> str:
    """A hidden temporary name in ``target``'s directory, which it creates:
    a file written there is ``os.replace``d onto ``target`` atomically."""
    folder, name = os.path.split(target)
    os.makedirs(folder, exist_ok=True)
    return os.path.join(folder, f".{name}.tmp")


def write_daily_store(table: DataFrame, output_path: str) -> None:
    """``daily_vpts_job``'s staging write: one sorted CSV part file per
    radar-day of ``table``, keyed by its ``DAY_KEY`` columns, under
    ``p_source=…/p_radar=…/p_date=…`` (yyyymmdd) in ``output_path``, which
    the job then publishes. The overwrite mode and the one-file-per-partition
    limit are options of this write, so session settings cannot change them."""
    (
        table.repartition(*DAY_KEY)
        # partition cols lead the sort: the partitioned-file writer requires
        # rows clustered by partition values and would otherwise re-sort by
        # them alone, destroying the data order
        .sortWithinPartitions(
            *DAY_KEY, "radar", "datetime", F.col("height").cast("int"), "source_file"
        )
        .write.mode("overwrite")
        .partitionBy(*DAY_KEY)
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", 0)
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


def monthly_vpts_job(destination: str, day_dirs: list[str]) -> int:
    """Monthly phase (reference bin/vph5_to_vpts.py:204-250): for each
    (source, radar, month) that ``day_dirs`` touch, join that source's
    published daily files of the radar-month in name order under the first
    file's header into ``{source}/monthly/{radar}/{yyyy}/{radar}_vpts_{yyyymm}.csv.gz``.
    Other radars and sources are neither read nor rewritten. Starts no Spark
    job; returns how many monthly files it published.

    A daily file is one radar-day sorted by (radar, datetime, height::int,
    source_file), days are disjoint in ``datetime``, and the names end in
    ``yyyymmdd``, so name order is the VPTS sort order; data lines are
    copied unchanged. Raises ValueError, before any monthly file is
    replaced, unless every daily file of a month has the month's first
    header."""
    joins: dict[str, list[str]] = {}
    for day_dir in day_dirs:
        source, _ftype, radar, yyyy, mm, _dd = day_dir.split("/")
        target = os.path.join(
            destination, source, "monthly", radar, yyyy, f"{radar}_vpts_{yyyy}{mm}.csv.gz"
        )
        if target not in joins:
            daily = os.path.join(destination, source, "daily", radar, yyyy, f"{radar}_vpts_{yyyy}{mm}")
            joins[target] = sorted(glob.glob(glob.escape(daily) + "[0-9][0-9].csv"))
    headers: dict[str, bytes] = {}
    for target, days in joins.items():
        for day in days:
            with open(day, "rb") as fh:
                header = fh.readline()
            if headers.setdefault(target, header) != header:
                raise ValueError(f"{day}: header differs from {days[0]}")
    # every precondition holds before the first monthly file is replaced
    for target, header in headers.items():
        tmp = _beside(target)
        # mtime=0 and no file name: the same daily files give the same bytes
        with open(tmp, "wb") as raw, gzip.GzipFile("", "wb", 6, raw, mtime=0) as out:
            out.write(header)
            for day in joins[target]:
                with open(day, "rb") as src:
                    src.readline()
                    shutil.copyfileobj(src, out)
        os.replace(tmp, target)
    return len(headers)


def write_coverage(destination: str, rows: list[tuple[str, int]]) -> None:
    """Coverage sink K3 (reference: bin/vph5_to_vpts.py:146-151, a pandas
    ``to_csv``): ``coverage.csv`` under ``destination``, a
    ``directory,file_count`` header and one line per ``rows`` item in the
    given order, each field quoted only where it needs to be, as pandas
    does. The rows are radar-days-sized, so the driver writes them beside
    the published name and ``os.replace``s the file onto it."""
    target = os.path.join(destination, "coverage.csv")
    tmp = _beside(target)
    with open(tmp, "w", encoding="utf-8", newline="") as fh:
        out = csv.writer(fh, lineterminator="\n")
        out.writerow(("directory", "file_count"))
        out.writerows(rows)
    os.replace(tmp, target)


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
