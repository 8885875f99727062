"""``vph5_to_vpts`` — convert and aggregate HDF5 VP files to daily and
monthly VPTS CSV files.

Option-for-option mirror of the reference CLI
(reference: src/vptstools/bin/vph5_to_vpts.py:30-251): ``--modified-days-ago``
drives inventory-based incremental selection, ``--path-folder`` (the
reference's ``--path-s3-folder``) recreates every radar-day under one
subtree instead. The radar-day list comes from the inventory's Spark
aggregate in the first mode; in the second, the driver groups its own glob
listing with the filename grammar (``functions/paths.radar_day_directory``)
and starts no job for it. Where the reference loops radar-days on the driver
(download → pandas convert → upload per day), this CLI runs ONE Spark plan
for the daily phase: binaryFile scan of the affected day directories → daily
partition-overwrite write, restricted to the driver's radar-day list by a
literal predicate. The monthly phase starts no Spark job: it joins each
affected radar-month's daily files in date order under one header into a
gzip CSV. The run then publishes the partition files under the reference's
S3-style names (``{source}/daily/{radar}/{yyyy}/{radar}_vpts_{yyyymmdd}.csv``
and ``{source}/monthly/{radar}/{yyyy}/{radar}_vpts_{yyyymm}.csv.gz``,
reference: src/vptstools/s3.py:133-153).

Storage roots come from environment variables (the reference reads bucket
names the same way). Spark reads the inventory and the HDF5 files, so any
Hadoop-supported URI works for those. The destination must be a local
directory, since the monthly join and the publish step use local file I/O
(``--path-folder`` also lists the HDF5 tree locally):

- ``VPTS_MANIFEST``: inventory manifest JSON (reference ``INVENTORY_BUCKET``)
- ``VPTS_H5_ROOT``: root of the HDF5 tree the inventory keys point into
  (reference ``DESTINATION_BUCKET`` read side)
- ``VPTS_DESTINATION``: output root for coverage.csv + daily/ + monthly/
  (reference ``DESTINATION_BUCKET`` write side)
- ``VPTS_NOW``: ISO timestamp freezing "now" (deterministic reruns/tests)
"""

from __future__ import annotations

import glob
import os
import shutil

import click

from vptstools_spark.functions.paths import radar_day_directory
# coverage is not called here: perfbench's traced run patches cli.coverage
from vptstools_spark.operators.inventory import coverage, handle_manifest  # noqa: F401
from vptstools_spark.operators.pipeline import (
    daily_vpts_job,
    monthly_vpts_job,
    write_descriptor,
)
from vptstools_spark.operators.vpts import vpts_to_csv
from vptstools_spark.session import get_spark


def _publish(partition_glob: str, target: str) -> bool:
    """Copy the single partition part-file to its reference-named location."""
    parts = sorted(glob.glob(partition_glob))
    if not parts:
        return False
    os.makedirs(os.path.dirname(target), exist_ok=True)
    shutil.copyfile(parts[0], target)
    return True


def run(
    modified_days_ago: int = 2,
    path_folder: str | None = None,
    manifest: str | None = None,
    h5_root: str | None = None,
    destination: str | None = None,
    now: str | None = None,
    spark=None,
) -> dict:
    """Library form of the CLI (importable; the click command is a shell).

    Returns {"days": [...], "daily": n, "monthly": n} for callers/tests.
    """
    manifest = manifest or os.environ.get("VPTS_MANIFEST")
    h5_root = h5_root or os.environ.get("VPTS_H5_ROOT")
    destination = destination or os.environ.get("VPTS_DESTINATION")
    now = now or os.environ.get("VPTS_NOW")
    if not h5_root or not destination:
        raise click.UsageError("VPTS_H5_ROOT and VPTS_DESTINATION must be set")
    spark = spark or get_spark("vph5_to_vpts")

    if path_folder:
        # reference --path-s3-folder mode (vph5_to_vpts.py:100-119): recreate
        # every radar-day under the subtree; the inventory is not consulted
        click.echo(
            f"Applying the vpts conversion to all files within {path_folder}. "
            "Ignoring the modified date of the files."
        )
        names = glob.glob(
            os.path.join(h5_root, path_folder, "**", "*.h5"), recursive=True
        ) + glob.glob(os.path.join(h5_root, path_folder, "*.h5"))
        if not names:
            raise click.ClickException(
                f"No h5 files could be found in the current path "
                f"'{os.path.join(h5_root, path_folder)}'."
            )
        # the driver holds the listing, so it groups it with the path grammar
        # and starts no job; a name the grammar cannot parse fails the run
        # (the manifest path's policy) before any Spark work
        day_dirs = sorted(
            {radar_day_directory(os.path.relpath(p, h5_root)) for p in names}
        )
    else:
        if not manifest:
            raise click.UsageError("VPTS_MANIFEST must be set (or use --path-folder)")
        click.echo(
            f"Extract coverage and days to recreate from manifest {manifest}."
        )
        if modified_days_ago == 0:
            modified_days_ago = 10_000  # reference: full-bucket recreate
            click.echo(
                "Recreate the full set of files (files modified since "
                f"{modified_days_ago} days). This will take a while!"
            )
        df_cov, days = handle_manifest(
            spark, manifest, modified_days_ago=modified_days_ago, now=now
        )
        click.echo("Save coverage file to S3.")
        # coverage is radar-days-sized: sorting inside the one partition
        # gives the bytes of a global orderBy without its sampling job
        vpts_to_csv(
            df_cov.coalesce(1).sortWithinPartitions("directory"),
            os.path.join(destination, "coverage.csv"),
        )
        # radar-days are driver-sized (the work list)
        day_dirs = [r["directory"] for r in days.collect()]

    click.echo(f"Create {len(day_dirs)} daily VPTS files.")
    if not day_dirs:
        click.echo("Finished VPTS update procedure.")
        return {"days": [], "daily": 0, "monthly": 0}

    from vptstools_spark.sources.odim import read_vp_files

    # the radar-day directories, not `{dir}/*.h5` globs: Spark expands a
    # glob to one path per file and lists more than 32 paths with a parallel
    # job of one task each; read_vp_files' pathGlobFilter keeps the .h5 files
    profiles = read_vp_files(spark, [os.path.join(h5_root, d) for d in day_dirs])
    # directory = source/file_type/radar/yyyy/mm/dd
    keys = []
    for d in day_dirs:
        source, _ftype, radar, yyyy, mm, dd = d.split("/")
        keys.append((source, radar, yyyy, mm, dd, f"{yyyy}{mm}{dd}"))
    daily_store = os.path.join(destination, "_daily_store")
    monthly_store = os.path.join(destination, "_monthly_store")
    daily_vpts_job(spark, profiles, [(k[1], k[5]) for k in keys], daily_store)

    n_daily = 0
    for source, radar, yyyy, mm, dd, ymd in keys:
        target = os.path.join(
            destination, source, "daily", radar, yyyy, f"{radar}_vpts_{ymd}.csv"
        )
        click.echo(f"Create daily VPTS file {os.path.relpath(target, destination)}.")
        if _publish(
            os.path.join(daily_store, f"p_radar={radar}", f"p_date={ymd}", "*.csv"),
            target,
        ):
            n_daily += 1
    click.echo("Finished creating daily VPTS files.")

    months = sorted({(s, r, y, m) for s, r, y, m, _d, _ymd in keys})
    click.echo(f"Create {len(months)} monthly VPTS files.")
    monthly_vpts_job(daily_store, monthly_store, [(r, f"{y}{m}") for _s, r, y, m in months])
    n_monthly = 0
    for source, radar, yyyy, mm in months:
        target = os.path.join(
            destination,
            source,
            "monthly",
            radar,
            yyyy,
            f"{radar}_vpts_{yyyy}{mm}.csv.gz",
        )
        click.echo(
            f"Create monthly VPTS file {os.path.relpath(target, destination)}."
        )
        if _publish(
            os.path.join(
                monthly_store, f"p_radar={radar}", f"p_month={yyyy}{mm}", "*.csv.gz"
            ),
            target,
        ):
            n_monthly += 1
    click.echo("Finished creating monthly VPTS files.")

    write_descriptor(destination)
    click.echo("Finished VPTS update procedure.")
    return {"days": day_dirs, "daily": n_daily, "monthly": n_monthly}


@click.command()
@click.option(
    "--modified-days-ago",
    "modified_days_ago",
    default=2,
    type=int,
    help="Range of HDF5 VP files to include, i.e. files modified between now "
    "and N modified-days-ago. If 0, all HDF5 files will be included.",
)
@click.option(
    "--path-folder",
    "path_folder",
    type=str,
    default=None,
    help="Apply the conversion to VPTS to all files within a sub-folder "
    "instead of using the modified date of the files. This option does not "
    "use the inventory files.",
)
def cli(modified_days_ago: int, path_folder: str | None = None) -> None:
    """Convert and aggregate HDF5 VP files to daily and monthly VPTS CSV files."""
    run(modified_days_ago=modified_days_ago, path_folder=path_folder)


if __name__ == "__main__":
    cli()
