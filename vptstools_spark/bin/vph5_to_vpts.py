"""``vph5_to_vpts`` — convert and aggregate HDF5 VP files to daily and
monthly VPTS CSV files.

Option-for-option mirror of the reference CLI
(reference: src/vptstools/bin/vph5_to_vpts.py:30-251): ``--modified-days-ago``
drives inventory-based incremental selection, ``--path-folder`` (the
reference's ``--path-s3-folder``) recreates every radar-day under one
subtree instead. In the first mode the radar-day list comes from the
inventory's per-radar-day Spark aggregate, collected to the driver, which
writes ``coverage.csv`` from the same rows; in the second, the driver groups
its own glob listing with the filename grammar
(``functions/paths.radar_day_directory``) and starts no job for it. A listed
radar-day whose folder does not exist (its files are all misfiled under
another date) is skipped with a warning. Where the reference loops
radar-days on the driver (download → pandas convert → upload per day), this
CLI runs ONE Spark plan
for the daily phase: binaryFile scan of the affected day directories →
daily VPTS write, one CSV per scanned directory, keyed by the
``(source, radar, yyyymmdd)`` of each row's file path. The monthly phase
starts no Spark job: it joins each affected radar-month's published daily
files in date order under one header into a gzip CSV. Both phases (``operators/pipeline.py``, which owns the layout)
publish straight into the reference's S3-style names
(``{source}/daily/{radar}/{yyyy}/{radar}_vpts_{yyyymmdd}.csv`` and
``{source}/monthly/{radar}/{yyyy}/{radar}_vpts_{yyyymm}.csv.gz``,
reference: src/vptstools/s3.py:133-153) with an atomic ``os.replace``; the
destination holds nothing else but ``coverage.csv`` and the descriptor.

Storage roots come from environment variables (the reference reads bucket
names the same way). Spark reads the inventory and the HDF5 files, so any
Hadoop-supported URI works for those. The destination must be a local
directory, since both phases publish with local file I/O
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

import click

from vptstools_spark.functions.paths import radar_day_directory
# coverage is not called here: perfbench's traced run patches cli.coverage
from vptstools_spark.operators.inventory import coverage, handle_manifest  # noqa: F401
from vptstools_spark.operators.pipeline import (
    daily_vpts_job,
    monthly_vpts_job,
    write_coverage,
    write_descriptor,
)
from vptstools_spark.session import get_spark


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
        # "**" matches no directory too, so this lists the folder's own files
        names = glob.glob(os.path.join(h5_root, path_folder, "**", "*.h5"), recursive=True)
        if not names:
            raise click.ClickException(
                f"No h5 files could be found in the current path "
                f"'{os.path.join(h5_root, path_folder)}'."
            )
        # the driver holds the listing, so it groups it with the path grammar
        # and starts no job; a name the grammar cannot parse fails the run
        # (the manifest path's policy) before any Spark work
        keys = [os.path.relpath(p, h5_root) for p in names]
        day_dirs = sorted({radar_day_directory(k) for k in keys})
        exists = {os.path.dirname(k) for k in keys}.__contains__
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
        coverage_rows, days = handle_manifest(
            spark, manifest, modified_days_ago=modified_days_ago, now=now
        )
        click.echo("Save coverage file to S3.")
        write_coverage(destination, coverage_rows)
        day_dirs = [directory for directory, _count in days]
        jvm = spark.sparkContext._jvm
        fs = jvm.org.apache.hadoop.fs.Path(h5_root).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )

        def exists(day_dir: str) -> bool:
            return fs.exists(jvm.org.apache.hadoop.fs.Path(os.path.join(h5_root, day_dir)))

    # the work list names a radar-day by its filenames' radar and date, so a
    # folder whose files are all misfiled names a directory that does not
    # exist; like the reference's per-day loop (bin/vph5_to_vpts.py:198-200),
    # the run warns and converts the other days
    missing = {d for d in day_dirs if not exists(d)}
    for day_dir in sorted(missing):
        click.echo(
            f"[WARNING] - No folder {os.path.join(h5_root, day_dir)} holds the "
            "files named for this radar-day; skipped."
        )
    day_dirs = [d for d in day_dirs if d not in missing]

    click.echo(f"Create {len(day_dirs)} daily VPTS files.")
    if not day_dirs:
        click.echo("Finished VPTS update procedure.")
        return {"days": [], "daily": 0, "monthly": 0}

    from vptstools_spark.sources.odim import read_vp_files

    # the radar-day directories, not `{dir}/*.h5` globs: Spark expands a
    # glob to one path per file and lists more than 32 paths with a parallel
    # job of one task each; read_vp_files' pathGlobFilter keeps the .h5 files
    profiles = read_vp_files(spark, [os.path.join(h5_root, d) for d in day_dirs])
    n_daily = daily_vpts_job(spark, profiles, day_dirs, destination)
    click.echo("Finished creating daily VPTS files.")

    n_monthly = monthly_vpts_job(destination, day_dirs)
    click.echo(f"Create {n_monthly} monthly VPTS files.")
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
