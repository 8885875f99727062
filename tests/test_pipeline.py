"""Incremental daily/monthly pipeline e2e (reference: tests/test_vph5_to_vpts.py)."""

import datetime
import glob
import gzip
import json
import os

import pytest

from tests.conftest import make_profile_record, odim_fleet
from vptstools_spark.operators.inventory import days_to_create_vpts, parse_inventory
from vptstools_spark.operators.pipeline import (
    daily_vpts_job,
    monthly_vpts_job,
    read_daily_csv_string_preserving,
    write_descriptor,
)
from vptstools_spark.schemas import STATE_UNDETECT, STATE_VALUE
from vptstools_spark.sources.odim import profiles_from_records


def test_write_descriptor(tmp_path):
    out = write_descriptor(str(tmp_path))
    desc = json.load(open(out))
    assert desc["format"] == "csv"
    assert "v1.0" in desc["schema"]


@pytest.fixture(scope="module")
def pipeline_output(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("vpts_out"))
    # two radar-days for 'nosta', one of which is recent; one old 'bejab'
    # day, whose record's path lies in a radar-day outside the work list
    recs = []
    for day, minute in [(11, 15), (11, 25), (12, 0)]:
        recs.append(
            make_profile_record(
                ts=datetime.datetime(2023, 3, day, 23, minute),
                source_file=f"nosta_vp_202303{day:02d}T{23:02d}{minute:02d}00Z_0xb.h5",
                height=0,
                u=1.25,
                u_state=STATE_VALUE,
            )
        )
    recs.append(
        make_profile_record(
            radar="bejab",
            ts=datetime.datetime(2022, 11, 11, 23, 30),
            source_file="bejab_vp_20221111T233000Z_0x9.h5",
            height=200,
            u=None,
            u_state=STATE_UNDETECT,
        )
    )
    profiles = profiles_from_records(spark, recs)

    inv_rows = [
        ("repo", "baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230311T231500Z_0xb.h5", 1, datetime.datetime(2023, 3, 12, 1, 0)),
        ("repo", "baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230311T232500Z_0xb.h5", 1, datetime.datetime(2023, 3, 12, 1, 0)),
        ("repo", "baltrad/hdf5/nosta/2023/03/12/nosta_vp_20230312T000000Z_0xb.h5", 1, datetime.datetime(2023, 3, 12, 1, 0)),
        ("repo", "baltrad/hdf5/bejab/2022/11/11/bejab_vp_20221111T233000Z_0x9.h5", 1, datetime.datetime(2022, 11, 12, 1, 0)),
    ]
    inventory = spark.createDataFrame(
        inv_rows, "repo string, file string, size long, modified timestamp"
    )
    # inventory → affected radar-days → daily files → monthly join
    days = days_to_create_vpts(
        parse_inventory(inventory), 2, now=datetime.datetime(2023, 3, 13, 0, 0)
    )
    day_dirs = [r["directory"] for r in days.select("directory").collect()]
    assert daily_vpts_job(spark, profiles, day_dirs, root) == 2
    assert monthly_vpts_job(root, day_dirs) == 1
    write_descriptor(root)
    return root, days


def test_incremental_selects_recent_days(pipeline_output):
    _, days = pipeline_output
    dirs = {r["directory"] for r in days.collect()}
    assert dirs == {
        "baltrad/hdf5/nosta/2023/03/11",
        "baltrad/hdf5/nosta/2023/03/12",
    }  # bejab 2022 is outside the window


def test_daily_partitions_written(pipeline_output):
    root, _ = pipeline_output
    files = sorted(
        os.path.relpath(p, root) for p in glob.glob(os.path.join(root, "*", "daily", "*", "*", "*"))
    )
    assert files == [
        "baltrad/daily/nosta/2023/nosta_vpts_20230311.csv",
        "baltrad/daily/nosta/2023/nosta_vpts_20230312.csv",
    ]


def test_daily_csv_content_sorted(pipeline_output, spark):
    root, _ = pipeline_output
    daily = os.path.join(root, "baltrad", "daily", "nosta", "2023", "nosta_vpts_20230311.csv")
    lines = open(daily).read().splitlines()[1:]
    assert len(lines) == 2
    assert lines[0].split(",")[1] < lines[1].split(",")[1]  # datetime ascending
    assert lines[0].split(",")[3] == "1.25"  # u value rendered


def test_monthly_gzip_written(pipeline_output):
    root, _ = pipeline_output
    gz = glob.glob(os.path.join(root, "*", "monthly", "*", "*", "*"))
    assert [os.path.relpath(p, root) for p in gz] == ["baltrad/monthly/nosta/2023/nosta_vpts_202303.csv.gz"]
    text = gzip.open(gz[0], "rt").read()
    assert text.count("\n") == 4  # header + 3 rows (both days of the month)


def test_string_preserving_reread(pipeline_output, spark):
    # tri-state text must survive write→read (SURVEY §7.4.2)
    root, _ = pipeline_output
    df = read_daily_csv_string_preserving(spark, glob.glob(os.path.join(root, "baltrad", "daily", "*", "*", "*.csv")))
    rows = df.collect()
    assert all(r["v"] == "" for r in rows)  # nodata stays empty string, not NULL
    assert {r["u"] for r in rows} == {"1.25"}


def test_descriptor_written(pipeline_output):
    root, _ = pipeline_output
    assert os.path.exists(os.path.join(root, "vpts.resource.json"))


def test_odim_fleet_small_file_packing_and_e2e(spark, tmp_path):
    """The S1 100 TB design claim, measured mechanically (VERDICT r7 #1):
    binaryFile + files.maxPartitionBytes packs MANY small .h5 files per
    task (tasks << files), and a seeded fleet (2 radars x 1 day x 24 files)
    flows end-to-end through read_vp_files → daily_vpts_job with the
    expected row and file counts."""
    from vptstools_spark.sources.odim import read_vp_files

    fleet = str(tmp_path / "fleet")
    oracle = odim_fleet.write_fleet(
        fleet, seed=3, n_radars=2, days=[datetime.date(2023, 3, 11)], per_day=24
    )
    n_files = oracle["files"]
    assert n_files == 48
    day_dirs = sorted(oracle["days"])
    pat = [os.path.join(fleet, d) for d in day_dirs]
    profiles = read_vp_files(spark, pat)
    tasks = profiles.rdd.getNumPartitions()
    assert 0 < tasks < n_files, f"no packing: {tasks} tasks for {n_files} files"
    assert profiles.count() == 48 * 25  # 25 altitude levels per VP file

    # every radar of the fleet survived the decode
    radars = {r["radar"] for r in profiles.select("radar").distinct().collect()}
    assert radars == {d.split("/")[2] for d in day_dirs} and len(radars) == 2

    out = str(tmp_path / "out")
    assert daily_vpts_job(spark, read_vp_files(spark, pat), day_dirs, out) == 2  # 2 radars × 1 day
    csvs = glob.glob(os.path.join(out, "baltrad", "daily", "*", "2023", "*.csv"))
    assert len(csvs) == 2
    n_lines = sum(open(c).read().count("\n") for c in csvs)
    assert n_lines == 48 * 25 + len(csvs)  # rows + one header per file


def test_sources_sharing_a_radar_day_publish_their_own_rows(spark, tmp_path):
    """One radar-day exists under both ``baltrad/`` and ``uva/``, with the
    same seeded files. One daily job over both publishes each source's own
    oracle bytes: 75 rows per file, each row once, keyed by the directory
    each file was read from."""
    from vptstools_spark.sources.odim import read_vp_files

    fleet = str(tmp_path / "fleet")
    oracles = {
        source: odim_fleet.write_fleet(
            fleet, seed=5, n_radars=1, days=[datetime.date(2023, 3, 11)], per_day=3, source=source
        )
        for source in ("baltrad", "uva")
    }
    day_dirs = sorted(d for oracle in oracles.values() for d in oracle["days"])
    # one radar-day, under two sources
    assert len(day_dirs) == 2 and len({d.split("/", 1)[1] for d in day_dirs}) == 1
    profiles = read_vp_files(spark, [os.path.join(fleet, d) for d in day_dirs])
    out = str(tmp_path / "out")
    assert daily_vpts_job(spark, profiles, day_dirs, out) == 2
    for day_dir in day_dirs:
        source, _t, radar, y, m, d = day_dir.split("/")
        lines = oracles[source]["days"][day_dir]
        assert len(lines) == 75
        daily = os.path.join(out, source, "daily", radar, y, f"{radar}_vpts_{y}{m}{d}.csv")
        with open(daily, newline="") as fh:
            assert fh.read() == "\n".join([odim_fleet.CSV_HEADER, *lines]) + "\n"


def test_all_nodata_and_all_undetect_profiles_publish_and_validate(spark, tmp_path):
    """Two ODIM files whose every quantity but HGHT is nodata (NaN) in one
    and undetect (+inf) in the other publish every measurement cell, counts
    included, as "" and "NaN", with an empty ``gap``; the re-read daily file
    passes ``validate_vpts``."""
    import random

    import numpy as np

    from vptstools_spark.operators.vpts import validate_vpts
    from vptstools_spark.schemas import VPTS_CSV_V1
    from vptstools_spark.sources.odim import read_vp_files

    radar = odim_fleet.Radar("nodat", random.Random(1))
    day_dir = "baltrad/hdf5/nodat/2023/03/11"
    os.makedirs(tmp_path / day_dir)
    expected = {}
    for minute, fill, cell in [(0, np.nan, ""), (5, np.inf, "NaN")]:
        ts = datetime.datetime(2023, 3, 11, 0, minute)
        profile = {q: np.full(odim_fleet.N_LEVELS, fill) for q, _kind in odim_fleet.QUANTITIES[1:]}
        profile["HGHT"] = np.arange(odim_fleet.N_LEVELS, dtype=np.float64) * odim_fleet.INTERVAL
        name = f"nodat_vp_{ts:%Y%m%dT%H%M}00Z_0x9.h5"
        (tmp_path / day_dir / name).write_bytes(odim_fleet.vp_file_bytes(radar, ts, profile))
        expected[name] = cell
    out = str(tmp_path / "out")
    profiles = read_vp_files(spark, str(tmp_path / day_dir))
    assert daily_vpts_job(spark, profiles, [day_dir], out) == 1
    daily = read_daily_csv_string_preserving(
        spark, os.path.join(out, "baltrad", "daily", "nodat", "2023", "nodat_vpts_20230311.csv")
    )
    rows = daily.collect()
    assert len(rows) == 2 * odim_fleet.N_LEVELS
    assert len(VPTS_CSV_V1.measurement_columns) == 14
    for row in rows:
        cell = expected[row["source_file"]]
        assert {row[m] for m in VPTS_CSV_V1.measurement_columns} == {cell}
        assert row["gap"] == ""
    assert validate_vpts(daily).collect() == []
