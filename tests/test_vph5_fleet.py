"""The paper's own path on every host: ODIM HDF5 VP files → daily and
monthly VPTS CSV through ``bin/vph5_to_vpts.run``, on a fleet written by
the benchmark's pure-Python ODIM writer (``perfbench/odim_fleet.py``: no
h5py, no reference fixtures). Its plain-Python VPTS CSV rendering is the
byte-level oracle."""

import datetime as dt
import gzip
import json
import os

import pytest

from tests.conftest import odim_fleet
from vptstools_spark.bin.vph5_to_vpts import run
from vptstools_spark.operators.pipeline import read_daily_csv_string_preserving

#: two days across a month boundary: every radar gets two monthly files
DAYS = [dt.date(2023, 3, 31), dt.date(2023, 4, 1)]
PER_DAY = 4


@pytest.fixture(scope="module")
def fleet(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fleet"))
    oracle = odim_fleet.write_fleet(root, seed=7, n_radars=2, days=DAYS, per_day=PER_DAY)
    assert oracle["files"] == 16
    return root, oracle


def _jobs_in_group(spark, group: str, fn):
    """-> (fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _expect(dest: str, oracle: dict, day_dirs: list[str]) -> None:
    """Daily files of ``day_dirs`` and the monthly files they touch equal
    the oracle's lines byte for byte."""
    header = odim_fleet.CSV_HEADER
    months: dict[tuple, list[str]] = {}
    for rel in sorted(oracle["days"]):
        source, _t, radar, y, m, d = rel.split("/")
        months.setdefault((source, radar, y, m), []).extend(oracle["days"][rel])
        if rel in day_dirs:
            path = os.path.join(dest, source, "daily", radar, y, f"{radar}_vpts_{y}{m}{d}.csv")
            with open(path, encoding="utf-8", newline="") as fh:
                assert fh.read() == "\n".join([header, *oracle["days"][rel]]) + "\n", path
    touched = {tuple(r.split("/")[i] for i in (0, 2, 3, 4)) for r in day_dirs}
    for (source, radar, y, m), lines in months.items():
        if (source, radar, y, m) in touched:
            path = os.path.join(dest, source, "monthly", radar, y, f"{radar}_vpts_{y}{m}.csv.gz")
            with gzip.open(path, "rt", encoding="utf-8", newline="") as fh:
                assert fh.read() == "\n".join([header, *lines]) + "\n", path


def test_path_folder_run_matches_oracle_in_six_jobs(spark, fleet, tmp_path):
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    result, jobs = _jobs_in_group(
        spark, "vph5-fleet-backfill",
        lambda: run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark),
    )
    assert sorted(result["days"]) == sorted(oracle["days"])
    assert (result["daily"], result["monthly"]) == (4, 4)
    _expect(dest, oracle, list(oracle["days"]))
    # coverage 2, daily 2 (decode/render stage + write), monthly 2: no
    # file-listing job and no distinct/broadcast of the day list
    assert jobs <= 6, f"{jobs} Spark jobs"


def test_manifest_run_recomputes_window_days_and_coverage(spark, fleet, tmp_path):
    """Inventory-driven cron run into a store a backfill populated: only the
    radar-days with files modified inside the window are rewritten, and
    coverage.csv counts every .h5 key, sorted by directory."""
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark)

    inv = tmp_path / "inventory"
    inv.mkdir()
    lines = []
    for rel in sorted(oracle["days"]):
        for name in sorted(os.listdir(os.path.join(h5_root, rel))):
            ts = dt.datetime.strptime(name.split("_")[2][:13], "%Y%m%dT%H%M")
            mod = ts + dt.timedelta(minutes=10)
            lines.append(f'"b","{rel}/{name}","1","{mod:%Y-%m-%dT%H:%M:%S}.000Z"\n')
        lines.append(f'"b","{rel}/coverage.log","1","2023-04-02T00:00:00.000Z"\n')
    with gzip.open(inv / "part-0.csv.gz", "wt") as fh:
        fh.writelines(lines)
    manifest = inv / "manifest.json"
    manifest.write_text(json.dumps({"files": [{"key": "data/part-0.csv.gz"}]}))

    # window: after 2023-04-01 03:00 -> the 06:00..18:00 files of 04-01
    result, jobs = _jobs_in_group(
        spark, "vph5-fleet-manifest",
        lambda: run(
            manifest=str(manifest), modified_days_ago=1, now="2023-04-02 03:00:00",
            h5_root=h5_root, destination=dest, spark=spark,
        ),
    )
    recent = sorted(d for d in oracle["days"] if d.endswith("2023/04/01"))
    assert sorted(result["days"]) == recent and len(recent) == 2
    assert (result["daily"], result["monthly"]) == (2, 2)
    _expect(dest, oracle, recent)
    with open(os.path.join(dest, "coverage.csv"), encoding="utf-8") as fh:
        assert fh.read() == "directory,file_count\n" + "".join(
            f"{d},{PER_DAY}\n" for d in sorted(oracle["days"])
        )
    # one inventory scan into a checkpointed per-day aggregate (2), the
    # coverage write and the day collect from it (2), daily 2, monthly 2
    assert jobs <= 8, f"{jobs} Spark jobs"
    # the monthly re-read scans only the affected month's daily partitions
    # (one file per radar-day): 2 of the store's 4 files
    store = read_daily_csv_string_preserving(spark, os.path.join(dest, "_daily_store"), ["202304"])
    assert {r["datetime"][:7] for r in store.collect()} == {"2023-04"}
    scan = store._jdf.queryExecution().executedPlan().collectLeaves().head()
    assert scan.metrics().apply("numFiles").value() == 2
