"""The paper's own path on every host: ODIM HDF5 VP files → daily and
monthly VPTS CSV through ``bin/vph5_to_vpts.run``, on a fleet written by
the benchmark's pure-Python ODIM writer (``perfbench/odim_fleet.py``: no
h5py, no reference fixtures). Its plain-Python VPTS CSV rendering is the
byte-level oracle."""

import datetime as dt
import glob
import gzip
import json
import os

import pytest

from tests.conftest import odim_fleet
from vptstools_spark.bin.vph5_to_vpts import run
from vptstools_spark.operators.pipeline import monthly_vpts_job

#: three days across a month boundary: every radar gets two monthly files,
#: and March holds two days
DAYS = [dt.date(2023, 3, 30), dt.date(2023, 3, 31), dt.date(2023, 4, 1)]
PER_DAY = 4


@pytest.fixture(scope="module")
def fleet(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fleet"))
    oracle = odim_fleet.write_fleet(root, seed=7, n_radars=2, days=DAYS, per_day=PER_DAY)
    assert oracle["files"] == 24
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


def _snapshot(*patterns: str) -> dict[str, tuple[int, bytes]]:
    """-> {path: (mtime_ns, bytes)} of every file the glob patterns match."""
    out = {}
    for path in (p for pattern in patterns for p in glob.glob(pattern)):
        with open(path, "rb") as fh:
            out[path] = (os.stat(path).st_mtime_ns, fh.read())
    return out


def _assert_unchanged(snapshot: dict[str, tuple[int, bytes]]) -> None:
    for path, (mtime, data) in snapshot.items():
        assert os.stat(path).st_mtime_ns == mtime, path
        with open(path, "rb") as fh:
            assert fh.read() == data, path


def test_path_folder_run_matches_oracle_in_four_jobs(spark, fleet, tmp_path):
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    result, jobs = _jobs_in_group(
        spark, "vph5-fleet-backfill",
        lambda: run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark),
    )
    assert sorted(result["days"]) == sorted(oracle["days"])
    assert (result["daily"], result["monthly"]) == (6, 4)
    _expect(dest, oracle, list(oracle["days"]))
    # coverage 2, daily 2 (decode/render stage + write), monthly none: no
    # file-listing job and no distinct/broadcast of the day list
    assert jobs <= 4, f"{jobs} Spark jobs"


def test_manifest_run_recomputes_window_days_and_coverage(spark, fleet, tmp_path):
    """Inventory-driven cron run into a store a backfill populated: only the
    radar-days with files modified inside the window are rewritten, and
    coverage.csv counts every .h5 key, sorted by directory."""
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark)
    march = _snapshot(
        os.path.join(dest, "baltrad", "monthly", "*", "2023", "*_202303.csv.gz"),
        os.path.join(dest, "_monthly_store", "*", "p_month=202303", "*"),
    )
    assert len(march) == 4  # per radar: the published file and the store's part

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
    # coverage write and the day collect from it (2), daily 2, monthly none
    assert jobs <= 6, f"{jobs} Spark jobs"
    # the untouched month is neither re-joined nor republished
    _assert_unchanged(march)


def test_rerun_of_a_months_earlier_day_keeps_date_order(spark, fleet, tmp_path):
    """Recomputing only the first day of a two-day month rewrites that
    day's daily partition last; the monthly file still lists the days in
    date order, as the oracle does."""
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark)
    first = sorted(d for d in oracle["days"] if d.endswith("2023/03/30"))[0]
    result = run(path_folder=first, h5_root=h5_root, destination=dest, spark=spark)
    assert result["days"] == [first] and (result["daily"], result["monthly"]) == (1, 1)
    radar = first.split("/")[2]
    store = os.path.join(dest, "_daily_store", f"p_radar={radar}")
    written = {
        day: os.stat(glob.glob(os.path.join(store, f"p_date={day}", "*.csv"))[0]).st_mtime_ns
        for day in ("20230330", "20230331")
    }
    assert written["20230330"] > written["20230331"]
    _expect(dest, oracle, [first])


def test_rerun_of_one_radars_day_leaves_other_radars_month(spark, fleet, tmp_path):
    """Recomputing one radar's day re-joins that radar's month only: the
    other radar's part file for the same month in the monthly store and its
    published monthly file keep their mtime and bytes."""
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark)
    first = sorted(d for d in oracle["days"] if d.endswith("2023/03/31"))[0]
    radar = first.split("/")[2]
    others = sorted({d.split("/")[2] for d in oracle["days"]} - {radar})
    assert len(others) == 1
    other = others[0]
    kept = _snapshot(
        os.path.join(dest, "baltrad", "monthly", other, "2023", f"{other}_vpts_202303.csv.gz"),
        os.path.join(dest, "_monthly_store", f"p_radar={other}", "p_month=202303", "*"),
    )
    assert len(kept) == 2

    result = run(path_folder=first, h5_root=h5_root, destination=dest, spark=spark)
    assert result["days"] == [first] and (result["daily"], result["monthly"]) == (1, 1)
    _assert_unchanged(kept)
    _expect(dest, oracle, [first])


def test_path_folder_run_rejects_misnamed_file(spark, fleet, tmp_path):
    """A backfill applies the manifest path's filename policy: an .h5 file
    whose name does not parse fails the run, naming the file, instead of
    becoming a radar-day with empty keys that publishes ``_vpts_`` files."""
    import shutil

    h5_root, oracle = fleet
    day = sorted(oracle["days"])[0]
    root = str(tmp_path / "h5")
    shutil.copytree(os.path.join(h5_root, day), os.path.join(root, day))
    valid = sorted(glob.glob(os.path.join(root, day, "*.h5")))[0]
    shutil.copyfile(valid, os.path.join(root, day, "misnamed.h5"))
    dest = str(tmp_path / "dest")
    with pytest.raises(Exception, match="misnamed.h5"):
        run(path_folder="baltrad", h5_root=root, destination=dest, spark=spark)
    assert not glob.glob(os.path.join(dest, "**", "*_vpts_*"), recursive=True)


def _daily_part(store: str, day: str, name: str, text: str) -> None:
    os.makedirs(os.path.join(store, "p_radar=abcde", f"p_date={day}"), exist_ok=True)
    with open(os.path.join(store, "p_radar=abcde", f"p_date={day}", name), "w") as fh:
        fh.write(text)


def test_monthly_join_rejects_split_partitions_and_header_mismatch(tmp_path):
    header = odim_fleet.CSV_HEADER + "\n"
    split = str(tmp_path / "split")
    _daily_part(split, "20230301", "part-00000-a.c000.csv", header)
    _daily_part(split, "20230301", "part-00001-b.c000.csv", header)
    with pytest.raises(ValueError, match="2 part files"):
        monthly_vpts_job(split, str(tmp_path / "out"))

    mixed = str(tmp_path / "mixed")
    _daily_part(mixed, "20230301", "part-00000.csv", header)
    _daily_part(mixed, "20230302", "part-00000.csv", "radar,datetime\n")
    with pytest.raises(ValueError, match="header differs"):
        monthly_vpts_job(mixed, str(tmp_path / "out"))
    assert not os.path.exists(tmp_path / "out")  # checked before any write
