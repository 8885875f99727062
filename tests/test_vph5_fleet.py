"""The paper's own path on every host: ODIM HDF5 VP files → daily and
monthly VPTS CSV through ``bin/vph5_to_vpts.run``, on a fleet written by
the benchmark's pure-Python ODIM writer (``perfbench/odim_fleet.py``: no
h5py, no reference fixtures). Its plain-Python VPTS CSV rendering is the
byte-level oracle. The CLI's help and its empty-folder error are checked
here too."""

import datetime as dt
import glob
import gzip
import json
import os
import shutil

import pytest
from click.testing import CliRunner

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


def test_path_folder_run_matches_oracle_in_two_jobs(spark, fleet, tmp_path):
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    result, jobs = _jobs_in_group(
        spark, "vph5-fleet-backfill",
        lambda: run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark),
    )
    assert sorted(result["days"]) == sorted(oracle["days"])
    assert (result["daily"], result["monthly"]) == (6, 4)
    _expect(dest, oracle, list(oracle["days"]))
    assert sorted(os.listdir(dest)) == ["baltrad", "vpts.resource.json"]
    # daily 2 (decode/render stage + write); the day list is grouped on the
    # driver and the monthly join is local, so neither starts a job; no
    # file-listing job and no distinct/broadcast of the day list
    assert jobs <= 2, f"{jobs} Spark jobs"


def test_manifest_run_recomputes_window_days_and_coverage(spark, fleet, tmp_path):
    """Inventory-driven cron run into a store a backfill populated: only the
    radar-days with files modified inside the window are rewritten, and
    coverage.csv counts every .h5 key, sorted by directory."""
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark)
    march = _snapshot(os.path.join(dest, "baltrad", "monthly", "*", "2023", "*_202303.csv.gz"))
    assert len(march) == 2  # one per radar

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
    # one inventory scan into a per-day aggregate collected to the driver
    # (2), which writes coverage.csv from it; daily 2, monthly none
    assert jobs <= 4, f"{jobs} Spark jobs"
    # the untouched month is neither re-joined nor republished
    _assert_unchanged(march)
    # the reference's layout and nothing else: no store, no staging directory
    assert sorted(os.listdir(dest)) == ["baltrad", "coverage.csv", "vpts.resource.json"]


def test_rerun_of_a_months_earlier_day_keeps_date_order(spark, fleet, tmp_path):
    """Recomputing only the first day of a two-day month rewrites that
    day's daily file last; the monthly file still lists the days in date
    order, as the oracle does."""
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark)
    first = sorted(d for d in oracle["days"] if d.endswith("2023/03/30"))[0]
    result = run(path_folder=first, h5_root=h5_root, destination=dest, spark=spark)
    assert result["days"] == [first] and (result["daily"], result["monthly"]) == (1, 1)
    radar = first.split("/")[2]
    daily = os.path.join(dest, "baltrad", "daily", radar, "2023")
    written = {
        day: os.stat(os.path.join(daily, f"{radar}_vpts_{day}.csv")).st_mtime_ns
        for day in ("20230330", "20230331")
    }
    assert written["20230330"] > written["20230331"]
    _expect(dest, oracle, [first])


def test_rerun_of_one_radars_day_leaves_other_radars_month(spark, fleet, tmp_path):
    """Recomputing one radar's day re-joins that radar's month only: the
    other radar's published monthly file for the same month keeps its mtime
    and bytes."""
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark)
    first = sorted(d for d in oracle["days"] if d.endswith("2023/03/31"))[0]
    radar = first.split("/")[2]
    others = sorted({d.split("/")[2] for d in oracle["days"]} - {radar})
    assert len(others) == 1
    other = others[0]
    kept = _snapshot(
        os.path.join(dest, "baltrad", "monthly", other, "2023", f"{other}_vpts_202303.csv.gz")
    )
    assert len(kept) == 1

    result = run(path_folder=first, h5_root=h5_root, destination=dest, spark=spark)
    assert result["days"] == [first] and (result["daily"], result["monthly"]) == (1, 1)
    _assert_unchanged(kept)
    _expect(dest, oracle, [first])


def test_path_folder_run_rejects_misnamed_file(spark, fleet, tmp_path):
    """A backfill applies the manifest path's filename policy: an .h5 file
    whose name does not parse fails the run, naming the file, instead of
    becoming a radar-day with empty keys that publishes ``_vpts_`` files."""
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


def test_manifest_run_rejects_misnamed_key(spark, fleet, tmp_path):
    """The manifest path's filename policy: an inventory that holds a
    ``.h5`` key whose name does not parse fails the run, naming the key,
    before anything is published."""
    h5_root, oracle = fleet
    inv = tmp_path / "inventory"
    inv.mkdir()
    day = sorted(oracle["days"])[0]
    names = [*sorted(os.listdir(os.path.join(h5_root, day))), "misnamed.h5"]
    with gzip.open(inv / "part-0.csv.gz", "wt") as fh:
        fh.writelines(f'"b","{day}/{name}","1","2023-04-01T12:00:00.000Z"\n' for name in names)
    manifest = inv / "manifest.json"
    manifest.write_text(json.dumps({"files": [{"key": "data/part-0.csv.gz"}]}))
    dest = str(tmp_path / "dest")
    with pytest.raises(Exception, match="cannot parse ODIM filename: misnamed.h5"):
        run(
            manifest=str(manifest), modified_days_ago=1, now="2023-04-02 03:00:00",
            h5_root=h5_root, destination=dest, spark=spark,
        )
    assert not glob.glob(os.path.join(dest, "**", "*_vpts_*"), recursive=True)


def _manifest(folder, lines: list[str]) -> str:
    """An inventory of one gzip part holding ``lines`` under ``folder``;
    -> the path of its manifest."""
    folder.mkdir()
    with gzip.open(folder / "part-0.csv.gz", "wt") as fh:
        fh.writelines(lines)
    manifest = folder / "manifest.json"
    manifest.write_text(json.dumps({"files": [{"key": "data/part-0.csv.gz"}]}))
    return str(manifest)


def test_misfiled_one_file_day_is_skipped_in_both_modes(spark, fleet, tmp_path, capsys):
    """A folder whose only file is named for another day puts that day's
    directory, which does not exist, into the work list. Like the
    reference's per-day loop, the run skips it with a warning and publishes
    every other day, in both modes; the misfiled file is converted nowhere."""
    h5_root, oracle = fleet
    root = str(tmp_path / "h5")
    shutil.copytree(h5_root, root)
    day = sorted(d for d in oracle["days"] if d.endswith("2023/03/30"))[0]
    first, *rest = sorted(os.listdir(os.path.join(root, day)))
    for name in rest:
        os.remove(os.path.join(root, day, name))
    misfiled = first.replace("_20230330T", "_20230329T")
    os.rename(os.path.join(root, day, first), os.path.join(root, day, misfiled))
    absent = day.replace("2023/03/30", "2023/03/29")
    kept = {"days": {d: v for d, v in oracle["days"].items() if d != day}}

    dest = str(tmp_path / "backfill")
    warning = f"[WARNING] - No folder {os.path.join(root, absent)} holds"
    capsys.readouterr()
    result = run(path_folder="baltrad", h5_root=root, destination=dest, spark=spark)
    assert warning in capsys.readouterr().out
    assert result["days"] == sorted(kept["days"])
    assert (result["daily"], result["monthly"]) == (5, 4)
    _expect(dest, kept, list(kept["days"]))

    keys = [
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, "**", "*.h5"), recursive=True)
    ]
    manifest = _manifest(
        tmp_path / "inventory",
        [f'"b","{k}","1","2023-04-02T00:00:00.000Z"\n' for k in sorted(keys)],
    )
    dest = str(tmp_path / "cron")
    result = run(
        manifest=manifest, modified_days_ago=1, now="2023-04-02 03:00:00",
        h5_root=root, destination=dest, spark=spark,
    )
    assert warning in capsys.readouterr().out
    assert result["days"] == sorted(kept["days"])
    _expect(dest, kept, list(kept["days"]))
    # coverage counts the misfiled key under its filename's day
    with open(os.path.join(dest, "coverage.csv"), encoding="utf-8") as fh:
        assert fh.read() == "directory,file_count\n" + "".join(
            f"{d},{1 if d == absent else PER_DAY}\n" for d in sorted([absent, *kept["days"]])
        )


def test_manifest_without_h5_keys_publishes_header_only_coverage(spark, fleet, tmp_path):
    """An inventory whose parts hold no ``.h5`` key: the run writes a
    header-only coverage.csv, selects no radar-day, publishes no daily or
    monthly file and raises nothing."""
    h5_root, oracle = fleet
    day = sorted(oracle["days"])[0]
    manifest = _manifest(
        tmp_path / "inventory",
        [f'"b","{day}/{name}","1","2023-04-02T00:00:00.000Z"\n'
         for name in ("coverage.log", "manifest.json", "notes.h5.txt")],
    )
    dest = str(tmp_path / "dest")
    result = run(
        manifest=manifest, modified_days_ago=1, now="2023-04-02 03:00:00",
        h5_root=h5_root, destination=dest, spark=spark,
    )
    assert result == {"days": [], "daily": 0, "monthly": 0}
    with open(os.path.join(dest, "coverage.csv"), encoding="utf-8") as fh:
        assert fh.read() == "directory,file_count\n"
    assert os.listdir(dest) == ["coverage.csv"]


def test_sources_sharing_a_radar_day_keep_their_own_months(spark, fleet, tmp_path):
    """One radar's 2023-03-30 exists under both ``baltrad/`` and ``uva/``.
    After backfills of baltrad, then uva, then baltrad's 03-31 alone, each
    source's monthly file joins that source's daily files only, as the
    reference's per-source layout does."""
    h5_root, oracle = fleet
    root = str(tmp_path / "h5")
    shutil.copytree(os.path.join(h5_root, "baltrad"), os.path.join(root, "baltrad"))
    uva = odim_fleet.write_fleet(
        root, seed=7, n_radars=1, days=DAYS[:1], per_day=PER_DAY - 1, source="uva"
    )
    [uva_day] = uva["days"]
    radar = uva_day.split("/")[2]
    assert f"baltrad/hdf5/{radar}/2023/03/30" in oracle["days"]
    dest = str(tmp_path / "dest")
    later = f"baltrad/hdf5/{radar}/2023/03/31"
    for folder in ("baltrad", "uva", later):
        run(path_folder=folder, h5_root=root, destination=dest, spark=spark)
    _expect(dest, oracle, [later])
    _expect(dest, uva, [uva_day])


def test_backfill_ignores_session_file_limits(spark, fleet, tmp_path):
    """The daily write pins its own overwrite mode and file-size limit:
    under a session that caps output files at 10 records, a backfill still
    publishes whole radar-days, and the session settings stay as set."""
    h5_root, oracle = fleet
    dest = str(tmp_path / "dest")
    settings = {
        "spark.sql.files.maxRecordsPerFile": "10",
        "spark.sql.sources.partitionOverwriteMode": "static",
    }
    saved = {key: spark.conf.get(key) for key in settings}
    for key, value in settings.items():
        spark.conf.set(key, value)
    try:
        run(path_folder="baltrad", h5_root=h5_root, destination=dest, spark=spark)
        assert {key: spark.conf.get(key) for key in settings} == settings
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)
    _expect(dest, oracle, list(oracle["days"]))


def test_publish_rejects_split_partitions_and_header_mismatch(spark, fleet, tmp_path, monkeypatch):
    """A radar-day written as two part files fails the daily phase before
    any file is published, and daily files with differing headers fail the
    monthly join before any monthly file is written."""
    from vptstools_spark.operators import pipeline

    h5_root, oracle = fleet
    write = pipeline.write_daily_store

    def split_write(table, path):
        write(table, path)
        # staging is p_source=…/p_radar=…/p_date=…/part-….csv
        for part in glob.glob(os.path.join(path, "*", "*", "*", "*.csv")):
            shutil.copyfile(part, part.removesuffix(".csv") + "-b.csv")

    monkeypatch.setattr(pipeline, "write_daily_store", split_write)
    dest = str(tmp_path / "split")
    with pytest.raises(ValueError, match="2 part files"):
        run(path_folder=sorted(oracle["days"])[0], h5_root=h5_root, destination=dest, spark=spark)
    assert os.listdir(dest) == []  # nothing published, staging removed

    header = odim_fleet.CSV_HEADER + "\n"
    mixed = str(tmp_path / "mixed")
    daily = os.path.join(mixed, "baltrad", "daily", "abcde", "2023")
    os.makedirs(daily)
    for day, text in (("20230301", header), ("20230302", "radar,datetime\n")):
        with open(os.path.join(daily, f"abcde_vpts_{day}.csv"), "w") as fh:
            fh.write(text)
    with pytest.raises(ValueError, match="header differs"):
        monthly_vpts_job(mixed, ["baltrad/hdf5/abcde/2023/03/02"])
    assert sorted(os.listdir(os.path.join(mixed, "baltrad"))) == ["daily"]  # checked before any write


def test_vph5_to_vpts_help():
    from vptstools_spark.bin.vph5_to_vpts import cli

    result = CliRunner().invoke(cli, ["--help"])
    assert result.exit_code == 0
    assert (
        "Convert and aggregate HDF5 VP files to daily and monthly VPTS CSV files"
        in result.output
    )


def test_vph5_to_vpts_path_folder_empty_errors(spark, tmp_path, monkeypatch):
    from vptstools_spark.bin.vph5_to_vpts import cli

    monkeypatch.setenv("VPTS_H5_ROOT", str(tmp_path / "bucket"))
    monkeypatch.setenv("VPTS_DESTINATION", str(tmp_path / "dest"))
    result = CliRunner().invoke(cli, ["--path-folder", "nothing/here"])
    assert result.exit_code != 0
    assert "No h5 files could be found" in result.output


def test_cli_import_loads_no_pandas():
    """The CLI and the ODIM decoder import without pandas."""
    import subprocess
    import sys

    code = (
        "import sys, vptstools_spark.bin.vph5_to_vpts, vptstools_spark.sources.odim; "
        "print('pandas' in sys.modules)"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"
