"""CLI end-to-end tests (reference: tests/test_vph5_to_vpts.py:20-68 and
tests/test_transfer_baltrad.py) against local-filesystem renditions of the
reference's mocked S3 buckets, byte-comparing every published artifact with
the reference goldens."""

import gzip
import os
import shutil

import pytest
from click.testing import CliRunner

GOLDEN_DIR = "/root/reference/tests/data/inventory"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR), reason="reference fixtures unavailable"
)


@pytest.fixture()
def inventory_env(tmp_path):
    """Local rendition of the reference's mocked buckets: the manifest +
    gzipped inventory CSV, and the 5 nosta VP files under their inventory
    key paths."""
    manifest_dir = tmp_path / "inventory"
    manifest_dir.mkdir()
    shutil.copy(os.path.join(GOLDEN_DIR, "dummy_manifest.json"), manifest_dir)
    shutil.copy(os.path.join(GOLDEN_DIR, "dummy_inventory.csv.gz"), manifest_dir)
    h5_root = tmp_path / "bucket"
    day_dir = h5_root / "baltrad" / "hdf5" / "nosta" / "2023" / "03" / "11"
    day_dir.mkdir(parents=True)
    for name in os.listdir(os.path.join(GOLDEN_DIR, "vp")):
        shutil.copy(os.path.join(GOLDEN_DIR, "vp", name), day_dir)
    dest = tmp_path / "dest"
    dest.mkdir()
    return {
        "manifest": str(manifest_dir / "dummy_manifest.json"),
        "h5_root": str(h5_root),
        "dest": str(dest),
    }


def test_vph5_to_vpts_help():
    from vptstools_spark.bin.vph5_to_vpts import cli

    result = CliRunner().invoke(cli, ["--help"])
    assert result.exit_code == 0
    assert (
        "Convert and aggregate HDF5 VP files to daily and monthly VPTS CSV files"
        in result.output
    )


def test_vph5_to_vpts_e2e(spark, inventory_env, monkeypatch):
    """Inventory → coverage → daily → monthly, frozen at the reference's
    e2e clock (now=2023-02-02, --modified-days-ago 3 selects exactly the
    nosta 2023-03-11 radar-day)."""
    from vptstools_spark.bin.vph5_to_vpts import cli

    monkeypatch.setenv("VPTS_MANIFEST", inventory_env["manifest"])
    monkeypatch.setenv("VPTS_H5_ROOT", inventory_env["h5_root"])
    monkeypatch.setenv("VPTS_DESTINATION", inventory_env["dest"])
    monkeypatch.setenv("VPTS_NOW", "2023-02-02T00:00:00+00:00")

    result = CliRunner().invoke(cli, ["--modified-days-ago", "3"])
    assert result.exception is None, result.output
    assert "Create 1 daily VPTS files" in result.output
    assert "Create 1 monthly VPTS files" in result.output
    assert "Finished VPTS update procedure" in result.output

    dest = inventory_env["dest"]
    cov = open(os.path.join(dest, "coverage.csv"), "rb").read()
    assert cov == open(os.path.join(GOLDEN_DIR, "coverage.csv"), "rb").read()

    daily = open(
        os.path.join(
            dest, "baltrad", "daily", "nosta", "2023", "nosta_vpts_20230311.csv"
        ),
        "rb",
    ).read()
    assert daily == open(
        os.path.join(GOLDEN_DIR, "nosta_vpts_20230311.csv"), "rb"
    ).read()

    monthly = gzip.open(
        os.path.join(
            dest, "baltrad", "monthly", "nosta", "2023", "nosta_vpts_202303.csv.gz"
        ),
        "rb",
    ).read()
    assert monthly == gzip.open(
        os.path.join(GOLDEN_DIR, "nosta_vpts_202303.csv.gz"), "rb"
    ).read()

    assert os.path.exists(os.path.join(dest, "vpts.resource.json"))


def test_vph5_to_vpts_path_folder_mode(spark, inventory_env, monkeypatch):
    """--path-folder recreates every radar-day under the subtree without
    consulting the inventory (reference --path-s3-folder)."""
    from vptstools_spark.bin.vph5_to_vpts import cli

    monkeypatch.setenv("VPTS_H5_ROOT", inventory_env["h5_root"])
    monkeypatch.setenv("VPTS_DESTINATION", inventory_env["dest"])

    result = CliRunner().invoke(cli, ["--path-folder", "baltrad/hdf5/nosta"])
    assert result.exception is None, result.output
    daily = open(
        os.path.join(
            inventory_env["dest"],
            "baltrad",
            "daily",
            "nosta",
            "2023",
            "nosta_vpts_20230311.csv",
        ),
        "rb",
    ).read()
    assert daily == open(
        os.path.join(GOLDEN_DIR, "nosta_vpts_20230311.csv"), "rb"
    ).read()


def test_vph5_to_vpts_path_folder_empty_errors(spark, inventory_env, monkeypatch):
    from vptstools_spark.bin.vph5_to_vpts import cli

    monkeypatch.setenv("VPTS_H5_ROOT", inventory_env["h5_root"])
    monkeypatch.setenv("VPTS_DESTINATION", inventory_env["dest"])
    result = CliRunner().invoke(cli, ["--path-folder", "nothing/here"])
    assert result.exit_code != 0
    assert "No h5 files could be found" in result.output


def test_transfer_baltrad_local_e2e(tmp_path):
    """Filename filter + parse + existence anti-join + upload, local
    connectors (reference: tests/test_transfer_baltrad.py semantics)."""
    from vptstools_spark.bin.transfer_baltrad import cli

    src = tmp_path / "ftp"
    dst = tmp_path / "bucket"
    src.mkdir()
    dst.mkdir()
    (src / "fropo_vp_20220809T051000Z_0xb.h5").write_bytes(b"vp-bytes")
    (src / "fropo_pvol_20220809T051000Z_0xb.h5").write_bytes(b"pvol-bytes")
    (src / "notes.txt").write_bytes(b"junk")
    # pre-existing key → skipped by the anti-join
    existing = dst / "bewid" / "2022" / "08" / "09"
    existing.mkdir(parents=True)
    (existing / "bewid_vp_20220809T000000Z_0xb.h5").write_bytes(b"old")
    (src / "bewid_vp_20220809T000000Z_0xb.h5").write_bytes(b"new")

    result = CliRunner().invoke(cli, ["--source-dir", str(src), "--dest-dir", str(dst)])
    assert result.exception is None, result.output
    assert "Transferred 1 files (0 failures)." in result.output
    assert (
        dst / "fropo" / "2022" / "08" / "09" / "fropo_vp_20220809T051000Z_0xb.h5"
    ).read_bytes() == b"vp-bytes"
    # the existing key kept its original content (skip, not overwrite)
    assert (existing / "bewid_vp_20220809T000000Z_0xb.h5").read_bytes() == b"old"
    # idempotent rerun: nothing left to transfer
    rerun = CliRunner().invoke(cli, ["--source-dir", str(src), "--dest-dir", str(dst)])
    assert "Transferred 0 files" in rerun.output


def test_streaming_available_now_matches_batch_cli_daily(
    spark, inventory_env, tmp_path
):
    """Cron-batch CLI and Trigger.AvailableNow streaming must produce
    byte-identical daily artifacts (reference behavior: repeated scheduled
    runs of bin/vph5_to_vpts.py:121-144 are equivalent to one catch-up run).

    Batch side: `run()` in inventory mode publishes the daily file.
    Streaming side: `spark.readStream.format("odim")` over the same
    radar-day directory → `incremental_vpts_sink` (availableNow) writes a
    hive-partitioned store. The published file and the store's part file
    are filecmp-equal and equal the reference golden."""
    import filecmp
    import glob as _glob

    from vptstools_spark.bin.vph5_to_vpts import run
    from vptstools_spark.sources.odim_datasource import OdimDataSource
    from vptstools_spark.streaming.incremental import incremental_vpts_sink

    res = run(
        modified_days_ago=3,
        manifest=inventory_env["manifest"],
        h5_root=inventory_env["h5_root"],
        destination=inventory_env["dest"],
        now="2023-02-02T00:00:00+00:00",
        spark=spark,
    )
    assert res["daily"] == 1
    batch_part = os.path.join(
        inventory_env["dest"], "baltrad", "daily", "nosta", "2023", "nosta_vpts_20230311.csv"
    )

    spark.dataSource.register(OdimDataSource)
    day_dir = os.path.join(
        inventory_env["h5_root"], "baltrad", "hdf5", "nosta", "2023", "03", "11"
    )
    out = str(tmp_path / "stream_daily")
    q = incremental_vpts_sink(
        spark.readStream.format("odim").load(day_dir),
        out,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    [stream_part] = _glob.glob(
        os.path.join(out, "p_radar=nosta", "p_date=20230311", "*.csv")
    )

    assert filecmp.cmp(batch_part, stream_part, shallow=False)
    golden = open(
        os.path.join(GOLDEN_DIR, "nosta_vpts_20230311.csv"), "rb"
    ).read()
    assert open(stream_part, "rb").read() == golden
