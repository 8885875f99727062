"""``vph5_to_vpts`` CLI end-to-end tests (reference:
tests/test_vph5_to_vpts.py:20-68) against local-filesystem renditions of the
reference's mocked S3 buckets, byte-comparing every published artifact with
the reference goldens. The CLI tests that need no reference fixture are in
``test_vph5_fleet.py`` and ``test_transfer.py``."""

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
