"""Byte-level parity against the reference's own golden artifacts
(/root/reference/tests/data — DATA fixtures, not code). These are the
strongest cross-implementation checks available without h5py: the engine's
readers, sort, aggregations, and CSV serializer must reproduce files the
reference produced from real radar data."""

import gzip
import os

import pytest
from pyspark.sql import functions as F

GOLDEN_DIR = "/root/reference/tests/data/inventory"
DAILY = os.path.join(GOLDEN_DIR, "nosta_vpts_20230311.csv")
MONTHLY = os.path.join(GOLDEN_DIR, "nosta_vpts_202303.csv.gz")
INVENTORY = os.path.join(GOLDEN_DIR, "dummy_inventory.csv.gz")
COVERAGE = os.path.join(GOLDEN_DIR, "coverage.csv")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR), reason="reference fixtures unavailable"
)


def test_golden_daily_roundtrip_bytes(spark, tmp_path):
    """string-preserving read → engine sort → CSV sink reproduces the golden
    daily file byte-for-byte (S7, O1 idempotence, K1 formatting on REAL
    reference output, incl. ''-vs-NaN tri-state cells)."""
    from vptstools_spark.operators.pipeline import read_daily_csv_string_preserving
    from vptstools_spark.operators.vpts import sort_vpts, vpts_to_csv
    from vptstools_spark.schemas import get_vpts_version

    df = read_daily_csv_string_preserving(spark, DAILY)
    out = str(tmp_path / "daily.csv")
    vpts_to_csv(sort_vpts(df, get_vpts_version("v1.0")), out)
    assert open(out, "rb").read() == open(DAILY, "rb").read()


def test_golden_monthly_contains_daily_rows(spark):
    """The monthly concat's 2023-03-11 rows must equal the daily golden file
    row-for-row after the string-preserving read (S7 on gzip, U1 semantics)."""
    from vptstools_spark.operators.pipeline import read_daily_csv_string_preserving

    monthly = read_daily_csv_string_preserving(spark, MONTHLY)
    daily = read_daily_csv_string_preserving(spark, DAILY)
    m_rows = [
        tuple(r)
        for r in monthly.filter(F.col("datetime").startswith("2023-03-11")).collect()
    ]
    d_rows = [tuple(r) for r in daily.collect()]
    assert sorted(m_rows) == sorted(d_rows) and len(d_rows) == 125


def test_golden_coverage_from_inventory(spark):
    """Inventory scan → parse → coverage aggregate reproduces the reference's
    coverage.csv exactly (S5, P11-P13, F1, A1)."""
    from vptstools_spark.operators.inventory import coverage, parse_inventory, read_inventory

    inv = parse_inventory(read_inventory(spark, INVENTORY))
    got = {
        (r["directory"], r["file_count"])
        for r in coverage(inv).collect()
    }
    want = set()
    for line in open(COVERAGE).read().splitlines()[1:]:
        d, c = line.rsplit(",", 1)
        want.add((d, int(c)))
    assert got == want


def test_golden_handle_manifest_subset_and_none(spark):
    """The reference's TestHandleManifest e2e expectations
    (tests/test_s3.py:505-533): full coverage always; days-to-create only
    the directories with files modified inside the window; empty when
    nothing qualifies. Both are driver lists of (directory, count), sorted
    by directory."""
    import datetime

    from vptstools_spark.operators.inventory import handle_manifest

    manifest = os.path.join(GOLDEN_DIR, "dummy_manifest.json")
    full_cov = {
        ("baltrad/hdf5/fiuta/2021/04/23", 1),
        ("baltrad/hdf5/fiuta/2021/04/24", 1),
        ("baltrad/hdf5/nosta/2023/03/11", 4),
        ("baltrad/hdf5/nosta/2023/03/12", 1),
        ("ecog-04003/hdf5/plpoz/2016/09/23", 2),
    }

    cov, days = handle_manifest(
        spark, manifest, modified_days_ago=5, now=datetime.datetime(2023, 2, 1)
    )
    assert cov == sorted(full_cov)
    assert days == [
        ("baltrad/hdf5/fiuta/2021/04/24", 1),
        ("baltrad/hdf5/nosta/2023/03/11", 4),
        ("ecog-04003/hdf5/plpoz/2016/09/23", 2),
    ]

    cov2, days2 = handle_manifest(
        spark, manifest, modified_days_ago=1, now=datetime.datetime(2023, 3, 1)
    )
    assert cov2 == sorted(full_cov)
    assert days2 == []
