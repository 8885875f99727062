"""Inventory analytics operators (reference: tests/test_s3.py)."""

import datetime
import gzip

import pytest

from vptstools_spark.functions.paths import radar_day_directory
from vptstools_spark.operators.inventory import (
    coverage,
    days_to_create_vpts,
    modified_window,
    monthly_rollup,
    parse_inventory,
    read_inventory,
)

ROWS = [
    ("repo", "baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230311T231500Z_0xb.h5", 25806, datetime.datetime(2023, 3, 12, 1, 0)),
    ("repo", "baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230311T232500Z_0xb.h5", 25806, datetime.datetime(2023, 3, 12, 1, 0)),
    ("repo", "baltrad/hdf5/nosta/2023/03/12/nosta_vp_20230312T000000Z_0xb.h5", 25806, datetime.datetime(2023, 3, 12, 1, 0)),
    ("repo", "ecog-04003/hdf5/plpoz/2016/09/23/plpoz_vp_20160923T0000Z.h5", 17064, datetime.datetime(2016, 9, 24, 1, 0)),
    # noise rows must be filtered by the h5-suffix predicate (s3.py:296)
    ("repo", "baltrad/coverage.csv", 100, datetime.datetime(2023, 3, 12, 1, 0)),
    ("repo", "baltrad/manifest.json/x.checksum", 10, datetime.datetime(2023, 3, 12, 1, 0)),
]


def _inv(spark):
    return spark.createDataFrame(ROWS, "repo string, file string, size long, modified timestamp")


def test_parse_filters_non_h5(spark):
    parsed = parse_inventory(_inv(spark))
    assert parsed.count() == 4
    assert {r["suffix"] for r in parsed.collect()} == {"h5"}


def test_parse_runs_the_filename_regex_once(spark, tmp_path):
    """The seven filename fields read ONE regexp_replace per key: the split
    is bound in its own projection, which CollapseProject keeps because the
    fields reference it more than once. Built as one Column tree, each
    conditional field carried its own copy, eight in the optimized plan."""
    part = tmp_path / "part-0.csv.gz"
    with gzip.open(part, "wt") as fh:
        fh.writelines(f'"{repo}","{key}","{size}","2023-03-12T01:00:00.000Z"\n' for repo, key, size, _ in ROWS)
    parsed = parse_inventory(read_inventory(spark, str(part)))
    plan = parsed._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace(") == 1, plan
    assert parsed.count() == 4


def test_coverage_counts(spark):
    cov = {r["directory"]: r["file_count"] for r in coverage(parse_inventory(_inv(spark))).collect()}
    assert cov == {
        "baltrad/hdf5/nosta/2023/03/11": 2,
        "baltrad/hdf5/nosta/2023/03/12": 1,
        "ecog-04003/hdf5/plpoz/2016/09/23": 1,
    }


def test_driver_radar_days_match_coverage(spark):
    """The CLI's driver-side grouping of a folder listing gives the same
    radar-day directories as the Spark inventory aggregate."""
    keys = [
        # misfiled: groups under its filename date, 2023/03/12
        "baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230312T000000Z_0xb.h5",
        "baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230311T232500Z_0xb.h5",
        # upper-case radar code, _0x9 suffix
        "baltrad/hdf5/bejab/2022/11/11/BEJAB_vp_20221111T233000Z_0x9.h5",
        # no T between date and time, another source/file_type prefix
        "ecog-04003/hdf5/plpoz/2016/09/23/plpoz_vp_201609230000Z.h5",
        "uva/h5/plpoz/2016/09/23/plpoz_vp_20160923T0015Z.h5",
        # the greedy prefix keeps the last five letters before _vp_
        "baltrad/hdf5/dehnr/2023/01/02/xxdehnr_vp_20230102T0100Z.h5",
    ]
    listing = spark.createDataFrame([(k,) for k in keys], "file string")
    spark_days = sorted(r["directory"] for r in coverage(parse_inventory(listing)).collect())
    assert sorted({radar_day_directory(k) for k in keys}) == spark_days
    assert "baltrad/hdf5/nosta/2023/03/12" in spark_days
    with pytest.raises(ValueError, match="cannot parse ODIM filename: misnamed.h5"):
        radar_day_directory("baltrad/hdf5/nosta/2023/03/11/misnamed.h5")


def test_modified_window(spark):
    # reference: src/vptstools/s3.py:228-240 (deterministic `now`)
    parsed = parse_inventory(_inv(spark))
    recent = modified_window(parsed, days=2, now=datetime.datetime(2023, 3, 13, 0, 0))
    assert recent.count() == 3  # the 2016 file falls out


def test_days_to_create_vpts(spark):
    days = days_to_create_vpts(
        parse_inventory(_inv(spark)), days=2, now=datetime.datetime(2023, 3, 13, 0, 0)
    )
    got = {r["directory"]: r["file_count"] for r in days.collect()}
    assert got == {
        "baltrad/hdf5/nosta/2023/03/11": 2,
        "baltrad/hdf5/nosta/2023/03/12": 1,
    }


def test_monthly_rollup(spark):
    days = coverage(parse_inventory(_inv(spark)))
    got = {r["directory"]: r["file_count"] for r in monthly_rollup(days).collect()}
    assert got == {
        "baltrad/hdf5/nosta/2023/03": 3,
        "ecog-04003/hdf5/plpoz/2016/09": 1,
    }
