"""Full Table-Schema validation parity (K5): corrupt each column class and
assert exactly the expected rule fires (reference round-trips through
frictionless against the published vpts-csv v1.0 schema,
src/vptstools/vpts.py:297-343)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_profile_record
from vptstools_spark.operators.vpts import (
    sort_vpts,
    to_vpts_table,
    validate_vpts,
    validate_vpts_order,
)
from vptstools_spark.schemas import VPTS_CSV_V1, get_vpts_version
from vptstools_spark.sources.odim import profiles_from_records


@pytest.fixture(scope="module")
def clean(spark):
    recs = [make_profile_record(height=h) for h in (0, 200, 400)]
    return to_vpts_table(profiles_from_records(spark, recs))


def _rules(df):
    return {r["rule"]: r["n_violations"] for r in validate_vpts(df).collect()}


def _corrupt(df, col, value):
    return df.withColumn(col, F.lit(value))


def test_clean_table_validates(clean):
    assert _rules(clean) == {}


def test_rules_cover_all_26_columns(clean):
    # a non-missing "x" in every cell breaks the type rule of every typed
    # column; the two string columns have none ("x" is a safe source_file)
    got = _rules(clean.select(*[F.lit("x").alias(c) for c in clean.columns]))
    assert len(VPTS_CSV_V1.columns) == 26
    assert {rule.rsplit("_", 1)[0] for rule in got} == set(VPTS_CSV_V1.columns) - {"radar", "source_file"}
    assert set(got.values()) == {3}


@pytest.mark.parametrize(
    ("col", "bad", "rule"),
    [
        # required cells
        ("radar", "", "radar_required"),
        ("datetime", "", "datetime_required"),
        ("height", "", "height_required"),
        # datetime format
        ("datetime", "2023-03-11 23:15:00", "datetime_iso8601"),
        # number / integer typing
        ("ff", "fast", "ff_type"),
        ("n", "12.5", "n_type"),
        ("vcp", "abc", "vcp_type"),
        ("radar_wavelength", "long", "radar_wavelength_type"),
        # NaN is undetect on measurements but a TYPE violation elsewhere
        ("radar_latitude", "NaN", "radar_latitude_type"),
        # ranges
        ("dd", "361.0", "dd_range"),
        ("ff", "-1.0", "ff_range"),
        ("n_dbz", "-3", "n_dbz_range"),
        ("radar_latitude", "95.0", "radar_latitude_range"),
        ("radar_longitude", "-200.0", "radar_longitude_range"),
        ("height", "-100", "height_range"),
        # booleans
        ("gap", "yes", "gap_bool"),
        # source_file guard
        ("source_file", "../evil.h5", "source_file_safe"),
    ],
)
def test_each_corruption_fires_exactly_its_rule(clean, col, bad, rule):
    got = _rules(_corrupt(clean, col, bad))
    assert rule in got, f"expected {rule} in {got}"
    assert got[rule] == 3  # all 3 rows corrupted
    # no unrelated rule fires for this corruption
    allowed = {rule}
    if rule.endswith("_required"):
        # an empty required cell can also break its format/type rule
        allowed |= {f"{col}_type", f"{col}_iso8601", "datetime_iso8601"}
    assert set(got) <= allowed, f"unexpected extra rules: {got}"


def test_missing_cells_are_exempt(clean):
    # "" nodata passes everywhere non-required; NaN passes on measurements
    df = _corrupt(_corrupt(clean, "u", "NaN"), "vcp", "")
    assert _rules(df) == {}


def test_order_check(spark, clean):
    spec = get_vpts_version("v1.0")
    assert validate_vpts_order(sort_vpts(clean, spec)) == 0
    reversed_df = sort_vpts(clean, spec).orderBy(F.col("height").cast("int").desc())
    assert validate_vpts_order(reversed_df) > 0
