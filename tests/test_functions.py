"""Scalar helper semantics (reference: tests/test_vpts_csv.py)."""

import datetime

from pyspark.sql import functions as F

from vptstools_spark.functions.paths import (
    ODIM_FILENAME_REGEX,
    inventory_path_features,
    parse_odim_filename,
)
from vptstools_spark.functions.scalars import (
    check_source_file,
    datetime_to_proper8601,
    int_to_nodata,
    number_to_bool_str,
    source_str_to_map,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("x")).collect()[0]["x"]


def test_iso8601_render(spark):
    # reference: src/vptstools/vpts_csv.py:18-37
    out = _one(
        spark,
        datetime_to_proper8601(F.lit(datetime.datetime(2021, 1, 1, 4, 0)).cast("timestamp")),
    )
    assert out == "2021-01-01T04:00:00Z"


def test_int_to_nodata(spark):
    # reference: src/vptstools/vpts_csv.py:40-73 ('vcp' with ["NULL","0"])
    for raw, expected in [("NULL", ""), ("0", ""), ("12", "12"), (None, "")]:
        got = _one(spark, int_to_nodata(F.lit(raw), ["NULL", "0"]))
        assert got == expected, raw


def test_number_to_bool_str(spark):
    # reference: src/vptstools/vpts_csv.py:76-94; non-0/1 → NULL (defined
    # behavior replacing the reference KeyError, SURVEY §7.4.7)
    assert _one(spark, number_to_bool_str(F.lit(1))) == "TRUE"
    assert _one(spark, number_to_bool_str(F.lit(0))) == "FALSE"
    assert _one(spark, number_to_bool_str(F.lit(7))) is None


def test_check_source_file(spark):
    # reference: src/vptstools/vpts_csv.py:97-129, regex at :241
    regex = r"^(?=^[^.\/~])(^((?!\.{2}).)*$).*$"
    assert _one(spark, check_source_file(F.lit("ok_file.h5"), regex)) == "ok_file.h5"
    for bad in ["../evil.h5", "./rel.h5", "/abs.h5", "~home.h5", "a/../b.h5"]:
        assert _one(spark, check_source_file(F.lit(bad), regex)) is None, bad


def test_source_str_to_map(spark):
    # reference: src/vptstools/odimh5.py:104-116
    got = _one(spark, source_str_to_map(F.lit("WMO:06477,RAD:BX41,NOD:bewid")))
    assert got == {"WMO": "06477", "RAD": "BX41", "NOD": "bewid"}


def test_parse_odim_filename(spark):
    # reference: src/vptstools/s3.py:74-109
    name = F.lit("baltrad/hdf5/bejab/2022/11/11/bejab_vp_20221111T233000Z_0x9.h5")
    row = parse_odim_filename(spark.range(1), name).collect()[0]
    assert row.radar_code == "bejab"
    assert row.data_type == "vp"
    assert (row.year, row.month, row.day) == ("2022", "11", "11")
    assert (row.hour, row.minute) == ("23", "30")


def test_parse_odim_filename_mismatch_empty(spark):
    row = parse_odim_filename(spark.range(1), F.lit("coverage.csv")).collect()[0]
    assert row.radar_code == ""


def test_inventory_path_features(spark):
    # reference: src/vptstools/s3.py:289-297
    feats = inventory_path_features(
        F.lit("baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230311T231500Z_0xb.h5")
    )
    row = spark.range(1).select(*[v.alias(k) for k, v in feats.items()]).collect()[0]
    assert row.source == "baltrad"
    assert row.suffix == "h5"
    assert row.filename == "nosta_vp_20230311T231500Z_0xb.h5"


def test_parse_odim_filename_reference_cases(spark):
    """The reference's own parse_file_name parametrize table
    (tests/test_s3.py:30-105): short time form (T2100Z), uppercase radar
    codes, hex/extra suffixes, version suffixes."""
    from vptstools_spark.functions.paths import parse_odim_filename

    cases = [
        ("baltrad/hdf5/fivan/2016/10/25/fivan_vp_20161025T2100Z_0x7_147742969449.h5",
         ("fivan", "vp", "2016", "10", "25", "21", "00")),
        ("baltrad/hdf5/fiuta/2021/11/14/fiuta_vp_20211114T214500Z_0xb.h5",
         ("fiuta", "vp", "2021", "11", "14", "21", "45")),
        ("baltrad/hdf5/seang/2017/01/20/seang_vp_20170120T2115Z_0xf3fc7b_148494821853.h5",
         ("seang", "vp", "2017", "01", "20", "21", "15")),
        ("baltrad/hdf5/searl/2016/12/31/searl_vp_20161231T2030Z_0x5_148321870475.h5",
         ("searl", "vp", "2016", "12", "31", "20", "30")),
        ("baltrad/hdf5/plrze/2020/10/27/plrze_vp_20201027T172000Z_0x9.h5",
         ("plrze", "vp", "2020", "10", "27", "17", "20")),
        ("uva/hdf5/2008/02/15/NLDBL_vp_20080215T0000_NL50_v0-3-20.h5",
         ("nldbl", "vp", "2008", "02", "15", "00", "00")),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(p,) for p, _ in cases], "path string")
    got = parse_odim_filename(df, F.col("path")).collect()
    by_path = {r["path"]: (r["radar_code"], r["data_type"], r["year"],
                           r["month"], r["day"], r["hour"], r["minute"])
               for r in got}
    for path, want in cases:
        assert by_path[path] == want, path
