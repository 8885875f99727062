"""Core VPTS pipeline invariants (reference: tests/test_vpts.py layers 2-3)."""

import datetime
import glob
import os

import pytest

from tests.conftest import make_profile_record
from vptstools_spark.operators.vpts import (
    resolve_source_file,
    sort_vpts,
    to_vpts_table,
    validate_vpts,
    vp,
    vpts_to_csv,
)
from vptstools_spark.schemas import (
    STATE_NODATA,
    STATE_UNDETECT,
    STATE_VALUE,
    VPTS_CSV_V1,
)
from vptstools_spark.sources.odim import profiles_from_records


@pytest.fixture(scope="module")
def vpts_df(spark):
    recs = [
        make_profile_record(height=0, gap=True),
        make_profile_record(height=600, u=None, u_state=STATE_UNDETECT),
        make_profile_record(
            height=800,
            u=2.498448133468628,
            u_state=STATE_VALUE,
            source_file="nosta_vp_20230311T232500Z_0xb.h5",
            ts=datetime.datetime(2023, 3, 11, 23, 25),
        ),
        # duplicate key (radar, datetime, height), distinct source_file
        make_profile_record(
            height=800,
            u=1.5,
            u_state=STATE_VALUE,
            source_file="nosta_vp_20230311T232500Z_0xa.h5",
            ts=datetime.datetime(2023, 3, 11, 23, 25),
        ),
    ]
    return to_vpts_table(profiles_from_records(spark, recs))


def test_column_order(vpts_df):
    # reference: tests/test_vpts.py:75-82
    assert tuple(vpts_df.columns) == VPTS_CSV_V1.columns


def test_all_string_rendering(vpts_df):
    # serialized form is all-string (reference: tests/test_vpts.py:66-73);
    # internal typing is Spark's business, the sink schema is the contract
    assert all(f.dataType.typeName() == "string" for f in vpts_df.schema.fields)


def test_tristate_rendering(vpts_df):
    # reference: tests/test_vpts.py:109-139 — "" = nodata, "NaN" = undetect
    rows = {(r["height"], r["source_file"]): r for r in vpts_df.collect()}
    assert rows[("0", "nosta_vp_20230311T231500Z_0xb.h5")]["u"] == ""
    assert rows[("600", "nosta_vp_20230311T231500Z_0xb.h5")]["u"] == "NaN"
    assert rows[("800", "nosta_vp_20230311T232500Z_0xb.h5")]["u"] == "2.498448133468628"


def test_duplicates_preserved(vpts_df):
    # reference: tests/test_vpts.py:84-91 — no implicit dedup
    dups = [r for r in vpts_df.collect() if r["height"] == "800"]
    assert len(dups) == 2
    assert {r["source_file"] for r in dups} == {
        "nosta_vp_20230311T232500Z_0xa.h5",
        "nosta_vp_20230311T232500Z_0xb.h5",
    }


def test_sort_order_and_idempotence(vpts_df):
    # reference: tests/test_vpts.py:93-107 — height compared as int;
    # re-sorting is a no-op
    rows = vpts_df.collect()
    keys = [(r["radar"], r["datetime"], int(r["height"]), r["source_file"]) for r in rows]
    assert keys == sorted(keys)
    rows2 = sort_vpts(vpts_df, VPTS_CSV_V1).collect()
    assert rows == rows2


def test_gap_and_vcp_rendering(vpts_df):
    rows = {(r["height"], r["source_file"]): r for r in vpts_df.collect()}
    assert rows[("0", "nosta_vp_20230311T231500Z_0xb.h5")]["gap"] == "TRUE"
    assert rows[("600", "nosta_vp_20230311T231500Z_0xb.h5")]["gap"] == "FALSE"
    # vcp 'NULL' → nodata ""
    assert rows[("0", "nosta_vp_20230311T231500Z_0xb.h5")]["vcp"] == ""


def test_metadata_rendering(vpts_df):
    r = vpts_df.collect()[0]
    assert r["radar_latitude"] == "62.187076"
    assert r["radar_longitude"] == "5.127454"
    assert r["radar_height"] == "506"
    assert r["radar_wavelength"] == "5.3"
    assert r["datetime"].endswith("Z") and "T" in r["datetime"]


def test_validate_clean(vpts_df):
    assert validate_vpts(vpts_df).collect() == []


def test_validate_flags_bad_source_file(spark):
    recs = [make_profile_record(source_file="../evil.h5")]
    df = to_vpts_table(profiles_from_records(spark, recs))
    rules = {r["rule"] for r in validate_vpts(df).collect()}
    assert "source_file_safe" in rules


def test_csv_sink_golden_format(tmp_path, vpts_df):
    # golden-row format parity with FIXTURES.md §2 example rows
    out = str(tmp_path / "daily.csv")
    vpts_to_csv(vpts_df, out)
    lines = open(out).read().splitlines()
    assert lines[0].startswith("radar,datetime,height,u,v,w,ff,dd,sd_vvp,gap,")
    assert lines[1] == (
        "nosta,2023-03-11T23:15:00Z,0,,,,,,,TRUE,,,,,0,0,0,0,"
        "11.0,2.0,,62.187076,5.127454,506,5.3,nosta_vp_20230311T231500Z_0xb.h5"
    )
    assert len(lines) == 5


def test_empty_input(spark):
    df = to_vpts_table(profiles_from_records(spark, []))
    assert df.count() == 0
    assert tuple(df.columns) == VPTS_CSV_V1.columns


def _named_transform(path):
    return "renamed_" + os.path.basename(path)


def test_resolve_source_file_default_and_callable():
    # reference: src/vptstools/vpts.py:189-220 (P16)
    assert resolve_source_file("/a/b/file.h5", None) == "file.h5"
    assert resolve_source_file("/a/b/file.h5", "fixed.h5") == "fixed.h5"
    assert resolve_source_file("/a/b/file.h5", _named_transform) == "renamed_file.h5"


def test_resolve_source_file_rejects_lambda():
    # reference: src/vptstools/vpts.py:237-239 (pickling constraint)
    with pytest.raises(ValueError, match="lambda"):
        resolve_source_file("x.h5", lambda p: p)


def test_vp_source_file_callable_renames_column(spark, vp_fleet):
    """vp() applies a named source_file callable to the file's path; the
    default is the file's basename."""
    path = sorted(glob.glob(os.path.join(vp_fleet.path, "**", "*.h5"), recursive=True))[0]
    name = os.path.basename(path)
    renamed = vp(spark, path, source_file=_named_transform).select("source_file").collect()
    assert renamed and {r.source_file for r in renamed} == {f"renamed_{name}"}
    assert {r.source_file for r in vp(spark, path).select("source_file").collect()} == {name}


def test_daily_plan_runs_no_python_past_the_decode(spark, vp_fleet):
    """The VPTS projection over decoded ODIM files is Catalyst only: the
    double cells arrive rendered, so no Arrow UDF re-enters Python."""
    from vptstools_spark.plans.asserts import python_eval_nodes
    from vptstools_spark.sources.odim import read_vp_files

    assert python_eval_nodes(to_vpts_table(read_vp_files(spark, vp_fleet.scan))) == {}


#: VALUE-state float32 cells and their VPTS CSV text: CPython repr of the
#: float32 widened to double, "" for NaN (the reference's na_rep)
EDGE_CELLS = [
    (float("nan"), ""),
    (float("inf"), "inf"),
    (-0.0, "-0.0"),
    (1e-5, "9.999999747378752e-06"),
    (5e-4, "0.0005000000237487257"),
    (1e16, "1.0000000272564224e+16"),
]


def test_edge_values_render_alike_through_both_producers(spark, tmp_path, monkeypatch):
    """The same VALUE-state edge cells, given as record floats
    (profiles_from_records) and as decoded ODIM bytes (parse_odim_bytes),
    publish the same CSV text."""
    import random

    import numpy as np

    from tests.conftest import odim_fleet
    from vptstools_spark.schemas import profile_long_schema
    from vptstools_spark.sources.odim import parse_odim_bytes

    values = [float(np.float32(v)) for v, _ in EDGE_CELLS]
    recs = [
        make_profile_record(height=200 * i, u=v, u_state=STATE_VALUE, source_file="records.h5")
        for i, v in enumerate(values)
    ]
    # an ODIM file whose u array holds the edge values as stored float32:
    # gain 1 and offset -0.0 decode every raw value, -0.0 included, to
    # itself, and no edge value is a sentinel
    n = odim_fleet.N_LEVELS
    profile = {q: np.zeros(n) for q, _ in odim_fleet.QUANTITIES}
    profile["HGHT"] = np.arange(n, dtype=np.float64) * odim_fleet.INTERVAL
    profile["u"][: len(values)] = values
    raw = odim_fleet._raw
    monkeypatch.setitem(odim_fleet.DECODE, "f", (1.0, -0.0, -1000.0, -1001.0))
    monkeypatch.setattr(
        odim_fleet,
        "_raw",
        lambda kind, d: d.astype(np.float32).reshape(n, 1) if kind == "f" else raw(kind, d),
    )
    radar = odim_fleet.Radar("nosta", random.Random(0))
    content = odim_fleet.vp_file_bytes(radar, datetime.datetime(2023, 3, 11, 23, 15), profile)
    decoded = parse_odim_bytes("decoded.h5", content)[: len(values)]
    profiles = profiles_from_records(spark, recs).unionByName(
        spark.createDataFrame(decoded, schema=profile_long_schema())
    )
    out = str(tmp_path / "edge.csv")
    vpts_to_csv(to_vpts_table(profiles).select("source_file", "height", "u"), out)
    cells: dict[str, list[str]] = {}
    for line in open(out).read().splitlines()[1:]:
        source, _height, u = line.split(",")
        cells.setdefault(source, []).append(u)
    want = [text for _, text in EDGE_CELLS]
    assert cells == {"records.h5": want, "decoded.h5": want}
