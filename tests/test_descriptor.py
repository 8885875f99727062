"""The vendored frictionless Table Schema is the one statement of the VPTS
CSV v1.0 columns: the spec derives its column facts from it and
``validate_vpts`` its rules, as the reference validates against the
published descriptor (src/vptstools/vpts.py:297-343)."""

import copy
import re

from tests.conftest import make_profile_record
from vptstools_spark.operators.vpts import to_vpts_table, validate_vpts
from vptstools_spark.schemas import (
    V1_QUANTITIES,
    VPTS_CSV_V1,
    load_vendored_descriptor,
    profile_long_schema,
)
from vptstools_spark.sources.odim import profiles_from_records


def test_tri_state_columns_are_the_profiles_flagged_quantities():
    """The schema's NaN-missing fields are exactly the profile columns that
    carry a ``__state`` flag, in the quantities' order."""
    flagged = {f.name.removesuffix("__state") for f in profile_long_schema().fields if f.name.endswith("__state")}
    quantities = [col for col, _t in V1_QUANTITIES.values() if col in flagged]
    assert list(VPTS_CSV_V1.measurement_columns) == quantities
    guard = re.compile(VPTS_CSV_V1.source_file_regex)
    assert guard.match("bejab_vp_20221111T233000Z_0x9.h5")
    assert not any(guard.match(p) for p in ("../evil.h5", "/etc/passwd", "a/../b.h5"))


def test_validate_vpts_checks_a_supplied_descriptor(spark):
    """A caller's descriptor is validated against, not compared with the
    vendored one: a re-bounded ``height`` flags the row it excludes, and a
    field the frame lacks fires ``columns_present``."""
    df = to_vpts_table(
        profiles_from_records(spark, [make_profile_record(height=h) for h in (0, 200)])
    )
    assert validate_vpts(df, descriptor=load_vendored_descriptor()).collect() == []
    bounded = copy.deepcopy(load_vendored_descriptor())
    (height,) = (f for f in bounded["fields"] if f["name"] == "height")
    height["constraints"]["minimum"] = 100
    got = {r["rule"]: r["n_violations"] for r in validate_vpts(df, descriptor=bounded).collect()}
    assert got == {"height_range": 1}
    bounded["fields"].append({"name": "dens_all", "type": "number"})
    got = {r["rule"]: r["n_violations"] for r in validate_vpts(df, descriptor=bounded).collect()}
    assert got == {"height_range": 1, "columns_present": 2}
