"""Vendored frictionless Table Schema ↔ engine rule parity (VERDICT r6
#7): the no-network equivalent of the reference's remote-descriptor
validation (src/vptstools/vpts.py:297-343). Drift in a future VPTS CSV
version must be caught mechanically, not discovered as silent
under-validation."""

import copy

import pytest

from vptstools_spark.operators.vpts import (
    check_descriptor_parity,
    load_vendored_descriptor,
    validate_vpts,
)


def test_vendored_descriptor_matches_engine_rules():
    assert check_descriptor_parity() == []


def test_parity_catches_rebounded_constraint():
    d = copy.deepcopy(load_vendored_descriptor())
    for f in d["fields"]:
        if f["name"] == "dd":
            f["constraints"]["maximum"] = 720  # a hypothetical v2 change
    problems = check_descriptor_parity(d)
    assert any("dd" in p and "maximum" in p for p in problems)


def test_parity_catches_new_and_missing_fields():
    d = copy.deepcopy(load_vendored_descriptor())
    d["fields"].append({"name": "dens_all", "type": "number"})
    problems = check_descriptor_parity(d)
    assert any("dens_all" in p for p in problems)
    d2 = copy.deepcopy(load_vendored_descriptor())
    d2["fields"] = [f for f in d2["fields"] if f["name"] != "eta"]
    problems2 = check_descriptor_parity(d2)
    assert any("eta" in p for p in problems2)


def test_parity_catches_type_required_and_missingvalues_drift():
    d = copy.deepcopy(load_vendored_descriptor())
    for f in d["fields"]:
        if f["name"] == "height":
            f["type"] = "number"
            f["constraints"].pop("required", None)
        if f["name"] == "u":
            f.pop("missingValues", None)  # u no longer NaN-able
    problems = check_descriptor_parity(d)
    assert any("height" in p and "type" in p for p in problems)
    assert any("height" in p and "required" in p for p in problems)
    assert any("NaN-missing" in p for p in problems)


def test_validate_vpts_refuses_drifted_descriptor(spark):
    from tests.conftest import make_profile_record
    from vptstools_spark.operators.vpts import to_vpts_table
    from vptstools_spark.sources.odim import profiles_from_records

    df = to_vpts_table(
        profiles_from_records(spark, [make_profile_record(height=0)])
    )
    # the pristine vendored descriptor passes through to a clean validate
    ok = validate_vpts(df, descriptor=load_vendored_descriptor())
    assert ok.collect() == []
    bad = copy.deepcopy(load_vendored_descriptor())
    bad["fields"][2]["constraints"]["minimum"] = 100  # height >= 100
    with pytest.raises(ValueError, match="does not match"):
        validate_vpts(df, descriptor=bad)
