"""Byte-level pieces of the pure-Python HDF5 reader (sources/hdf5.py),
checked against hand-built messages laid out as in the HDF5 File Format
Specification 3.0 and against the seeded fleet's files (no h5py, no
reference fixtures)."""

import glob
import os
import struct

from vptstools_spark.sources.hdf5 import _File, _read_filters

#: shuffle (4-byte elements), deflate level 6, and a registered third-party
#: filter (id >= 256, so it carries a name even in a version-2 message)
EXPECTED = [(2, (4,)), (1, (6,)), (300, (1, 2))]


def _at(message: bytes) -> _File:
    f = _File.__new__(_File)  # only the byte cursor is needed
    f.data = message
    return f


def test_filter_pipeline_v1_and_v2_parse_alike():
    # v1: 8-byte header; every entry has Name Length, names padded to 8,
    # client data padded to an even count
    v1 = struct.pack("<BB6x", 1, 3)
    v1 += struct.pack("<HHHHI4x", 2, 0, 1, 1, 4)
    v1 += struct.pack("<HHHH", 1, 8, 0, 1) + b"deflate\0" + struct.pack("<I4x", 6)
    v1 += struct.pack("<HHHH", 300, 7, 1, 2) + b"custom\0\0" + struct.pack("<II", 1, 2)
    # v2: 2-byte header; ids < 256 have no Name Length (6-byte entry
    # header), names are not padded, client data is not padded
    v2 = struct.pack("<BB", 2, 3)
    v2 += struct.pack("<HHHI", 2, 1, 1, 4)
    v2 += struct.pack("<HHHI", 1, 0, 1, 6)
    v2 += struct.pack("<HHHH", 300, 7, 1, 2) + b"custom\0" + struct.pack("<II", 1, 2)

    assert _read_filters(_at(v1), 0) == EXPECTED
    assert _read_filters(_at(v2), 0) == EXPECTED
    # at an offset inside a larger buffer, as in an object header
    assert _read_filters(_at(b"\xff" * 5 + v2), 5) == EXPECTED


def test_membership_answers_from_the_link_table(vp_fleet, monkeypatch):
    """``name in group`` reads the group's own link table: a top-level test
    builds no child group, and nested paths resolve as lookups do."""
    from vptstools_spark.sources import hdf5

    path = sorted(glob.glob(os.path.join(vp_fleet.scan[0], "*.h5")))[0]
    with open(path, "rb") as fh:
        f = hdf5.H5File(fh.read())

    def no_child(*_):
        raise AssertionError("a membership test built a child group")

    with monkeypatch.context() as m:
        m.setattr(hdf5, "_read_messages", no_child)
        assert "what" in f and "/dataset1" in f and "where/" in f
        assert "nope" not in f
    assert "dataset1/data1/what" in f and "/dataset1/data1/data" in f
    assert "dataset1/nope" not in f and "nope/what" not in f
    assert "dataset1/data1/data/x" not in f  # nothing lies below a dataset
    assert f["dataset1/data1"]["what"].attrs == f["dataset1/data1/what"].attrs
