"""One per-file failure policy for both ODIM faces, binaryFile
``read_vp_files`` and the ``odim`` DataSource: a day directory holding a
truncated and a random-bytes ``.h5`` next to good files written by the
benchmark's fleet writer, so it needs no reference fixtures."""

import datetime as dt
import os
import random

import numpy as np
import pytest

from tests.conftest import odim_fleet
from vptstools_spark.sources.odim import read_vp_files

FACES = ["read_vp_files", "odim"]


@pytest.fixture(scope="module")
def bad_day(spark, tmp_path_factory):
    """-> (fleet root, day directory, good file names, good files' rows)."""
    from vptstools_spark.sources.odim_datasource import OdimDataSource

    spark.dataSource.register(OdimDataSource)
    root = str(tmp_path_factory.mktemp("bad_day"))
    oracle = odim_fleet.write_fleet(root, seed=23, n_radars=1, days=[dt.date(2023, 6, 1)], per_day=4)
    ((rel, lines),) = oracle["days"].items()
    day = os.path.join(root, rel)
    good = sorted(os.listdir(day))
    with open(os.path.join(day, good[0]), "rb") as fh:
        content = fh.read()
    with open(os.path.join(day, "zz_truncated.h5"), "wb") as fh:
        fh.write(content[: len(content) // 2])
    with open(os.path.join(day, "zz_random.h5"), "wb") as fh:
        fh.write(random.Random(23).randbytes(len(content)))
    return root, day, good, len(lines)


def _scan(spark, face: str, root: str, day: str, on_error: str):
    if face == "read_vp_files":
        return read_vp_files(spark, day, on_error=on_error)
    return spark.read.format("odim").option("on_error", on_error).load(root)


def test_warn_skips_corrupt_files_in_both_faces_alike(spark, bad_day):
    root, day, good, n_rows = bad_day
    rows = {face: _scan(spark, face, root, day, "warn").collect() for face in FACES}
    for face in FACES:
        assert len(rows[face]) == n_rows, face
        assert {r["source_file"] for r in rows[face]} == set(good), face
        assert {os.path.basename(r["path"]) for r in rows[face]} == set(good), face
    # the faces spell a file's path differently (binaryFile gives a file: URI)
    got = {
        face: sorted(tuple(v for k, v in r.asDict().items() if k != "path") for r in rows[face])
        for face in FACES
    }
    assert got["read_vp_files"] == got["odim"]


@pytest.mark.parametrize("face", FACES)
def test_fail_aborts_on_corrupt_file(spark, bad_day, face):
    root, day, _good, _n = bad_day
    with pytest.raises(Exception, match="parse_odim_bytes"):
        _scan(spark, face, root, day, "fail").collect()


@pytest.mark.parametrize("face", FACES)
def test_unknown_on_error_is_rejected_at_plan_time(spark, bad_day, face):
    root, day, _good, _n = bad_day
    with pytest.raises(Exception, match="on_error must be one of"):
        _scan(spark, face, root, day, "skip")


def test_malformed_date_fails_the_file_under_the_policy():
    """A VP file whose what/date does not parse as %Y%m%d is one failed file:
    skipped with a warning under warn, raised under fail."""
    from vptstools_spark.sources.odim import decode_files

    radar = odim_fleet.Radar("nosta", random.Random(5))
    profile = odim_fleet._profile(np.random.default_rng(5))
    good = odim_fleet.vp_file_bytes(radar, dt.datetime(2023, 6, 1, 12, 0), profile)
    bad = good.replace(b"20230601", b"2023xx01")
    assert bad != good
    files = [("good.h5", lambda: good), ("bad.h5", lambda: bad)]
    with pytest.warns(UserWarning, match="bad.h5"):
        (batch,) = decode_files(files, "warn")
    assert set(batch.column("source_file").to_pylist()) == {"good.h5"}
    with pytest.raises(ValueError, match="2023xx01"):
        list(decode_files(files, "fail"))
