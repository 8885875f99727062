"""Structured-Streaming incrementality (availableNow + foreachBatch overwrite)."""

import datetime
import glob
import os

import pytest

from tests.conftest import make_profile_record
from vptstools_spark.schemas import STATE_VALUE
from vptstools_spark.sources.odim import profiles_from_records
from vptstools_spark.streaming.incremental import (
    incremental_vpts_sink,
    stream_profiles,
)


@pytest.fixture()
def landing(spark, tmp_path):
    recs = [
        make_profile_record(
            ts=datetime.datetime(2023, 3, 11, 23, 15),
            height=h,
            u=float(h),
            u_state=STATE_VALUE,
        )
        for h in (0, 200, 400)
    ]
    path = str(tmp_path / "landing")
    profiles_from_records(spark, recs).write.parquet(path)
    return path


def test_available_now_vpts_sink(spark, landing, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_vpts_sink(stream_profiles(spark, landing), out, ckpt)
    q.awaitTermination(120)
    files = glob.glob(os.path.join(out, "p_radar=nosta", "p_date=20230311", "*.csv"))
    assert files
    lines = open(files[0]).read().splitlines()
    assert len(lines) == 4  # header + 3 levels
    # heights ascend numerically within the partition file
    heights = [int(ln.split(",")[2]) for ln in lines[1:]]
    assert heights == sorted(heights)

    # re-run with same checkpoint: no new data → no change (idempotent)
    q2 = incremental_vpts_sink(stream_profiles(spark, landing), out, ckpt)
    q2.awaitTermination(120)
    assert glob.glob(os.path.join(out, "p_radar=nosta", "p_date=20230311", "*.csv"))


def test_stream_is_streaming(spark, landing):
    assert stream_profiles(spark, landing).isStreaming
