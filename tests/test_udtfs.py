"""UDTF SQL faces pinned to their all-JVM / Arrow fast paths."""

from __future__ import annotations

import glob

import pytest

VP_DIR = "/root/reference/tests/data/vp"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from vptstools_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)


def test_chunk_text_matches_jvm_operator(spark):
    from vptstools_spark.operators.pretrain import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a" * 450), (2, "xy"), (3, "")], "doc_id long, text string"
    )
    docs.createOrReplaceTempView("udtf_docs")
    via_sql = spark.sql(
        "SELECT d.doc_id, c.chunk_id, c.chunk_start, c.chunk_text "
        "FROM udtf_docs d, LATERAL chunk_text(d.text, 200, 150) c"
    )
    via_op = chunk_documents(docs, chunk_size=200, stride=150)
    assert sorted(map(tuple, via_sql.collect())) == sorted(map(tuple, via_op.collect()))


def test_parse_odim_matches_datasource(spark, vp_case):
    from vptstools_spark.sources.odim_datasource import OdimDataSource

    spark.dataSource.register(OdimDataSource)
    files = sorted(glob.glob(f"{vp_case.path}/**/*.h5", recursive=True))
    spark.createDataFrame([(p,) for p in files], "path string").createOrReplaceTempView(
        "udtf_files"
    )
    via_sql = spark.sql("SELECT p.* FROM udtf_files f, LATERAL parse_odim(f.path) p")
    via_ds = spark.read.format("odim").load(vp_case.path)
    assert via_sql.schema == via_ds.schema  # nullability included
    key = ["source_file", "ts", "height"]
    a = sorted(map(tuple, via_sql.select(*key).collect()))
    b = sorted(map(tuple, via_ds.select(*key).collect()))
    assert a == b and len(a) == sum(vp_case.radar_rows.values())
