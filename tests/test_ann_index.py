"""Persisted IVF+PQ index: build → search must equal the inline operator
exactly, and the search scan must prune to the probed cells at planning
time."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F


def _corpus(spark, n=64, dim=4):
    coords = [((F.col("id") * (3 + i) + i) % 17).cast("float") for i in range(dim)]
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*coords).alias("embedding")
    )


def test_index_search_equals_inline_ivfpq(spark, tmp_path):
    from vptstools_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from vptstools_spark.operators.similarity import kmeans_fit, knn_ivfpq, pq_fit

    corpus = _corpus(spark)
    queries = _corpus(spark, n=8)
    anchors = kmeans_fit(corpus, k=4, iters=1)
    books = pq_fit(corpus, m=2, k=4, iters=1)

    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(corpus, path, anchors, books)

    inline = knn_ivfpq(corpus, queries, anchors, books, k=3, nprobe=2).collect()
    persisted = search_ivfpq_index(spark, path, queries, k=3, nprobe=2).collect()
    assert sorted(map(tuple, persisted)) == sorted(map(tuple, inline))


def test_index_scan_prunes_unprobed_cells(spark, tmp_path):
    from vptstools_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from vptstools_spark.operators.similarity import kmeans_fit, pq_fit

    corpus = _corpus(spark, n=200)
    anchors = kmeans_fit(corpus, k=8, iters=1)
    books = pq_fit(corpus, m=2, k=4, iters=1)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(corpus, path, anchors, books)
    assert len(glob.glob(f"{path}/index/cell=*")) >= 4  # multiple partitions

    one_query = _corpus(spark, n=1)
    df = search_ivfpq_index(spark, path, one_query, k=3, nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the literal isin(cell, ...) must reach the scan as a partition filter
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:160]
    assert "cell" in pf and "IN" in pf.upper(), pf
    assert df.count() == 3
