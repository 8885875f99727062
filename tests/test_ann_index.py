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


def _mark_appended(spark, path, n_base, n_appended):
    """Sidecar state of an index whose last `n_appended` vectors were
    encoded with a model fitted on the first `n_base`."""
    from vptstools_spark.operators.ann_index import _read_model, _write_model

    model = _read_model(spark, path)
    _write_model(spark, path, {**model, "n_base": n_base, "n_appended": n_appended})


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


def test_optimize_table_auto_rebuilds_stale_ann_index(spark, tmp_path):
    """VERDICT r4 #6: vectors encoded with a frozen model push
    stale_fraction over the threshold → optimize_table re-fits + rebuilds
    and search equals a fresh full build; below threshold → index
    untouched (no-op)."""
    from vptstools_spark.operators.ann_index import (
        build_ivfpq_index,
        index_stale_fraction,
        search_ivfpq_index,
    )
    from vptstools_spark.operators.similarity import kmeans_fit, pq_fit
    from vptstools_spark.plans.maintenance import optimize_table

    full = _corpus(spark, n=96)
    base = full.filter(F.col("vec_id") < 64)
    queries = _corpus(spark, n=6)
    anchors = kmeans_fit(base, k=4, iters=1)
    books = pq_fit(base, m=2, k=4, iters=1)

    # a tiny plain table for the compaction stages of optimize_table
    tbl = str(tmp_path / "tbl")
    spark.range(100).withColumn("day", F.lit(1)).write.partitionBy("day").parquet(tbl)

    idx = str(tmp_path / "idx")
    build_ivfpq_index(base, idx, anchors, books)

    # fresh index: 0% stale -> maintenance must NOT rebuild
    before = sorted(
        map(tuple, search_ivfpq_index(spark, idx, queries, k=3, nprobe=2).collect())
    )
    rep = optimize_table(
        spark, tbl, ["day"], ["id"], ann_index_path=idx, ann_vectors=base
    )
    assert rep["ann"] == {"stale_fraction": 0.0, "rebuilt": False}
    after = sorted(
        map(tuple, search_ivfpq_index(spark, idx, queries, k=3, nprobe=2).collect())
    )
    assert after == before

    # a third of the corpus encoded with the base model -> 33% stale ->
    # rebuild at 20% threshold
    build_ivfpq_index(full, idx, anchors, books)
    _mark_appended(spark, idx, 64, 32)
    stale = index_stale_fraction(spark, idx)
    assert stale == 32 / 96
    rep = optimize_table(
        spark, tbl, ["day"], ["id"], ann_index_path=idx, ann_vectors=full
    )
    assert rep["ann"]["rebuilt"] and rep["ann"]["stale_fraction"] == stale
    assert index_stale_fraction(spark, idx) == 0.0

    # rebuilt index == a from-scratch same-hyperparameter build over full
    fresh = str(tmp_path / "fresh")
    anchors2 = kmeans_fit(full, k=4, iters=3)
    books2 = pq_fit(full, m=2, k=4, iters=2)
    build_ivfpq_index(full, fresh, anchors2, books2)
    got = sorted(
        map(tuple, search_ivfpq_index(spark, idx, queries, k=3, nprobe=2).collect())
    )
    want = sorted(
        map(tuple, search_ivfpq_index(spark, fresh, queries, k=3, nprobe=2).collect())
    )
    assert got == want


def test_optimize_table_stale_without_corpus_raises(spark, tmp_path):
    import pytest

    from vptstools_spark.operators.ann_index import build_ivfpq_index
    from vptstools_spark.operators.similarity import kmeans_fit, pq_fit
    from vptstools_spark.plans.maintenance import optimize_table

    base = _corpus(spark, n=32)
    anchors = kmeans_fit(base, k=4, iters=1)
    books = pq_fit(base, m=2, k=4, iters=1)
    idx = str(tmp_path / "idx")
    build_ivfpq_index(base, idx, anchors, books)
    _mark_appended(spark, idx, 32, 32)
    tbl = str(tmp_path / "tbl")
    spark.range(10).withColumn("day", F.lit(1)).write.partitionBy("day").parquet(tbl)
    with pytest.raises(ValueError, match="stale"):
        optimize_table(spark, tbl, ["day"], ["id"], ann_index_path=idx)
