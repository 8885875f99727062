"""Similarity operators: known-geometry vectors."""

from vptstools_spark.operators.similarity import (
    anchor_buckets,
    cosine_pairs_blocked,
    knn_bruteforce,
)

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    (4, [0.5, 0.5, 0.5, 0.5]),
]


def _emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_knn_ranks_by_cosine(spark):
    emb = _emb(spark)
    out = knn_bruteforce(emb, emb.filter("vec_id = 0"), k=4).collect()
    order = [r["n_id"] for r in sorted(out, key=lambda r: r["rnk"])]
    assert order == [1, 4, 2, 3]  # cos: 0.9939, 0.5, 0.0, -1.0
    cos = {r["n_id"]: r["cosine"] for r in out}
    assert cos[2] == 0.0 and cos[3] == -1.0


def test_cosine_pairs_threshold(spark):
    out = cosine_pairs_blocked(_emb(spark), threshold=0.9, n_blocks=2)
    pairs = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_anchor_buckets(spark):
    emb = _emb(spark)
    buckets = {r["id"]: r["bucket"] for r in
               anchor_buckets(emb, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]).collect()}
    assert buckets[0] == "10"   # positive on anchor0, zero (not >0) on anchor1
    assert buckets[2] == "01"
    assert buckets[3] == "00"
    assert buckets[4] == "11"


def test_knn_ivf_matches_bruteforce_in_probed_cells(spark):
    from vptstools_spark.operators.similarity import knn_ivf

    emb = _emb(spark)
    # Anchors = vec 0 and vec 2 directions: cells split {0,1,3} vs {2,4}
    # (vec 4 ties 0.5/0.5 — sort_array desc breaks ties by j, picks cell 1).
    anchors = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = knn_ivf(emb, emb.filter("vec_id = 0"), anchors, k=4, nprobe=2).collect()
    # nprobe=2 probes both cells -> identical to brute force here
    order = [r["n_id"] for r in sorted(out, key=lambda r: r["rnk"])]
    assert order == [1, 4, 2, 3]


def test_knn_ivf_nprobe1_prunes_far_cells(spark):
    from vptstools_spark.operators.similarity import knn_ivf

    emb = _emb(spark)
    anchors = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = knn_ivf(emb, emb.filter("vec_id = 0"), anchors, k=4, nprobe=1).collect()
    ids = {r["n_id"] for r in out}
    # Query 0 probes only its home cell; candidates limited to that cell.
    assert 1 in ids and 2 not in ids


def test_kmeans_fit_separates_clusters(spark):
    from vptstools_spark.operators.similarity import ivf_cells, kmeans_fit

    # two tight clusters on orthogonal axes; ids chosen so the deterministic
    # init (two lowest ids) starts with one point from each cluster
    pts = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.1, 0.9, 0.0, 0.0]),
        (4, [0.95, 0.05, 0.0, 0.0]),
        (5, [0.05, 0.95, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    cents = kmeans_fit(emb, k=2, iters=2)
    assert len(cents) == 2 and all(len(c) == 4 for c in cents)
    # cluster-0 centroid dominated by axis 0, cluster-1 by axis 1
    assert cents[0][0] > cents[0][1] and cents[1][1] > cents[1][0]
    cells = {
        r["id"]: r["cells"][0] for r in ivf_cells(emb, cents, nprobe=1).collect()
    }
    assert cells[0] == cells[2] == cells[4]
    assert cells[1] == cells[3] == cells[5]
    assert cells[0] != cells[1]


def test_knn_ivf_rerank_recovers_ivf_topk(spark):
    from vptstools_spark.operators.similarity import knn_ivf, knn_ivf_rerank

    emb = _emb(spark)
    anchors = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    q = emb.filter("vec_id = 0")
    base = {(r["q_id"], r["rnk"]): r["n_id"]
            for r in knn_ivf(emb, q, anchors, k=3, nprobe=2).collect()}
    rr = {(r["q_id"], r["rnk"]): r["n_id"]
          for r in knn_ivf_rerank(emb, q, anchors, k=3, nprobe=2, rerank=10).collect()}
    assert rr == base  # rerank >= candidate count -> identical result
    # tight shortlist still returns k ordered neighbors
    tight = knn_ivf_rerank(emb, q, anchors, k=2, nprobe=2, rerank=2).collect()
    assert [r["n_id"] for r in sorted(tight, key=lambda r: r["rnk"])] == [1, 4]


def test_pq_fit_encode_known_geometry(spark):
    """PQ on a 4-dim space split into 2 subspaces: each subspace has two
    obvious groups; codes must separate them and a numpy replica of the
    same fixed-init Lloyd rounds must produce identical codebooks."""
    import numpy as np

    from vptstools_spark.operators.similarity import pq_encode, pq_fit

    pts = [
        (0, [0.0, 0.0, 9.0, 9.0]),
        (1, [5.0, 5.0, 0.0, 0.0]),
        (2, [0.2, 0.1, 9.1, 8.9]),
        (3, [5.1, 4.9, 0.2, 0.1]),
        (4, [0.1, 0.2, 8.8, 9.2]),
        (5, [4.8, 5.2, 0.1, 0.3]),
    ]
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    books = pq_fit(emb, m=2, k=2, iters=2)

    # numpy replica: same init (first k by id), same 2 Lloyd rounds
    X = np.array([p[1] for p in pts], dtype=np.float64)
    for s in range(2):
        sub = X[:, s * 2 : (s + 1) * 2]
        C = sub[:2].copy()
        for _ in range(2):
            d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d.argmin(1)  # ties -> lowest index, same as the operator
            for j in range(2):
                if (a == j).any():
                    C[j] = sub[a == j].mean(0)
        assert np.allclose(np.array(books[s]), C), f"subspace {s} codebook"

    codes = {r.id: list(r.codes) for r in pq_encode(emb, books).collect()}
    # even ids cluster together in both subspaces, odd ids in the other
    assert codes[0] == codes[2] == codes[4]
    assert codes[1] == codes[3] == codes[5]
    assert codes[0] != codes[1]


def test_pq_fit_rejects_indivisible_dims(spark):
    from vptstools_spark.operators.similarity import pq_fit

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pq_fit(emb, m=2, k=1, iters=1)


def _synthetic_corpus(spark, n, dim=4):
    """Deterministic array<float> vectors from spark.range — no driver data."""
    from pyspark.sql import functions as F

    coords = [
        ((F.col("id") * (3 + i) + i) % 17).cast("float") for i in range(dim)
    ]
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*coords).alias("embedding")
    )


def test_adc_plan_constant_in_query_count(spark):
    """The ADC query side must be DATA (broadcast-joined LUTs), not plan
    literals: the optimized plan may not grow with the number of queries,
    and a 1,200-query batch must execute. Guards the scale contract of
    knn_pq_adc/knn_ivfpq (per-query F.when chains would blow up analysis
    at realistic online batch sizes)."""
    from vptstools_spark.operators.similarity import knn_pq_adc, pq_fit

    corpus = _synthetic_corpus(spark, 64)
    books = pq_fit(corpus, m=2, k=4, iters=1)

    def plan_len(queries_df):
        df = knn_pq_adc(corpus, queries_df, books, k=3)
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    small = plan_len(_synthetic_corpus(spark, 4))
    big = plan_len(_synthetic_corpus(spark, 1200))
    assert big <= small + 200, f"plan grew with query count: {small} -> {big}"

    out = knn_pq_adc(corpus, _synthetic_corpus(spark, 1200), books, k=3)
    assert out.groupBy("q_id").count().count() == 1200


def test_ivfpq_plan_constant_in_query_count(spark):
    from vptstools_spark.operators.similarity import kmeans_fit, knn_ivfpq, pq_fit

    corpus = _synthetic_corpus(spark, 64)
    books = pq_fit(corpus, m=2, k=4, iters=1)
    anchors = kmeans_fit(corpus, k=4, iters=1)

    def plan_len(queries_df):
        df = knn_ivfpq(corpus, queries_df, anchors, books, k=3, nprobe=2)
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    small = plan_len(_synthetic_corpus(spark, 4))
    big = plan_len(_synthetic_corpus(spark, 1000))
    assert big <= small + 200, f"plan grew with query count: {small} -> {big}"


def test_filtered_search_results_satisfy_predicate(spark):
    """Pre-filter semantics: every returned neighbor is an en-document,
    and every query still gets the full k results."""
    from vptstools_spark.analytics.similarity_q import K, N_QUERIES, q_ann_filtered

    res = q_ann_filtered(spark, "/root/testdata/sf0.001").collect()
    import duckdb

    en = {
        r[0]
        for r in duckdb.sql(
            "SELECT doc_id FROM '/root/testdata/sf0.001/documents.parquet' "
            "WHERE lang = 'en'"
        ).fetchall()
    }
    assert res, "filtered search returned nothing"
    assert all(r["n_id"] in en for r in res)
    per_q = {}
    for r in res:
        per_q.setdefault(r["q_id"], []).append(r["rnk"])
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, K + 1))
