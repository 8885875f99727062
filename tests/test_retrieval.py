"""RRF fusion + DSIR importance weighting (operators/retrieval.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vptstools_spark.operators.retrieval import (
    dsir_weights,
    rrf_fuse,
)


def test_rrf_fuse_math(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank int")
    got = {r["doc_id"]: r["rrf"] for r in rrf_fuse([a, b], k=60).collect()}
    assert got[1] == pytest.approx(1 / 61)
    assert got[2] == pytest.approx(1 / 62 + 1 / 61)  # in both lists
    assert got[3] == pytest.approx(1 / 62)  # only list b


def test_rrf_three_lists(spark):
    lists = [
        spark.createDataFrame([(7, 1)], "doc_id long, rank int") for _ in range(3)
    ]
    got = rrf_fuse(lists, k=10).collect()
    assert len(got) == 1
    assert got[0]["rrf"] == pytest.approx(3 / 11)


DOCS = [
    (0, "alpha alpha beta", "en"),
    (1, "alpha beta beta", "en"),
    (2, "gamma gamma delta", "fr"),
    (3, "alpha beta gamma", "fr"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def test_dsir_weights_favor_target_tokens(spark, docs):
    # target = en docs (alpha/beta heavy); doc 2 (gamma/delta only) must
    # rank strictly below doc 0 and doc 1
    w = {r["doc_id"]: float(r["weight"]) for r in
         dsir_weights(docs, F.col("lang") == "en", buckets=64).collect()}
    assert len(w) == 4
    assert w[2] < w[0] and w[2] < w[1]


def test_dsir_matches_python_replica(spark, docs):
    # replicate the smoothed log-ratio math in plain python over the same
    # md5 buckets the operator computes
    import hashlib

    def bucket(tok):
        return int(hashlib.md5(f"b#{tok}".encode()).hexdigest()[:4], 16) % 64

    raw, tgt = {}, {}
    per_doc = {}
    for doc_id, text, lang in DOCS:
        toks = [t for t in text.split() if t]
        per_doc[doc_id] = [bucket(t) for t in toks]
        for b in per_doc[doc_id]:
            raw[b] = raw.get(b, 0) + 1
            if lang == "en":
                tgt[b] = tgt.get(b, 0) + 1
    raw_tot, tgt_tot = sum(raw.values()), sum(tgt.values())
    lr = {
        b: round(
            math.log(
                ((tgt.get(b, 0) + 1) * (raw_tot + 64.0))
                / ((raw[b] + 1) * (tgt_tot + 64.0))
            ),
            8,
        )
        for b in raw
    }
    want = {d: round(sum(lr[b] for b in bs), 8) for d, bs in per_doc.items()}
    got = {r["doc_id"]: round(float(r["weight"]), 8) for r in
           dsir_weights(docs, F.col("lang") == "en", buckets=64).collect()}
    assert got == pytest.approx(want)
