"""Retrieval composition operators: reciprocal-rank fusion of heterogeneous
rankers and DSIR-style hashed importance weighting for data selection.

Both are engine extensions in the training-data-pipeline family (no
counterpart in the reference engine): rank fusion is how a corpus pipeline
combines lexical (BM25) and semantic (embedding) retrieval for dataset
curation / eval-set mining, and hashed importance resampling (Xie et al.,
"Data Selection for Language Models via Importance Resampling", NeurIPS
2023 — public paper) is the standard cheap proxy for selecting raw-corpus
documents that look like a high-quality target domain.

Scale shape (100 TB):
- RRF: each ranker's output is already top-N (tiny); the fusion is an
  N-row full-outer join — driver-free, broadcastable, constant cost
  regardless of corpus size.
- DSIR: the bucket table is O(B) (64 rows here) — a broadcast join against
  the exploded corpus; per-document weights are one groupBy(doc). No
  vocabulary-sized state, no model collect; the log-ratio table is DATA,
  not plan literals, so the plan is constant-size at any corpus/vocab.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion: score(d) = Σ_lists 1/(k + rank_list(d)).

    Each input is a (id, rank) top-N list; a document missing from a list
    contributes 0 for it. Output: (id, rrf) with rrf summed in list order
    (fixed evaluation order → reproducible doubles cross-engine).
    """
    scored = [
        df.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(k).cast("double") + F.col(rank_col).cast("double"))).alias(
                f"__s{i}"
            ),
        )
        for i, df in enumerate(rankings)
    ]
    fused = reduce(lambda a, b: a.join(b, id_col, "full_outer"), scored)
    total = reduce(
        lambda acc, i: acc + F.coalesce(F.col(f"__s{i}"), F.lit(0.0)),
        range(1, len(scored)),
        F.coalesce(F.col("__s0"), F.lit(0.0)),
    )
    return fused.select(id_col, total.alias("rrf"))


def token_buckets(text_col, buckets: int = 64):
    """Hashed-unigram bucket ids for every token of `text_col` — an array
    column; md5-derived so Spark and any SQL oracle agree bit-for-bit."""
    toks = F.filter(F.split(text_col, " "), lambda w: w != F.lit(""))
    return F.transform(
        toks,
        lambda w: F.conv(
            F.substring(F.md5(F.concat(F.lit("b#"), w)), 1, 4), 16, 10
        ).cast("long")
        % buckets,
    )


def dsir_weights(
    docs: DataFrame,
    target_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> DataFrame:
    """Per-document DSIR log importance weight: Σ_tokens lr(bucket(token)).

    Documents whose hashed unigram distribution looks like the target
    domain score high. The bucket table is broadcast; the corpus side is
    one explode + one groupBy(doc) — linear, shuffle on doc id only.
    Output: (id_col, weight DECIMAL) — exact, reorder-safe.

    Empty-text behavior: a document that yields ZERO tokens produces NO
    output row (the exploded-bucket join is inner), not a weight-0 row —
    an empty document has no evidence either way, and downstream selection
    treats absent as ineligible. Callers needing all-docs output should
    left-join from `docs` and coalesce the weight to 0.
    """
    # r10 single-pass restructure (guide §1/§2.2): the old shape tokenized
    # and md5-hashed the corpus THREE times (bucket counts, corpus totals,
    # per-doc weights). One explode now folds to per-(doc, bucket) token
    # counts — at most docs × buckets rows, lazily checkpointed so the
    # stats side and the weight side share the materialization within the
    # one action — and everything else is exact arithmetic on that table:
    # raw_b/tgt_b roll up over docs (is_tgt is constant per doc), totals
    # roll up over buckets, and the per-doc weight Σ_tokens lr(bucket)
    # regroups to Σ_buckets n·lr — DECIMAL products and sums, so the
    # regrouped sum is bit-identical to the token-order sum.
    dbk = (
        docs.select(
            F.col(id_col),
            target_pred.cast("int").alias("is_tgt"),
            F.explode(token_buckets(F.col(text_col), buckets)).alias("bucket"),
        )
        .groupBy(id_col, "is_tgt", "bucket")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    counts = dbk.groupBy("bucket").agg(
        F.sum("n").alias("raw_b"), F.sum(F.col("is_tgt") * F.col("n")).alias("tgt_b")
    )
    totals = counts.agg(
        F.sum("raw_b").alias("raw_tot"), F.sum("tgt_b").alias("tgt_tot")
    )
    bd = F.lit(float(buckets))
    lr = F.log(
        ((F.col("tgt_b") + 1).cast("double") * (F.col("raw_tot").cast("double") + bd))
        / (
            (F.col("raw_b") + 1).cast("double")
            * (F.col("tgt_tot").cast("double") + bd)
        )
    )
    lrs = counts.crossJoin(F.broadcast(totals)).select(
        "bucket", F.round(lr, 8).cast("decimal(20,8)").alias("lr")
    )
    # n is cast to DECIMAL(12,0) before the product: decimal(20,8) × a
    # bare bigint (decimal(20,0)) would need precision 41 and Spark's
    # precision-loss rule would round the product's scale down to 6 —
    # with 12 integral digits (per-doc per-bucket token counts are
    # bounded by document length) the product is decimal(33,8), exact.
    return (
        dbk.join(F.broadcast(lrs), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.col("lr") * F.col("n").cast("decimal(12,0)")
            ).alias("weight")
        )
    )
