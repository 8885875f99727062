"""End-to-end corpus curation pipeline: the composition a pretraining-data
user actually runs, assembled from the engine's own stages —

    language filter → quality filter → exact dedup → MinHash-LSH near-dedup
    (candidate pairs → connected components → cluster survivors)

`curate_corpus` returns BOTH the cleaned corpus and a per-stage funnel
report (stage, n_docs, n_dropped), because at 100 TB the report is how you
notice a mis-tuned threshold before burning a cluster-day: every stage
count is a cheap aggregate over the stage's (lazy) frame.

Scale shape: the filters are narrow JVM expressions inside the scan; exact
dedup is one hash window (md5 partitions); near-dedup is the banding
equi-join + O(diameter) component rounds from `operators/dedup.py` /
`operators/graph.py` — no stage is quadratic in the corpus. The survivor
frame after exact dedup is localCheckpoint'ed because three downstream
consumers (shingling, the survivor anti-join, the report count) would
otherwise each re-run the filter+window prefix.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window, functions as F

from vptstools_spark.operators.dedup import (
    lsh_candidates,
    minhash_signatures,
    observed_counts,
    shingles,
)
from vptstools_spark.operators.graph import connected_components
from vptstools_spark.operators.text import predict_language, quality_features


@dataclass(frozen=True)
class CurationConfig:
    keep_langs: tuple[str, ...] = ("en",)
    min_stopword_ratio: float = 0.0
    max_avg_word_len: float = 12.0
    shingle_k: int = 3
    num_hashes: int = 8
    rows_per_band: int = 2


def curate_corpus(
    docs: DataFrame,
    cfg: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Run the curation funnel over `docs` (needs `n_chars` for the quality
    features, like the harness documents table).

    Returns (clean_docs, report). Survivor selection is deterministic
    everywhere: exact dedup keeps the smallest id per md5(text); near-dedup
    keeps the smallest id per duplicate component (the component label IS
    the min reachable id).
    """
    text, did = F.col(text_col), F.col(id_col)

    # The first three funnel counts are per-row predicates over the RAW
    # corpus (quality only counts inside language survivors — filters are
    # cumulative). r9 (guide §1.3/§2.2 — don't re-scan for metrics): they
    # ride the d_exact build as an Observation BELOW the filters, so the
    # eager checkpoint's one corpus pass yields them as accumulator
    # side-output — the separate conditional-aggregate scan (which
    # re-evaluated the regex-heavy language/quality predicates over every
    # raw row) is gone.
    lang_ok = predict_language(text).isin(list(cfg.keep_langs))
    feats = quality_features(text, F.length(text))
    qual_pred = (feats["stopword_ratio"] >= cfg.min_stopword_ratio) & (
        feats["avg_word_len"] <= cfg.max_avg_word_len
    )
    qual_ok = lang_ok & qual_pred
    obs = Observation()
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(lang_ok, 1).otherwise(0)).alias("n_lang"),
        F.sum(F.when(qual_ok, 1).otherwise(0)).alias("n_qual"),
    )

    d_lang = observed.filter(lang_ok)
    d_qual = d_lang.filter(qual_pred)

    w = Window.partitionBy(F.md5(text)).orderBy(did.asc())
    d_exact = (
        d_qual.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=True)
    )

    sh = shingles(d_exact, text_col=text_col, id_col=id_col, k=cfg.shingle_k)
    sigs = minhash_signatures(sh, cfg.num_hashes)
    pairs = lsh_candidates(sigs, cfg.num_hashes, cfg.rows_per_band)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    clean = d_exact.join(losers, id_col, "left_anti")

    # The raw-corpus funnel counts were collected by the Observation
    # during the d_exact checkpoint above (obs.get blocks until that
    # action's metrics arrive — it already ran). An empty corpus yields
    # zeros. The 1-row head frame is built JVM-side (range), never via
    # createDataFrame's pickled partitions.
    m = observed_counts(obs, ["n_input", "n_lang", "n_qual"])
    n_input, n_lang, n_qual = m["n_input"], m["n_lang"], m["n_qual"]
    head = docs.sparkSession.range(0, 1, 1, 1).select(
        F.expr(
            f"stack(3, 0, 'input', CAST({n_input} AS BIGINT), "
            f"1, 'lang_filter', CAST({n_lang} AS BIGINT), "
            f"2, 'quality_filter', CAST({n_qual} AS BIGINT)) "
            "AS (stage_ord, stage, n_docs)"
        )
    )
    report = head
    for i, (name, frame) in enumerate(
        [("exact_dedup", d_exact), ("near_dedup", clean)], start=3
    ):
        row = frame.agg(F.count("*").alias("n_docs")).select(
            F.lit(i).alias("stage_ord"), F.lit(name).alias("stage"), "n_docs"
        )
        report = report.unionByName(row)
    # the report is 5 stage rows by construction; the explicit limit makes
    # that bound visible to the optimizer (and to the engine's
    # no-unbounded-global-window convention) before the funnel lag
    report = (
        report.limit(5)
        .withColumn(
            "n_dropped",
            F.coalesce(
                F.lag("n_docs").over(Window.orderBy("stage_ord")) - F.col("n_docs"),
                F.lit(0),
            ),
        )
    )
    return clean, report
