"""Enforced plan conventions: no registered query may window over an empty
PARTITION BY on unbounded input (the single-partition scale-killer). The
two-phase top-k shape (Limit below the window) is the allowed exception."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from vptstools_spark.plans.asserts import unbounded_global_windows


def test_detector_flags_naive_global_window(spark):
    df = spark.range(100)
    w = Window.orderBy("id")
    assert unbounded_global_windows(df.withColumn("rn", F.row_number().over(w)))


def test_detector_allows_two_phase_topk(spark):
    df = spark.range(100).orderBy(F.col("id").desc()).limit(10)
    w = Window.orderBy(F.col("id").desc())
    assert not unbounded_global_windows(df.withColumn("rn", F.rank().over(w)))


def test_detector_allows_partitioned_window(spark):
    df = spark.range(100).withColumn("g", F.col("id") % 4)
    w = Window.partitionBy("g").orderBy("id")
    assert not unbounded_global_windows(df.withColumn("rn", F.row_number().over(w)))


def test_rewritten_queries_hold_the_convention(spark):
    """The two queries round 1 flagged as global-window patterns now build
    scale-safe plans (plus the full-registry sweep in CI via this check on
    representative members of each family)."""
    from vptstools_spark.analytics.stats_q import q_supplier_rank
    from vptstools_spark.analytics.subqueries_q import q_ntile_deciles

    sf = "/root/testdata/sf0.001"
    assert not unbounded_global_windows(q_supplier_rank(spark, sf))
    assert not unbounded_global_windows(q_ntile_deciles(spark, sf))


def test_full_registry_sweep(spark):
    """Every registered query honors the no-global-window convention."""
    from vptstools_spark.analytics import all_queries

    sf = "/root/testdata/sf0.001"
    flagged = {}
    for name, fn in all_queries().items():
        flags = unbounded_global_windows(fn(spark, sf))
        if flags:
            flagged[name] = flags
    assert flagged == {}


def test_no_row_python_anywhere_vectorized_only_where_documented(spark):
    """UDF discipline, enforced registry-wide: no query may plan a
    row-at-a-time BatchEvalPython; Arrow-vectorized Python appears only in
    the queries whose semantics genuinely exceed built-in expressions
    (blocked-BLAS cosine, Arrow shingle generation — higher-order array
    functions are interpreted, excluded from codegen — and binary container
    decode)."""
    from vptstools_spark.analytics import all_queries
    from vptstools_spark.plans.asserts import ROW_PYTHON_NODES, python_eval_nodes

    ALLOWED_VECTORIZED = {
        "dedup_embedding",        # blocked BLAS A@B.T in mapInPandas
        "dedup_semantic",         # same blocked-BLAS candidate stage
        "dedup_minhash_lsh",      # Arrow shingle generation
        "dedup_ngram_jaccard",
        "dedup_containment",      # same Arrow shingle path as the Jaccard form
        "dedup_lsh_verified",
        "decontam_ngrams",
        "skyline_parts",          # cross-row dominance (numpy per Arrow batch)
        "mm_wav_features",        # binary container decode (RIFF walk + numpy PCM)
        "mm_bmp_stats",           # binary container decode (DIB + numpy pixels)
        "mm_pcm_frames",          # raw int16 PCM framing (numpy)
        "mm_bmp_patches",         # binary decode + ViT tiling (numpy)
        "emb_covariance",         # blocked BLAS X^T X moments in mapInPandas
        "pca_loadings",           # same moment kernel feeds power iteration
        "mahalanobis_outliers",   # same moment kernel feeds the 2x2 inverse
    }
    sf = "/root/testdata/sf0.001"
    row_offenders, vec_offenders = {}, {}
    for name, fn in all_queries().items():
        nodes = python_eval_nodes(fn(spark, sf))
        if any(k in ROW_PYTHON_NODES for k in nodes):
            row_offenders[name] = nodes
        elif nodes and name not in ALLOWED_VECTORIZED:
            vec_offenders[name] = nodes
    assert row_offenders == {}, f"row-at-a-time Python: {row_offenders}"
    assert vec_offenders == {}, f"undocumented vectorized Python: {vec_offenders}"
