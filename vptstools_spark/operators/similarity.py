"""Similarity search over embedding columns (`array<float>`).

Brute-force cosine top-k is the exact baseline (scales as |Q|×|N| — fine when
the query side is small and broadcastable); LSH/anchor bucketing is the scale
path: assign vectors to buckets with a handful of anchor dot-products, then
search within buckets only.

Dot products are computed with `zip_with` + `aggregate` (sequential fold →
deterministic summation order) on double-cast elements, fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vptstools_spark.functions.scalars import lit_double_array


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — deterministic FP order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = as_double(F.col(vec_col))
    return df.withColumn("_vec", v).withColumn("_norm", norm(F.col("_vec")))


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side against the vector
    corpus, rank per query. Returns (q_id, n_id, cosine, rnk).

    The corpus side never shuffles until the per-query top-k aggregation,
    which is a partial top-k under AQE (window over q_id after a repartition
    on q_id — bounded by |Q|×|N| rows pre-filter).
    """
    from pyspark.sql import Window

    v = with_norm(vectors, vec_col).select(
        F.col(id_col).alias("n_id"), F.col("_vec").alias("n_vec"), F.col("_norm").alias("n_norm")
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("_vec").alias("q_vec"), F.col("_norm").alias("q_norm")
    )
    pairs = v.join(F.broadcast(q), F.col("q_id") != F.col("n_id")).withColumn(
        "cos", dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_norm") * F.col("n_norm"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", F.round("cos", 4).alias("cosine"), "rnk")
    )


def cosine_pairs_blocked(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via blocked matrix multiply.

    Scale design (the Odyssey/block-nested-loop pattern): pack vectors into
    `n_blocks` row-normalized numpy blocks (one groupBy), join the ~B²/2
    block pairs, and compute each block-pair's cosine matrix with one BLAS
    `A @ B.T` inside Arrow-batched ``mapInPandas``. Work is exact and evenly
    sharded; no driver collect; memory per task = two blocks. At 100 TB you
    raise `n_blocks` so blocks stay ~executor-memory sized — the plan shape
    is unchanged.

    ~100× faster than a per-pair expression fold at 5k vectors; same
    results to FP round-off (values rounded to 4 decimals).
    """
    import numpy as np

    v = vectors.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("vec")
    ).withColumn("blk", (F.col("id") % n_blocks).cast("int"))

    pack_schema = "blk int, ids array<long>, mat binary, n int, dim int"

    def pack(key, pdf: "pd.DataFrame"):
        import pandas as pd

        ids = pdf["id"].to_numpy(dtype="int64")
        mat = np.stack(pdf["vec"].to_list()).astype("float64")
        nrm = np.sqrt((mat * mat).sum(axis=1))
        nrm[nrm == 0] = 1.0
        mat /= nrm[:, None]
        return pd.DataFrame(
            [
                {
                    "blk": int(key[0]),
                    "ids": ids.tolist(),
                    "mat": mat.tobytes(),
                    "n": int(mat.shape[0]),
                    "dim": int(mat.shape[1]),
                }
            ]
        )

    blocks = v.groupBy("blk").applyInPandas(pack, schema=pack_schema)
    a, b = blocks.alias("a"), blocks.alias("b")
    block_pairs = a.join(b, F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.blk").alias("blk_a"),
        F.col("a.ids").alias("ids_a"),
        F.col("a.mat").alias("mat_a"),
        F.col("a.n").alias("n_a"),
        F.col("a.dim").alias("dim_a"),
        F.col("b.blk").alias("blk_b"),
        F.col("b.ids").alias("ids_b"),
        F.col("b.mat").alias("mat_b"),
        F.col("b.n").alias("n_b"),
    )

    def mult(batches):
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                A = np.frombuffer(row.mat_a, dtype="float64").reshape(row.n_a, row.dim_a)
                B = np.frombuffer(row.mat_b, dtype="float64").reshape(row.n_b, row.dim_a)
                ids_a = np.asarray(row.ids_a, dtype="int64")
                ids_b = np.asarray(row.ids_b, dtype="int64")
                C = A @ B.T
                Cr = np.round(C, 4)
                if row.blk_a == row.blk_b:
                    mask = np.triu(Cr >= threshold, k=1)
                else:
                    mask = Cr >= threshold
                ri, ci = np.nonzero(mask)
                ia, ib = ids_a[ri], ids_b[ci]
                lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
                out_a.extend(lo.tolist())
                out_b.extend(hi.tolist())
                out_c.extend(Cr[ri, ci].tolist())
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cosine": out_c})

    return block_pairs.mapInPandas(mult, schema="vec_a long, vec_b long, cosine double")


def anchor_buckets(
    vectors: DataFrame,
    anchors: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-of-dot-product bucketing against fixed anchor vectors (random
    hyperplane LSH with data-derived hyperplanes): returns (id, bucket) where
    bucket is a bitstring, one bit per anchor.

    Anchors are plan-time literals (broadcast constants) → the whole operator
    is a narrow map, no shuffle; bucket histogram / bucket-join shuffles on
    the (tiny) bucket key only.
    """
    v = as_double(F.col(vec_col))
    bits = []
    for anchor in anchors:
        lit_vec = lit_double_array(anchor)
        bits.append(F.when(dot(v, lit_vec) > 0, F.lit("1")).otherwise(F.lit("0")))
    return vectors.select(F.col(id_col).alias("id"), F.concat(*bits).alias("bucket"))


def ivf_cells(
    vectors: DataFrame,
    anchors: list[list[float]],
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its `nprobe` nearest
    anchor cells by cosine (argmax over plan-literal centroids).

    Returns (id, _vec, _norm, cells: array<int>) — `cells[0]` is the home
    cell for indexing; queries probe `nprobe` cells. Like `anchor_buckets`
    this is a narrow map (centroids are broadcast literals); the inverted
    index is just a repartition on the cell id. At real scale centroids come
    from a sampled k-means (Spark ML) instead of the first-K rows — the
    operator only cares that they are fixed vectors.
    """
    import math

    v = with_norm(vectors, vec_col)
    scored = []
    for j, anchor in enumerate(anchors):
        lit_vec = lit_double_array(anchor)
        a_norm = math.sqrt(sum(float(x) * float(x) for x in anchor))
        cos_j = dot(F.col("_vec"), lit_vec) / (F.col("_norm") * F.lit(a_norm))
        scored.append(F.struct(cos_j.alias("c"), F.lit(j).alias("j")))
    top = F.slice(F.sort_array(F.array(*scored), asc=False), 1, nprobe)
    return v.select(
        F.col(id_col).alias("id"),
        "_vec",
        "_norm",
        F.transform(top, lambda s: s["j"]).alias("cells"),
    )


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    anchors: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k via IVF: index side keeps its home cell, query side
    probes its `nprobe` nearest cells, exact cosine within the probed subset.

    The corpus⋈query equi-join on the cell id replaces brute force's full
    cross product — candidate count drops by ~n_cells/nprobe. Returns
    (q_id, n_id, cosine, rnk) like `knn_bruteforce` (recall < 1 by design:
    neighbors whose home cell is outside the probe set are missed).

    `broadcast_queries=True` ships the (nprobe×-exploded) query side to every
    executor — right for interactive query sets, an OOM for a large offline
    batch of queries; pass False there and the join falls back to a shuffle
    hash join on the cell id.
    """
    from pyspark.sql import Window

    idx = ivf_cells(vectors, anchors, nprobe=1, id_col=id_col, vec_col=vec_col).select(
        F.col("id").alias("n_id"),
        F.col("_vec").alias("n_vec"),
        F.col("_norm").alias("n_norm"),
        F.col("cells")[0].alias("cell"),
    )
    probe = (
        ivf_cells(queries, anchors, nprobe=nprobe, id_col=id_col, vec_col=vec_col)
        .select(
            F.col("id").alias("q_id"),
            F.col("_vec").alias("q_vec"),
            F.col("_norm").alias("q_norm"),
            F.explode("cells").alias("cell"),
        )
    )
    pairs = idx.join(
        F.broadcast(probe) if broadcast_queries else probe, "cell"
    ).filter(F.col("q_id") != F.col("n_id"))
    cos = dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_norm") * F.col("n_norm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        pairs.withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", F.round("cos", 4).alias("cosine"), "rnk")
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means (Lloyd) for IVF centroid training.

    Deterministic init: the k lowest-id vectors (same convention as the
    anchor helpers). Per iteration, assignment is a narrow map over
    plan-literal centroids (`ivf_cells`) and the update is one aggregation:
    posexplode coordinates → avg per (cell, pos) → collect k*dim scalars.
    Only the MODEL (k x dim floats) ever reaches the driver; the data stays
    distributed, so the loop is iteration-count x one-shuffle regardless of
    corpus size. Empty cells keep their previous centroid.
    """
    init = vectors.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    centroids = [[float(x) for x in r[vec_col]] for r in init]
    for _ in range(iters):
        assigned = ivf_cells(vectors, centroids, nprobe=1, id_col=id_col, vec_col=vec_col)
        rows = (
            assigned.select(
                F.col("cells")[0].alias("cell"),
                F.posexplode("_vec").alias("pos", "x"),
            )
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            means.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        centroids = [
            [means[j][p] for p in range(len(centroids[j]))] if j in means else centroids[j]
            for j in range(k)
        ]
    return centroids


def knn_ivf_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    anchors: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF + coarse-score shortlist + exact re-rank — the full approximate
    search composition (IVF-PQ shape: at production scale the shortlist
    scoring runs on quantized codes; here it runs on the same float
    vectors, which keeps the plan identical while the container has no BLAS
    batching for uint8).

    Plan: cell equi-join (as `knn_ivf`) → per-query top-`rerank` shortlist
    by cosine (WindowGroupLimit, no full sort) → exact top-`k` within the
    shortlist. Returns (q_id, n_id, cosine, rnk). With `rerank >= |probed
    candidates|` this equals `knn_ivf` exactly; smaller `rerank` models the
    memory-bound regime where only the shortlist's float vectors are read.
    """
    from pyspark.sql import Window

    shortlist_w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("n_id")
    )
    idx = ivf_cells(vectors, anchors, nprobe=1, id_col=id_col, vec_col=vec_col).select(
        F.col("id").alias("n_id"),
        F.col("_vec").alias("n_vec"),
        F.col("_norm").alias("n_norm"),
        F.col("cells")[0].alias("cell"),
    )
    probe = (
        ivf_cells(queries, anchors, nprobe=nprobe, id_col=id_col, vec_col=vec_col)
        .select(
            F.col("id").alias("q_id"),
            F.col("_vec").alias("q_vec"),
            F.col("_norm").alias("q_norm"),
            F.explode("cells").alias("cell"),
        )
    )
    cos = dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_norm") * F.col("n_norm"))
    short = (
        idx.join(F.broadcast(probe) if broadcast_queries else probe, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", cos)
        .withColumn("srnk", F.row_number().over(shortlist_w))
        .filter(F.col("srnk") <= rerank)
    )
    return (
        short.withColumn("rnk", F.row_number().over(shortlist_w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", F.round("cos", 4).alias("cosine"), "rnk")
    )


def _sqdist(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance between an array column and a literal centroid —
    one JVM zip_with/aggregate chain, codegen-free of Python."""
    lit_vec = lit_double_array(centroid)
    return F.aggregate(
        F.zip_with(as_double(vec), lit_vec, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_assign(sub: DataFrame, centroids: list[list[float]], vec_col: str = "sub") -> DataFrame:
    """Nearest-centroid code (argmin L2, ties to the lowest code id) for a
    subvector column against plan-literal centroids — a narrow map, no
    shuffle. Adds `code` (int) and `sqdist` (double to the chosen centroid)."""
    scored = F.array(
        *[
            F.struct(_sqdist(F.col(vec_col), c).alias("d"), F.lit(j).alias("j"))
            for j, c in enumerate(centroids)
        ]
    )
    best = F.sort_array(scored, asc=True)[0]
    return sub.withColumn("code", best["j"]).withColumn("sqdist", best["d"])


def pq_fit(
    vectors: DataFrame,
    m: int = 2,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into `m` contiguous
    subspaces and run L2 Lloyd k-means (k centroids, `iters` rounds,
    deterministic first-k-by-id init) independently in each.

    Same distributed shape as `kmeans_fit`: assignment is a narrow map over
    plan-literal centroids, the update is one aggregation, and only the
    MODEL (m × k × dim/m floats) ever reaches the driver. PQ is the memory
    side of the ANN stack: with m=8/k=256 a 64-dim float vector compresses
    256× to 8 bytes, and IVF+PQ is the standard billion-vector layout
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011).
    """
    first = vectors.select(vec_col).first()
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = vectors.select(
            F.col(id_col).alias("id"),
            as_double(F.slice(F.col(vec_col), s * d + 1, d)).alias("sub"),
        )
        init = sub.orderBy("id").limit(k).collect()
        cents = [[float(x) for x in r["sub"]] for r in init]
        for _ in range(iters):
            rows = (
                pq_assign(sub, cents)
                .select("code", F.posexplode("sub").alias("pos", "x"))
                .groupBy("code", "pos")
                .agg(F.avg("x").alias("mu"))
                .collect()
            )
            means: dict[int, dict[int, float]] = {}
            for r in rows:
                means.setdefault(r["code"], {})[r["pos"]] = r["mu"]
            cents = [
                [means[j][p] for p in range(d)] if j in means else cents[j]
                for j in range(k)
            ]
        books.append(cents)
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against trained PQ codebooks: (id, codes array<int>,
    sqdists array<double>) — `codes[s]` is the centroid id in subspace `s`,
    `sqdists[s]` the subspace quantization error. All-JVM narrow map; at
    scale this replaces the raw vector column with m small ints, and ADC
    scoring reads per-query lookup tables instead of floats.
    """
    m = len(codebooks)
    d = len(codebooks[0][0])
    codes, dists = [], []
    for s, cents in enumerate(codebooks):
        sub = as_double(F.slice(F.col(vec_col), s * d + 1, d))
        scored = F.array(
            *[
                F.struct(_sqdist(sub, c).alias("d"), F.lit(j).alias("j"))
                for j, c in enumerate(cents)
            ]
        )
        best = F.sort_array(scored, asc=True)[0]
        codes.append(best["j"])
        dists.append(best["d"])
    return vectors.select(
        F.col(id_col).alias("id"),
        F.array(*codes).alias("codes"),
        F.array(*dists).alias("sqdists"),
    )


def pq_query_luts(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query ADC lookup tables as DATA, not plan literals: returns
    (q_id, luts array<array<double>>) where ``luts[s][j]`` is the exact
    squared L2 distance from the query's subvector `s` to centroid `j` of
    codebook `s`.

    Only the MODEL (m×k×d codebook floats) rides in the plan; the per-query
    tables are computed JVM-side over the queries DataFrame, so the plan is
    CONSTANT-SIZED in the number of queries. This is the scale-safe query
    half of PQ search: 10⁶ online queries produce 10⁶ small rows to
    broadcast, not 10⁶ literal arrays in an F.when chain.
    """
    d = len(codebooks[0][0])
    lut_cols = []
    for s, cents in enumerate(codebooks):
        sub = as_double(F.slice(F.col(vec_col), s * d + 1, d))
        lut_cols.append(F.array(*[_sqdist(sub, c) for c in cents]))
    return queries.select(
        F.col(id_col).alias("q_id"), F.array(*lut_cols).alias("luts")
    )


def _adc_distance() -> Column:
    """SUM OF m TABLE LOOKUPS: fold codes through the joined `luts` column.
    Sequential fold keeps FP summation order deterministic (identical to the
    former reduce(add, terms) literal chain: 0.0 + t0 + t1 + …)."""
    return F.aggregate(
        F.zip_with(
            F.col("luts"), F.col("codes"), lambda lut, c: F.element_at(lut, c + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def knn_pq_adc(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, the exact
    subspace distances to every codebook centroid form an m×k lookup table
    (`pq_query_luts` — computed distributed, carried as a broadcast-joined
    column, NEVER collected or compiled into the plan); the corpus side then
    scores each vector as a SUM OF m TABLE LOOKUPS on its codes — never
    touching the raw floats.

    This is the query half of the IVF+PQ layout: the scan reads m bytes per
    vector instead of dim×4, and the scoring expression is all-JVM
    (element_at over the joined lut arrays). Plan size is constant in the
    number of queries. Ties (many vectors share a code combination, so
    approximate distances collide by construction) break by neighbor id —
    fully deterministic. `broadcast_queries=False` falls back to a shuffle
    join for offline mega-batches of queries.
    """
    from pyspark.sql import Window

    enc = pq_encode(vectors, codebooks, id_col=id_col, vec_col=vec_col)
    luts = pq_query_luts(queries, codebooks, id_col=id_col, vec_col=vec_col)
    scored = (
        enc.join(
            F.broadcast(luts) if broadcast_queries else luts,
            F.col("q_id") != F.col("id"),
        )
        .withColumn("adist", _adc_distance())
        .select("q_id", F.col("id").alias("n_id"), "adist")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.round("adist", 4).alias("adist"), "rank")
    )


def knn_ivfpq(
    vectors: DataFrame,
    queries: DataFrame,
    anchors: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composed search — the standard billion-vector layout: the
    coarse quantizer (IVF cells) restricts candidates to the query's
    `nprobe` cells via an equi-join, and ADC scores the survivors from
    their PQ codes alone (m table lookups per candidate, raw floats never
    read at query time).

    One corpus pass computes home cell AND codes together (a single narrow
    map — cell assignment and PQ encoding share the scan); the probe side
    carries each query's nprobe cells AND its ADC lookup tables as columns
    (`pq_query_luts`), broadcast-joined on the cell id. Only the MODEL
    (anchors + codebooks) rides in the plan — plan size is constant in the
    number of queries, so the layout holds for online batches of 10⁴–10⁶
    queries, not just eval sets.
    """
    import math

    m = len(codebooks)
    d = len(codebooks[0][0])
    v = with_norm(vectors, vec_col)
    # home cell (argmax cosine over anchors) and PQ codes in ONE projection
    cell_scored = []
    for j, anchor in enumerate(anchors):
        lit_vec = lit_double_array(anchor)
        a_norm = math.sqrt(sum(float(x) * float(x) for x in anchor))
        cos_j = dot(F.col("_vec"), lit_vec) / (F.col("_norm") * F.lit(a_norm))
        cell_scored.append(F.struct(cos_j.alias("c"), F.lit(j).alias("j")))
    home = F.sort_array(F.array(*cell_scored), asc=False)[0]["j"]
    code_cols = []
    for s, cents in enumerate(codebooks):
        sub = as_double(F.slice(F.col(vec_col), s * d + 1, d))
        scored = F.array(
            *[
                F.struct(_sqdist(sub, c).alias("d"), F.lit(j).alias("j"))
                for j, c in enumerate(cents)
            ]
        )
        code_cols.append(F.sort_array(scored, asc=True)[0]["j"])
    corpus = v.select(
        F.col(id_col).alias("n_id"),
        home.alias("cell"),
        F.array(*code_cols).alias("codes"),
    )

    # probe side: each query's nprobe nearest cells + its ADC lookup tables,
    # both computed distributed and joined on q_id (two tiny query-side
    # DataFrames) — no collect, no per-query plan literals
    cells = (
        ivf_cells(queries, anchors, nprobe=nprobe, id_col=id_col, vec_col=vec_col)
        .select(F.col("id").alias("q_id"), F.explode("cells").alias("cell"))
    )
    luts = pq_query_luts(queries, codebooks, id_col=id_col, vec_col=vec_col)
    probe = cells.join(luts, "q_id")

    from pyspark.sql import Window

    cand = corpus.join(F.broadcast(probe), "cell").filter(
        F.col("q_id") != F.col("n_id")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("n_id").asc())
    return (
        cand.withColumn("adist", _adc_distance())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.round("adist", 4).alias("adist"), "rank")
    )
