"""Persisted IVF+PQ index: the ANN stack as a TABLE ARTIFACT on object
storage, not an in-memory structure.

`knn_ivfpq` (operators/similarity.py) computes cells + PQ codes inline;
this module materializes that corpus pass ONCE into parquet partitioned by
the IVF cell id, with the model (coarse anchors + PQ codebooks) stored as
a JSON sidecar. Queries then read ONLY their probed cells: the probe-cell
set is bounded by the model's cell count, so it collects driver-side and
becomes a literal `cell IN (...)` — planning-time partition pruning, no
full index scan, no DPP needed. ADC scoring over the joined per-query
lookup tables is identical to the inline operator (same `pq_query_luts` /
`_adc_distance` math), so results match exactly.

At 100 TB this is the layout a billion-vector deployment uses: the index
build is one linear pass + one partitioned write; serving cost per query
batch is `nprobe / n_cells` of the index bytes, and the codes-only scan
reads m bytes per vector instead of dim×4 floats.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.operators.similarity import (
    _adc_distance,
    ivf_cells,
    pq_encode,
    pq_query_luts,
)

_MODEL_FILE = "model.json"
_INDEX_DIR = "index"


def build_ivfpq_index(
    vectors: DataFrame,
    path: str,
    anchors: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One corpus pass (cell assignment + PQ encode share the scan) →
    parquet partitioned by cell + model sidecar. Raw vectors are NOT
    stored: the index holds (id, codes) only — m small ints per vector."""
    cells = ivf_cells(vectors, anchors, nprobe=1, id_col=id_col, vec_col=vec_col)
    enc = pq_encode(vectors, codebooks, id_col=id_col, vec_col=vec_col)
    corpus = cells.select(
        F.col("id").alias("n_id"), F.col("cells")[0].alias("cell")
    ).join(enc.select(F.col("id").alias("n_id"), "codes"), "n_id")
    (
        corpus.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(path, _INDEX_DIR))
    )
    _write_model(
        vectors.sparkSession, path, {"anchors": anchors, "codebooks": codebooks}
    )


def _write_model(spark: SparkSession, path: str, model: dict) -> None:
    # driver-sized sidecar via the Hadoop FS (works on any scheme);
    # shared helper with plans/matview.py
    from vptstools_spark.io import write_text_sidecar

    write_text_sidecar(spark, os.path.join(path, _MODEL_FILE), json.dumps(model))


def _read_model(spark: SparkSession, path: str) -> dict:
    from vptstools_spark.io import read_text_sidecar

    return json.loads(read_text_sidecar(spark, os.path.join(path, _MODEL_FILE)))


def load_ivfpq_model(
    spark: SparkSession, path: str
) -> tuple[list[list[float]], list[list[list[float]]]]:
    model = _read_model(spark, path)
    return model["anchors"], model["codebooks"]


def search_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k ADC search against a persisted index. The probed-cell set is
    model-bounded (≤ n_cells ints), so it collects and prunes partitions at
    PLANNING time; per-query LUTs stay distributed data (broadcast join on
    q_id/cell — constant plan size in the query count, as in knn_ivfpq)."""
    from pyspark.sql import Window

    anchors, codebooks = load_ivfpq_model(spark, path)
    probe_cells = ivf_cells(
        queries, anchors, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    ).select(F.col("id").alias("q_id"), F.explode("cells").alias("cell"))
    luts = pq_query_luts(queries, codebooks, id_col=id_col, vec_col=vec_col)
    probe = probe_cells.join(luts, "q_id")

    # model-bounded driver collect → literal partition filter on the scan
    cells_needed = sorted(
        r["cell"] for r in probe_cells.select("cell").distinct().collect()
    )
    index = spark.read.parquet(os.path.join(path, _INDEX_DIR)).filter(
        F.col("cell").isin(cells_needed)
    )
    cand = index.join(F.broadcast(probe), "cell").filter(
        F.col("q_id") != F.col("n_id")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("n_id").asc())
    return (
        cand.withColumn("adist", _adc_distance())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.round("adist", 4).alias("adist"), "rank")
    )
