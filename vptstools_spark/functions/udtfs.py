"""User-defined table functions — the SQL-face of the engine's 1-row→N-rows
operators (SURVEY §2.9: the HDF5 parser is the reference's one real UDTF
shape; Spark 4's `udtf` API lets us expose it to SQL as a LATERAL table
function).

These are ergonomic faces, not perf paths: a Python UDTF evaluates
row-at-a-time on executors. The scale paths remain the all-JVM operators
(`operators/pretrain.py:chunk_documents` — sequence/posexplode/substr) and
the Arrow-batched ODIM sources, binaryFile+mapInArrow `read_vp_files` and
the `odim` DataSource, which share one decode loop
(`sources/odim.py:decode_files`). Parity tests pin the faces to the fast
paths so they can't drift.

Usage:
    register_udtfs(spark)
    spark.sql("SELECT d.doc_id, c.* FROM documents d, "
              "LATERAL chunk_text(d.text, 200, 150) c")
    spark.sql("SELECT p.* FROM file_paths f, LATERAL parse_odim(f.path) p")
"""

from __future__ import annotations

from pyspark.sql.functions import udtf

from vptstools_spark.schemas import profile_long_schema


@udtf(returnType="chunk_id int, chunk_start int, chunk_text string")
class ChunkText:
    """LATERAL chunk_text(text, chunk_size, stride): overlapping fixed-size
    character windows — SQL face of `operators/pretrain.py:chunk_documents`
    (same geometry: starts 1, 1+stride, …, over max(len, 1))."""

    def eval(self, text: str, chunk_size: int = 200, stride: int = 150):
        if chunk_size <= 0 or stride <= 0:
            raise ValueError("chunk_size and stride must be positive")
        s = text or ""
        n = max(len(s), 1)
        for i, start in enumerate(range(0, n, stride)):
            yield i, start + 1, s[start : start + chunk_size]


@udtf(returnType=profile_long_schema())
class ParseOdim:
    """LATERAL parse_odim(path): one ODIM HDF5 VP file → N typed long-format
    rows — the reference's conversion (BirdProfile.from_odim + explode,
    src/vptstools/vpts.py:138-177) as a SQL table function, typed by
    `schemas.profile_long_schema` like the other ODIM faces."""

    def eval(self, path: str):
        from vptstools_spark.sources.odim import parse_odim_bytes

        cols = [f.name for f in profile_long_schema().fields]
        with open(path, "rb") as fh:
            rows = parse_odim_bytes(path, fh.read())
        for r in rows:
            yield tuple(r.get(c) for c in cols)


def register_udtfs(spark) -> None:
    """Register the engine's table functions with a SparkSession."""
    spark.udtf.register("chunk_text", ChunkText)
    spark.udtf.register("parse_odim", ParseOdim)
