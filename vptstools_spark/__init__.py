"""vptstools_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of aloftdata/vptstools, re-designed Spark-first.

Public API mirrors the reference's four entry points
(reference: src/vptstools/__init__.py:20):

- :func:`vp`     — convert one ODIM HDF5 VP file to a VPTS-CSV-shaped DataFrame
- :func:`vpts`   — convert many VP files to one globally-sorted VPTS DataFrame
- :func:`vpts_to_csv` — write the VPTS DataFrame to CSV (single file per target)
- :func:`validate_vpts` — schema-conformance check of a VPTS DataFrame

Everything is expressed as Spark DataFrame plans (Catalyst-optimizable); the
only imperative code is the per-file HDF5 parse (``sources.odim.decode_files``).

Engine extensions (training-data pipeline surface) are exported lazily:
``curate_corpus`` (end-to-end corpus curation), ``run_suite`` (declarative
data-quality checks), ``bpe_train``, ``resolve_entities``,
``write_training_shards``, and the ``sketch`` module (HLL / Count-Min /
Bloom).
"""

from vptstools_spark.operators.vpts import (  # noqa: F401
    vp,
    vpts,
    vpts_to_csv,
    validate_vpts,
)
from vptstools_spark.schemas import get_vpts_version  # noqa: F401

__all__ = [
    "vp",
    "vpts",
    "vpts_to_csv",
    "validate_vpts",
    "get_vpts_version",
    "curate_corpus",
    "run_suite",
    "bpe_train",
    "bpe_apply",
    "resolve_entities",
    "write_training_shards",
    "similarity_join",
    "rrf_fuse",
    "dsir_weights",
]
__version__ = "0.1.0"

_LAZY = {
    "curate_corpus": ("vptstools_spark.operators.curate", "curate_corpus"),
    "run_suite": ("vptstools_spark.operators.quality", "run_suite"),
    "bpe_train": ("vptstools_spark.operators.bpe", "bpe_train"),
    "bpe_apply": ("vptstools_spark.operators.bpe", "bpe_apply"),
    "similarity_join": ("vptstools_spark.operators.simjoin", "similarity_join"),
    "rrf_fuse": ("vptstools_spark.operators.retrieval", "rrf_fuse"),
    "dsir_weights": ("vptstools_spark.operators.retrieval", "dsir_weights"),
    "resolve_entities": ("vptstools_spark.operators.entity", "resolve_entities"),
    "write_training_shards": (
        "vptstools_spark.operators.pretrain",
        "write_training_shards",
    ),
}


def __getattr__(name: str):
    # lazy extension exports: importing the package stays cheap (the vpts
    # core loads eagerly, pipeline extensions only on first touch)
    if name in _LAZY:
        import importlib

        mod, attr = _LAZY[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'vptstools_spark' has no attribute {name!r}")
