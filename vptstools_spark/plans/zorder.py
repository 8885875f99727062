"""Z-order (Morton-curve) data layout — multi-dimensional clustering so
parquet min/max statistics prune on EVERY listed column, not just the first
sort key.

A lexicographic sort on (a, b) gives perfect pruning on `a` and none on `b`;
interleaving the bits of both keys places rows that are close in the
(a, b) plane into the same files, so each file's [min, max] envelope is
tight in ALL dimensions and a selective filter on any of them skips most
row groups at the scan. This is what Delta Lake's OPTIMIZE ZORDER BY does;
core Spark has no equivalent, so the engine provides one for the curated
(silver) layer: range clustering for selective scans.
`plans/maintenance.py` applies it per partition when small files are
rewritten.

At 100 TB:
- the per-dimension equi-depth boundaries come from `approxQuantile`
  (Greenwald–Khanna, one pass, driver receives only `2^bits` doubles per
  column — model-sized, like the IVF centroids);
- bucket lookup + bit interleave are pure JVM expressions (codegen, no
  Python, no shuffle);
- the only exchange is the final `repartitionByRange` on the z-value —
  exactly the one shuffle any re-layout must pay, and AQE sizes its
  partition count.

Equi-depth (quantile) bucketing — rather than min/max equal-width — keeps
the curve balanced under skewed value distributions (a hot user_id range
gets more buckets, so files stay uniformly sized).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket_expr(col: str, boundaries: list[float], bits: int) -> Column:
    """Equi-depth bucket index of `col` in [0, 2**bits) from sorted interior
    boundaries, as one JVM `aggregate` over a boundary-array literal:
    bucket = #(boundaries <= value). NULLs sort to bucket 0."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    v = F.coalesce(F.col(col).cast("double"), F.lit(float("-inf")))
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(v >= b, F.lit(1)).otherwise(F.lit(0)),
    )


def zvalue(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Morton z-value column interleaving `bits` bits of each column's
    equi-depth bucket index. `len(cols) * bits` must fit a long (≤ 63).

    The quantile pass is one Spark job; boundaries become plan literals so
    the z-value itself is a narrow map over the data.
    """
    ndims = len(cols)
    if ndims * bits > 63:
        raise ValueError(f"{ndims} dims × {bits} bits exceeds a long")
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    quantiles = df.stat.approxQuantile(cols, probs, 1.0 / (4 * n_buckets))
    z = F.lit(0).cast("long")
    for d, (col, bounds) in enumerate(zip(cols, quantiles)):
        # dedupe plateaus in the quantile sketch (skewed columns) — fewer,
        # still-sorted boundaries; bucket ids stay in range
        bounds = sorted(set(bounds))
        bucket = _bucket_expr(col, bounds, bits).cast("long")
        for i in range(bits):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ndims + d))
    return z
