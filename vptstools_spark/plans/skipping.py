"""File-level data skipping for equality probes: a per-file Bloom index
that lets a scan read only the files a key can be in (the Delta/Iceberg
"data skipping" idea on plain parquet directories).

Spark already prunes row groups inside a file via parquet footers, but the
*driver still lists and opens every file*, and min/max ranges are useless
for high-cardinality keys. An external index table (one row per file —
KB-scale) lets the planner cut the file list BEFORE any footer I/O:
`files_for_equality` probes each file's mask and returns the read set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


# ---------------------------------------------------------------------------
# File-level Bloom index — equality-probe skipping where min/max is useless
# ---------------------------------------------------------------------------

#: bloom geometry defaults: 3 salted probes into a 2048-bit mask per file
#: (≈0.3% false-positive rate at ~150 distinct keys/file; scale m_bits with
#: per-file cardinality — the mask stays KB-scale either way)
BLOOM_HASHES = 3
BLOOM_BITS = 2048


def collect_file_blooms(
    spark: SparkSession,
    path: str,
    col: str,
    n_hashes: int = BLOOM_HASHES,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """One row per data file: a Bloom bitmask (array of m_bits/64 longs)
    over `col` — the Delta-style bloom index for EQUALITY probes, which
    min/max skipping can't help with when values interleave across files
    (a uniformly-distributed id column gives every file the same [min,
    max] range; its bloom still prunes to ~1 file + false positives).

    Build is one distributed pass: explode the k salted bit positions,
    distinct per (file, position) — ≤ m_bits rows per file survive —
    fold positions into 64-bit words with bit_or, then densify to a fixed
    array via a map lookup over the word index range. Shuffle carries
    |files|·m_bits rows max; nothing data-scale reaches the driver."""
    from vptstools_spark.operators.sketch import bloom_positions

    df = spark.read.parquet(path)
    pos = F.explode(
        F.array(*bloom_positions(F.col(col), n_hashes, m_bits))
    ).alias("p")
    pairs = (
        df.withColumn("__file", F.input_file_name())
        .select("__file", pos)
        .distinct()
    )
    words = (
        pairs.select(
            "__file",
            (F.col("p") / 64).cast("int").alias("w"),
            # pyspark's shiftleft() wants a literal shift; the SQL form
            # takes a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("__file", "w")
        .agg(F.bit_or("b").alias("word"))
    )
    n_words = m_bits // 64
    return (
        words.groupBy("__file")
        .agg(
            F.map_from_arrays(
                F.collect_list("w"), F.collect_list("word")
            ).alias("__wm")
        )
        .select(
            F.col("__file").alias("file"),
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.col("__wm").getItem(i.cast("int")), F.lit(0).cast("long")
                ),
            ).alias("mask"),
        )
    )


def _spark_string_of(value) -> str:
    """Render a probe value EXACTLY as the build side's `cast(col as
    string)` did — the bloom has no false negatives only if the probe
    hashes the same bytes the build hashed. Python str() diverges from
    Spark's cast for booleans ('True' vs 'true') and for doubles (Spark
    renders Java Double.toString scientific forms), so those either get an
    explicit translation (bool) or an explicit rejection (float/decimal/
    datetime) — a silent false NEGATIVE would make read_pruned_equality
    drop the file that contains the value (ADVICE r4)."""
    import datetime

    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int) or isinstance(value, str):
        return str(value)
    if isinstance(value, datetime.date) and not isinstance(value, datetime.datetime):
        return value.isoformat()  # == Spark's date cast 'YYYY-MM-DD'
    raise TypeError(
        f"bloom equality probe on {type(value).__name__} is not supported: "
        "Python's rendering of this type diverges from Spark's cast-to-"
        "string, which would silently produce bloom false negatives. "
        "Probe with int/str/bool/date, or pass the Spark-rendered string."
    )


def _bloom_positions_driver(value, n_hashes: int, m_bits: int) -> list[int]:
    """Driver-side twin of `sketch.bloom_positions` for a literal probe
    value: same salted-md5 scheme over the value's Spark-cast string form
    (`_spark_string_of`), so a probe matches exactly the bits the Spark
    build set. hashlib.md5 of the UTF-8 string == Spark md5 of the string
    cast — the cross-engine md5 identity every sketch in this repo already
    relies on."""
    import hashlib

    s = _spark_string_of(value)
    return [
        int(hashlib.md5(f"bf{i}:{s}".encode()).hexdigest()[:8], 16) % m_bits
        for i in range(n_hashes)
    ]


def files_for_equality(
    blooms: DataFrame,
    value,
    n_hashes: int = BLOOM_HASHES,
    m_bits: int = BLOOM_BITS,
) -> list[str]:
    """Files whose bloom CANNOT rule out `col = value`: all k probe bits
    set. No false negatives (a file containing the value always keeps all
    its bits); false positives only cost an extra file read. The probe is
    a constant-folded bit test per file row — |files|-scale work."""
    cond = F.lit(True)
    for p in _bloom_positions_driver(value, n_hashes, m_bits):
        bit = F.shiftleft(F.lit(1).cast("long"), p % 64)
        cond = cond & (
            F.element_at("mask", p // 64 + 1).bitwiseAND(bit) != F.lit(0)
        )
    return [r["file"] for r in blooms.filter(cond).select("file").collect()]


def read_pruned_equality(
    spark: SparkSession,
    blooms: DataFrame,
    col: str,
    value,
    n_hashes: int = BLOOM_HASHES,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Scan only bloom-surviving files for `col = value`; the residual
    equality filter removes false-positive files' rows, so the result
    equals the full-scan filter — skipping is purely I/O."""
    files = files_for_equality(blooms, value, n_hashes, m_bits)
    if not files:
        any_file = [r["file"] for r in blooms.select("file").limit(1).collect()]
        if not any_file:
            raise ValueError("bloom table is empty — collect_file_blooms first")
        return spark.read.parquet(*any_file).filter(F.lit(False))
    return spark.read.parquet(*files).filter(F.col(col) == F.lit(value))


def list_data_files(spark: SparkSession, path: str) -> set[str]:
    """Recursive filesystem listing of a table's data files — a metadata
    operation (no data scan; `input_file_name()` would read every row just
    to learn the names). Shared by the incremental stats/bloom refreshers."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    it = fs.listFiles(p, True)
    current: set[str] = set()
    while it.hasNext():
        f = it.next().getPath().toString()
        name = f.rsplit("/", 1)[-1]
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            current.add(f)
    return current

