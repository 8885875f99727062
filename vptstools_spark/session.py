"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
builder options hold (AQE on, UTC, Arrow), only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "vptstools_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE + partition coalescing: runtime re-planning so the same plan works
      at sf0.001 and at 100 TB (skew-join handling, shuffle-size right-sizing).
    - UTC session timezone: the reference's data model is UTC-everywhere
      (reference: src/vptstools/odimh5.py:89-93).
    - Arrow enabled: every pandas-UDF boundary is Arrow-batched.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: the driver JVM is also the executor — size it for the
        # 32-thread container (cache + shuffle + Arrow buffers), not the
        # cluster-driver default
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # harness events.parquet stores TIMESTAMP(NANOS): read as long,
        # converted to microsecond timestamps in io.table (Spark has no ns)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 timestamps carry NO parquet footer statistics (and are
        # deprecated); MICROS gives every written timestamp column the
        # min/max the file-skipping manifest reads (plans/timetravel.py)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
