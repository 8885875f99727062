"""Structured-Streaming incrementality — the streaming form of the
reference's cron-batch semantics (SURVEY §2.8).

Reference behavior to preserve:
- trigger: repeated scheduled runs → `Trigger.AvailableNow` (process all new
  files, then stop — a cron-launched streaming batch);
- change detection: new files under the watched path (the file source tracks
  processed files in the checkpoint, replacing the reference's
  inventory-`modified` lookback);
- late data: a file landing days late still recomputes its whole radar-day →
  `foreachBatch` + dynamic partition overwrite of the affected days
  (idempotent, watermark-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vptstools_spark.schemas import profile_long_schema


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """True iff `path` exists on whatever Hadoop filesystem backs it
    (local, HDFS, s3a, ...). Distinguishes "table not created yet" from
    transient read failures, which must propagate."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def stream_profiles(
    spark: SparkSession,
    input_path: str,
    schema=None,
) -> DataFrame:
    """File-source stream of decoded profile rows (parquet landing zone).

    At 100 TB the landing zone is object storage; `maxFilesPerTrigger` bounds
    per-batch work, and the checkpoint is the change-detection state the
    reference derives from S3 inventories."""
    return (
        spark.readStream.schema(schema or profile_long_schema())
        .option("maxFilesPerTrigger", 1000)
        .parquet(input_path)
    )


def incremental_vpts_sink(
    profiles_stream: DataFrame,
    output_path: str,
    checkpoint: str,
    vpts_csv_version: str = "v1.0",
) -> StreamingQuery:
    """availableNow → foreachBatch → whole-partition overwrite of affected
    radar-days. Exactly-once by idempotence: re-processing a batch rewrites
    the same day partitions with the same content."""
    from vptstools_spark.operators.vpts import to_vpts_table

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        table = to_vpts_table(batch_df, vpts_csv_version)
        out = table.withColumn("p_radar", F.col("radar")).withColumn(
            "p_date", F.regexp_replace(F.substring("datetime", 1, 10), "-", "")
        )
        (
            out.repartition("p_radar", "p_date")
            # partition cols lead the sort: the partitioned-file writer
            # re-sorts by them alone otherwise, destroying the data order
            .sortWithinPartitions(
                "p_radar", "p_date", "radar", "datetime",
                F.col("height").cast("int"), "source_file",
            )
            .write.mode("overwrite")
            .partitionBy("p_radar", "p_date")
            .option("header", "true")
            # same tri-state text rendering as the batch daily job — the
            # two paths must produce byte-identical artifacts
            .option("emptyValue", "")
            .option("nullValue", "")
            .csv(output_path)
        )

    return (
        profiles_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
