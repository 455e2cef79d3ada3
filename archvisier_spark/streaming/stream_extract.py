"""Streaming extraction + windowed event aggregation.

Both transforms are the exact batch dataflows re-bound to ``readStream``:
Structured Streaming's incremental planner runs the same mapInArrow /
aggregation logical plans per micro-batch, which is what makes the batch
differential tests meaningful for the streaming path too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from archvisier_spark.pipeline.extract import extract_documents

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def stream_extract(
    spark: SparkSession,
    input_path: str,
    language: str = "auto",
    work_mode: str = "KP",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming DataFrame of extraction results over a parquet directory
    source.  Caller attaches the sink + trigger (tests use availableNow +
    memory sink; production would use an Iceberg/parquet sink +
    checkpointLocation)."""
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    return extract_documents(stream, language=language, work_mode=work_mode)


def stream_hourly_counts(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event type (late rows beyond
    the watermark are dropped; with a replayed bounded source + availableNow
    the result equals the batch group-by)."""
    ev = spark.readStream.schema(
        T.StructType(
            [
                T.StructField("event_id", T.LongType(), False),
                T.StructField("ts", T.TimestampType(), False),
                T.StructField("user_id", T.LongType(), False),
                T.StructField("event_type", T.StringType(), False),
                T.StructField("value", T.DoubleType(), False),
                T.StructField("props", T.StringType(), True),
            ]
        )
    ).parquet(events_path)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_dedup(
    spark: SparkSession,
    input_path: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming exact dedup on the content digest, state bounded by the
    watermark.

    An unbounded ``dropDuplicates`` keeps every digest in state forever —
    at 10^12 documents that is the state-store OOM.  The scale-correct
    contract is ``dropDuplicatesWithinWatermark``: exact within the
    lateness window (duplicates in a crawl arrive close together), with
    re-ingests beyond the window handled idempotently by the batch digest
    dedup (ops/dedup.q_exact_dedup) downstream.  Emits the first-seen row
    per digest."""
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    return (
        stream.select("url", "warc_ts", F.md5(F.col("html")).alias("digest"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )
