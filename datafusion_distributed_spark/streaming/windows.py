"""Streaming tumbling/sliding window aggregation with watermarked late data.

Completes the Structured Streaming window-type surface next to session
windows (sessionize.py): fixed TUMBLING windows (window(ts, 1h)) and
overlapping SLIDING windows (window(ts, 1h, 30m)), each with a watermark
bounding state retention. Batch/streaming parity by construction — identical
window aggregation on both paths, equality asserted in tests — the same
differential discipline as the DuckDB oracle battery.

Additive scope: the reference is bounded-only (SURVEY.md §2.4); on a real
cluster these run continuously with RocksDB state and append-mode sinks.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..tables import load_tables

_WATERMARK = "1 hour"


def _normalize_event_time(stream: DataFrame) -> DataFrame:
    """Bring the on-disk ``ts`` column to TIMESTAMP (LTZ), the only type
    watermarks accept (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise).

    Two on-disk encodings appear depending on reader config: int64 nanos
    (under ``nanosAsLong``) and TIMESTAMP_NTZ (Spark 4's
    ``parquet.inferTimestampNTZ``). The session timezone is pinned to UTC,
    so the NTZ→LTZ cast denotes the same instant as the batch path.
    """
    dt = dict(stream.dtypes).get("ts")
    if dt == "bigint":
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _tumbling_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "first_event_id",
        )
    )


def _sliding_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
    )


def batch_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tumbling_agg(load_tables(spark, sf_dir)["events"])


def batch_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sliding_agg(load_tables(spark, sf_dir)["events"])


def _event_stream(
    spark: SparkSession, sf_dir: str, watermark: str | None = _WATERMARK
) -> DataFrame:
    """The events parquet as a stream, ts normalized like the batch path,
    with a ``watermark`` delay on ts unless it is None."""
    # readStream needs the ON-DISK schema (pre-normalization: ts is int64
    # nanos under nanosAsLong), then the same normalization as tables.py.
    raw_schema = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").schema
    # The streaming file source wants a DIRECTORY; select just the events
    # file with a glob filter.
    stream = _normalize_event_time(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    return stream if watermark is None else stream.withWatermark("ts", watermark)


def _run_to_completion(df: DataFrame, table_name: str) -> DataFrame:
    q = (
        df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(table_name)


def streaming_tumbling_counts(
    spark: SparkSession, sf_dir: str, table_name: str = "stream_tumbling"
) -> DataFrame:
    out = _tumbling_agg(_event_stream(spark, sf_dir)).select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n_events",
        "first_event_id",
    )
    return _run_to_completion(out, table_name)


def streaming_sliding_counts(
    spark: SparkSession, sf_dir: str, table_name: str = "stream_sliding"
) -> DataFrame:
    out = _sliding_agg(_event_stream(spark, sf_dir)).select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "n_events",
    )
    return _run_to_completion(out, table_name)


def streaming_tumbling_to_parquet(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Durable-sink variant: the tumbling aggregation written to PARQUET via
    foreachBatch (complete mode — each micro-batch overwrites with the full
    refreshed result, so the final files hold the converged aggregate). This
    is the production sink path: checkpointed progress + atomic per-batch
    overwrite, where the memory sink used elsewhere is test-only."""
    out = _tumbling_agg(_event_stream(spark, sf_dir)).select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n_events",
        "first_event_id",
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        out.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(out_dir):
        # Zero micro-batches ran (empty source / path filter matched
        # nothing): write_batch never fired, so fail with a clear message
        # instead of spark.read's opaque PATH_NOT_FOUND.
        raise RuntimeError(
            "streaming_tumbling_to_parquet: no micro-batch produced output "
            f"(source empty or filter matched no file); {out_dir} was never written"
        )
    return spark.read.parquet(out_dir)
