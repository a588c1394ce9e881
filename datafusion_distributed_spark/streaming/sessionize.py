"""Streaming sessionization: session_window + watermark over the events feed.

Batch/streaming parity by construction: both paths use the identical
``session_window(ts, gap)`` aggregation, so the streaming result (run to
completion with an availableNow trigger) must equal the batch result on the
same files — that equivalence is the test (tests/test_streaming.py), the same
differential method the batch engine uses against DuckDB.

Scale design: session_window state is per (user_id, open-session) and the
watermark bounds how long it is retained — on a real cluster this runs with
RocksDB state store and processes an unbounded feed at constant memory. The
parquet file source discovers files incrementally (maxFilesPerTrigger), the
streaming analogue of the reference's runtime work discovery
(work-unit feeds, /root/reference/src/work_unit_feed/work_unit.rs:4-48).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..tables import load_tables
from .windows import _event_stream

_GAP = "30 minutes"
_WATERMARK = "1 hour"


def _session_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy("user_id", F.session_window("ts", _GAP).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "first_event_id",
        )
    )


def batch_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch reference: the same session_window over the events table."""
    return _session_agg(load_tables(spark, sf_dir)["events"])


def streaming_session_counts(
    spark: SparkSession, sf_dir: str, table_name: str = "stream_sessions"
) -> DataFrame:
    """Run sessionization as a streaming query against the events parquet and
    return the completed result from the in-memory sink.

    The file source streams the input (the nanos ts column is normalized
    exactly like the batch path); the watermark lets Spark emit/expire session
    state instead of retaining everything forever.
    """
    batch_events = load_tables(spark, sf_dir)["events"]
    stream = _event_stream(spark, sf_dir, watermark=_WATERMARK)
    sessions = _session_agg(stream).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "first_event_id",
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(table_name)
    assert batch_events.schema is not None  # tables stay registered for callers
    return out
