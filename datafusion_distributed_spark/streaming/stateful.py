"""Custom stateful streaming operator via applyInPandasWithState.

Demonstrates the arbitrary-state API the engine offers for operators that
windowed aggregation cannot express: each user_id keeps an explicit running
state (event count, value sum at integer cents, last event timestamp) that
survives across micro-batches; the final emitted state must equal the batch
group-by — that differential is the test (tests/test_streaming.py).

Scale design: state lives in the state store keyed by user_id (RocksDB on a
real cluster), partitioned by the groupBy shuffle — per-key state is O(1)
and the operator streams Arrow batches per key group through Python exactly
like mapInPandas. This is the Spark-native analogue of the reference's
stateful execution plan test (/root/reference/tests/stateful_execution_plan.rs):
operator state owned per-partition, transparent to the planner.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators._util import cents as _cents
from ..tables import load_tables
from .windows import _event_stream

_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
    ]
)

_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
    ]
)


def _cents_half_up(values: pd.Series) -> int:
    """Sum of exact integer cents, rounded HALF_UP (away from zero) exactly
    like the batch path's F.round — pandas' Series.round is banker's
    (half-to-even), which diverges whenever value*100 lands exactly on .5
    (e.g. 0.125 → 13 cents HALF_UP, 12 under banker's)."""
    v = values.fillna(0.0).to_numpy(dtype="float64")
    return int(np.sum(np.sign(v) * np.floor(np.abs(v) * 100.0 + 0.5)))


def _update_user_state(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows for one user into the running state and
    emit the updated totals (value quantized to exact integer cents — the
    engine's money discipline, operators/_util.py)."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += _cents_half_up(pdf["value"])
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
    )


def streaming_user_totals(
    spark: SparkSession, sf_dir: str, table_name: str = "stream_user_totals"
) -> DataFrame:
    """Run the stateful per-user fold over the events feed to completion and
    return one final row per user from the in-memory sink."""
    stream = _event_stream(spark, sf_dir, watermark=None)
    totals = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        totals.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode memory sink appends one row per state update; the final
    # totals per user are the rows of the LAST update (max n_events).
    sink = spark.table(table_name)
    w = F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("n_events")))
    return sink.withColumn("_rn", w).filter(F.col("_rn") == 1).drop("_rn")


def batch_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch reference for the stateful fold."""
    events = load_tables(spark, sf_dir)["events"]
    cents = _cents(F.coalesce(F.col("value"), F.lit(0.0)))
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("value_cents"),
    )
