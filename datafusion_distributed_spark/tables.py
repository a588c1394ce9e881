"""Table registry over the driver-provided parquet datasets (TESTDATA.md).

Reference analogue: parquet table registration at session setup
(/root/reference/tests/tpch_correctness_test.rs register_tables;
/root/reference/benchmarks/src/datasets/tpch.rs:17-23). Schemas come from
parquet footers, exactly like the reference (SURVEY.md §1.3).

Normalization applied at load:
- ``events.ts`` is parquet TIMESTAMP(NANOS); Spark reads it as int64 under
  ``spark.sql.legacy.parquet.nanosAsLong`` (one of ``engine.RUNTIME_CONFS``,
  which a session's first ``load_tables`` sets) and we convert to
  TIMESTAMP_NTZ at microsecond precision (truncation — matches DuckDB's
  ns→us cast).
- A table of at most one task's worth of bytes is read through
  ``coalesce(1)`` (see ``one_task_bytes``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .engine import apply_session_confs, memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Table frames and the views owner are SparkSession memos, not SparkContext
# ones: temp views and DataFrames are session-scoped, so a context-wide hit in
# a spark.newSession() sibling would return frames bound to the FIRST session
# and skip registering the sibling's views.

# Stamped on every registry table frame: its (sf_dir, table) key.
# operators/_util._fan_out also caches the frame's partition count on it
# under _NPART_ATTR (set here to 1 for a one-partition table):
# the frame is a session memo keyed by its split threshold, so its count is
# a constant, while df.rdd.getNumPartitions() re-plans the frame on every
# call.
_SCAN_KEY_ATTR = "_dds_scan_key"
_NPART_ATTR = "_dds_npart"

# One task's worth of input: the reference sizes leaf tasks at 16 MiB each
# (DesiredTaskCountHandler, SURVEY.md §4.2 row 4).
ONE_TASK_BYTES = 16 * 1024 * 1024


def one_task_bytes(spark: SparkSession) -> int:
    """Largest table read as one partition: ``ONE_TASK_BYTES``, clamped to
    ``spark.sql.files.maxPartitionBytes`` so a session that asks for smaller
    scan splits (the max-fan-out stress) still splits every table."""
    conf = spark._jsparkSession.sessionState().conf()
    return min(ONE_TASK_BYTES, conf.filesMaxPartitionBytes())


def table_key(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Memo key of the frames ``load_tables`` builds for ``sf_dir``: a
    frame built under one split threshold is never reused under another."""
    return sf_dir.rstrip("/"), one_task_bytes(spark)


def claim_views(spark: SparkSession, owner, register) -> None:
    """Run ``register()`` unless ``owner`` already owns the session's
    bare-named temp views, then record ``owner`` as their owner.

    Owners are a ``table_key`` (``load_tables``) or that key plus a suite
    (``literal.register_spark_views``, which overrides bare names with
    schema-mapped views). A cache hit alone is NOT enough to skip
    registration: if another owner registered since, the views point at
    THAT data, and every spark.sql-path query would silently read the
    wrong scale. (Found by the max-fan-out suite — the first caller to
    alternate sf_dirs in one session.)

    Each call records itself as the last claim, which a prepared-frame hit
    repeats (``operators/registry.py``)."""
    views = memo(spark, "views")
    if views.get("owner") != owner:
        register()
        views["owner"] = owner
    views["claim"] = (owner, register)


def _read(spark: SparkSession, dir_key: str, name: str, threshold: int) -> DataFrame:
    """One table's frame, stamped with its key.

    Its size is Catalyst's own relation statistic (the listed files' total,
    the figure it chooses broadcasts by): no Spark job, and the same for
    part-file directories and remote stores. A table of at most
    ``threshold`` bytes is read through ``coalesce(1)``. Its scan then
    reports SinglePartition, so EnsureRequirements plans aggregates,
    windows, sorts and joins among such tables with no exchange, where
    Spark would otherwise plan one per operator and AQE would later shrink
    each to a single-task stage. The reference does the same: it sizes
    leaves from bytes and removes every boundary between one-task stages
    (``prepare_network_boundaries``, SURVEY.md §4.2 row 5). A larger table
    keeps Spark's scan splits, and a join between the two keeps the plan it
    had: the small side is broadcast or hash-shuffled, never the big side
    gathered."""
    raw = spark.read.parquet(f"{dir_key}/{name}.parquet")
    size = raw._jdf.queryExecution().analyzed().stats().sizeInBytes()
    one_partition = size <= threshold
    df = _normalize(name, raw.coalesce(1) if one_partition else raw)
    setattr(df, _SCAN_KEY_ATTR, (dir_key, name))
    if one_partition:
        setattr(df, _NPART_ATTR, 1)
    return df


def _normalize(name: str, df: DataFrame) -> DataFrame:
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # int64 nanos -> TIMESTAMP_NTZ at micros (floor division; ts >= 0).
        # With session tz UTC the LTZ->NTZ cast is an identity on the instant.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, register: bool = True
) -> dict[str, DataFrame]:
    """Load all testdata tables from ``sf_dir`` and (optionally) register them
    as temp views under their bare names. A session's first call sets the
    engine's confs (``engine.apply_session_confs``), so a session the engine
    did not build, such as the correctness driver's, reads ``events.ts``."""
    apply_session_confs(spark)
    key = table_key(spark, sf_dir)
    cache: dict[tuple[str, int], dict[str, DataFrame]] = memo(spark, "tables")
    tables = cache.get(key)
    if tables is None:
        dir_key, threshold = key
        tables = {name: _read(spark, dir_key, name, threshold) for name in TABLE_NAMES}
        cache[key] = tables
    if register:

        def _register() -> None:
            for name, df in tables.items():
                df.createOrReplaceTempView(name)

        claim_views(spark, key, _register)
    return tables
