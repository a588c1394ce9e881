"""Table registry over the driver-provided parquet datasets (TESTDATA.md).

Reference analogue: parquet table registration at session setup
(/root/reference/tests/tpch_correctness_test.rs register_tables;
/root/reference/benchmarks/src/datasets/tpch.rs:17-23). Schemas come from
parquet footers, exactly like the reference (SURVEY.md §1.3).

Normalization applied at load:
- ``events.ts`` is parquet TIMESTAMP(NANOS); Spark reads it as int64 under
  ``spark.sql.legacy.parquet.nanosAsLong`` and we convert to TIMESTAMP_NTZ at
  microsecond precision (truncation — matches DuckDB's ns→us cast).
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

# Stamped on every registry table frame so operators/_util._fan_out can
# memoize its scan-partition-count probe per (sf_dir, table) — the split
# count of a fixed file set under fixed session confs is a session constant,
# while df.rdd.getNumPartitions() re-plans the frame on every call.
_SCAN_KEY_ATTR = "_dds_scan_key"


def claim_views(spark: SparkSession, owner, register) -> None:
    """Run ``register()`` unless ``owner`` already owns the session's
    bare-named temp views, then record ``owner`` as their owner.

    Owners are an sf_dir (``load_tables``) or an (sf_dir, suite) pair
    (``literal.register_spark_views``, which overrides bare names with
    schema-mapped views). A cache hit alone is NOT enough to skip
    registration: if another owner registered since, the views point at
    THAT data, and every spark.sql-path query would silently read the
    wrong scale. (Found by the max-fan-out suite — the first caller to
    alternate sf_dirs in one session.)"""
    views = memo(spark, "views")
    if views.get("owner") != owner:
        register()
        views["owner"] = owner


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
    as temp views under their bare names."""
    apply_session_confs(spark)
    dir_key = sf_dir.rstrip("/")
    cache: dict[str, dict[str, DataFrame]] = memo(spark, "tables")
    tables = cache.get(dir_key)
    if tables is None:
        tables = {}
        for name in TABLE_NAMES:
            df = _normalize(name, spark.read.parquet(f"{dir_key}/{name}.parquet"))
            setattr(df, _SCAN_KEY_ATTR, (dir_key, name))
            tables[name] = df
        cache[dir_key] = tables
    if register:

        def _register() -> None:
            for name, df in tables.items():
                df.createOrReplaceTempView(name)

        claim_views(spark, dir_key, _register)
    return tables
