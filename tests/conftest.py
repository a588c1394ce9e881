"""Shared test fixtures: one tuned SparkSession + the DuckDB-oracle
differential comparator (port of the reference's property-based result
comparison, /root/reference/src/test_utils/property_based.rs:14-90 —
multiset equality on values, schema-name equality, row counts)."""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

import duckdb
import pytest

from datafusion_distributed_spark.engine import build_session
from datafusion_distributed_spark.literal import (
    HAVE_REFERENCE_QUERIES,
    NO_REFERENCE_QUERIES_REASON,
)
from datafusion_distributed_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = os.environ.get("SPARK_GRAFT_TEST_SF_DIR_MED", "/root/testdata/sf0.01")


def unregistered_reason(name: str) -> str | None:
    """Why ``name`` is left out of the registry on this machine, or None if
    it should be registered. Checks that hold a name list against the
    loaded registry skip only these names: ``lit_*`` entries register only
    where the reference query texts exist."""
    if name.startswith("lit_") and not HAVE_REFERENCE_QUERIES:
        return NO_REFERENCE_QUERIES_REASON
    return None


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="dds-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


MAX_PARTITION_BYTES = "spark.sql.files.maxPartitionBytes"

# Below the size of every test table (the smallest, region, is 1,885
# bytes): tables.one_task_bytes clamps to spark.sql.files.maxPartitionBytes,
# so under this value no table is read as one partition.
_BELOW_EVERY_TABLE = 1024


@contextmanager
def session_confs(spark, confs: dict[str, object]):
    """Sets the session confs ``confs`` (name -> value) for the block and
    restores each one after it, unsetting those that had no value."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


AQE = "spark.sql.adaptive.enabled"


def aqe_off(spark):
    """Adaptive execution off for the block."""
    return session_confs(spark, {AQE: "false"})


@pytest.fixture()
def split_tables(spark):
    """The session with ``spark.sql.files.maxPartitionBytes`` below every
    table's size, which turns the one-partition read off: each table keeps
    Spark's own scan splits. For tests whose subject is an exchange, a
    broadcast or a per-task panel, which a one-partition plan would not
    have."""
    with session_confs(spark, {MAX_PARTITION_BYTES: _BELOW_EVERY_TABLE}):
        yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf in (SF_DIR, SF_DIR_MED):
        tag = sf.rstrip("/").rsplit("/", 1)[-1]  # sf0.001 etc.
        for name in TABLE_NAMES:
            con.execute(
                f"CREATE OR REPLACE VIEW {name}_{tag.replace('.', '_')} AS "
                f"SELECT * FROM read_parquet('{sf}/{name}.parquet')"
            )
    yield con
    con.close()


def oracle_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    """(Re)register bare-named views for one sf dir — mirrors the driver."""
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir.rstrip('/')}/{name}.parquet')"
        )


def _canon(value):
    if value is None:
        return "\x00NULL"  # sortable alongside strings (rollup NULL cells)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # exact representation — tests require bit-parity like the driver hash
        return repr(value)
    return str(value)


def compare_to_oracle(
    spark_df, con, sql: str, name: str = "?", order_by: str | None = None
) -> None:
    """Order-insensitive exact comparison, columns sorted by name.

    When ``order_by`` is set (sorted/top-k queries), additionally assert the
    RETURNED row order matches the oracle's under that ordering — the
    reference's compare_ordering property
    (/root/reference/src/test_utils/property_based.rs:14-90)."""
    spark_rows = spark_df.collect()
    spark_cols = sorted(spark_df.columns)
    oracle = con.sql(sql)
    oracle_cols = sorted(oracle.columns)
    assert spark_cols == oracle_cols, (
        f"{name}: column mismatch spark={spark_cols} oracle={oracle_cols}"
    )
    o_rows = oracle.fetchall()
    o_idx = {c: i for i, c in enumerate(oracle.columns)}
    s_set = sorted(
        tuple(_canon(row[c]) for c in spark_cols) for row in spark_rows
    )
    o_set = sorted(
        tuple(_canon(r[o_idx[c]]) for c in spark_cols) for r in o_rows
    )
    assert len(s_set) == len(o_set), (
        f"{name}: row count spark={len(s_set)} oracle={len(o_set)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_set, o_set) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:5]}"
    if order_by:
        ordered = con.sql(f"SELECT * FROM ({sql}) __ord ORDER BY {order_by}")
        oo_idx = {c: i for i, c in enumerate(ordered.columns)}
        o_seq = [
            tuple(_canon(r[oo_idx[c]]) for c in spark_cols)
            for r in ordered.fetchall()
        ]
        s_seq = [tuple(_canon(row[c]) for c in spark_cols) for row in spark_rows]
        assert s_seq == o_seq, (
            f"{name}: returned ORDER differs from oracle under "
            f"ORDER BY {order_by}: first diff "
            f"{next((a, b) for a, b in zip(s_seq, o_seq) if a != b)}"
        )
