"""Small stages co-locate: the reference's local_connections contract
(/root/reference/tests/local_connections.rs): when the dynamic planner
decides all stages are small enough, it places them on one machine and
every network boundary reports ``local_connections_used > 0`` — the data
crossed the boundary without a network jump.

Spark's dynamic planner is AQE, and its co-location move is the LOCAL
shuffle read (``OptimizeShuffleWithLocalRead``): when runtime statistics
demote a statically-planned shuffle join to a broadcast join, the
already-written shuffle on the probe side is re-read with
``PartialMapperPartitionSpec`` — one consumer task per mapper, scheduled
on the mapper's host, so the fetch is machine-local. The test forces
exactly that situation (static planner sees no broadcast candidate, AQE
does), asserts the boundary reports local connections, and proves the
co-location is a pure placement decision: results are multiset-identical
to the static AQE-off plan, like the reference printing + collecting the
same query on both planners.
"""

from __future__ import annotations

import os

import pytest

from datafusion_distributed_spark.plans.explain import (
    _aqe_shuffle_read_specs,
    local_connections_used,
)
from datafusion_distributed_spark.tables import load_tables

from .conftest import MAX_PARTITION_BYTES, SF_DIR, aqe_off, session_confs


def _demoting(spark, split_bytes: int):
    """Static planner must NOT broadcast (threshold -1) while AQE MAY
    (adaptive threshold generous) — the only way the local-read rewrite
    fires. Scans split at ``split_bytes``. Restores the confs afterwards."""
    return session_confs(spark, {
        "spark.sql.autoBroadcastJoinThreshold": -1,
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
        MAX_PARTITION_BYTES: split_bytes,
    })


@pytest.fixture()
def demoting_session(spark):
    """Split size = customer's file size: customer is read as one
    partition and orders is split, so the static planner shuffles both
    join sides (two one-partition tables would join with no exchange to
    demote)."""
    with _demoting(spark, os.path.getsize(f"{SF_DIR.rstrip('/')}/customer.parquet")):
        yield spark


def _join_frame(spark):
    t = load_tables(spark, SF_DIR)
    return (
        t["orders"]
        .join(t["customer"], on=t["orders"].o_custkey == t["customer"].c_custkey)
        .groupBy("c_mktsegment")
        .count()
    )


def _top_node(df) -> str:
    return df._jdf.queryExecution().executedPlan().getClass().getSimpleName()


def _assert_demoted_read_is_local(spark, spec: str) -> None:
    df = _join_frame(spark)
    rows_adaptive = {tuple(r) for r in df.collect()}

    executed = df._jdf.queryExecution().executedPlan()
    plan = executed.toString()
    assert "AQEShuffleRead" in plan and "local" in plan, plan
    kinds = {
        s.getClass().getSimpleName()
        for reads in _aqe_shuffle_read_specs(executed).values()
        for sl in reads
        for s in sl
    }
    assert spec in kinds, kinds

    lc = local_connections_used(df)
    local_reads = [r for r in lc if r["local_connections_used"] > 0]
    assert local_reads, f"no local boundary reported: {lc}"
    # The demoted probe-side read is FULLY local — every consumer stream
    # of that boundary stayed on the producing machine, which is the
    # reference's per-boundary local_connections_used > 0 assertion made
    # exact.
    assert any(
        r["local_connections_used"] == r["total_reads"] for r in local_reads
    ), lc

    # Co-location is placement, not semantics: the static AQE-off plan
    # (remote shuffle both sides) returns the identical multiset.
    with aqe_off(spark):
        static = _join_frame(spark)
        rows_static = {tuple(r) for r in static.collect()}
        assert _top_node(static) != "AdaptiveSparkPlanExec"
    assert rows_adaptive == rows_static


def test_demoted_join_reports_local_connections(demoting_session):
    # Fewer mappers than reduce partitions: each consumer task reads part
    # of one mapper's output.
    _assert_demoted_read_is_local(demoting_session, "PartialMapperPartitionSpec")


def test_demoted_join_over_tiny_splits_reports_local_connections(spark):
    """1 KiB splits: more mappers than the read's parallelism, so each
    consumer task reads a run of whole mappers (CoalescedMapperPartitionSpec),
    which is as local as reading part of one."""
    with _demoting(spark, 1024):
        _assert_demoted_read_is_local(spark, "CoalescedMapperPartitionSpec")


@pytest.mark.usefixtures("split_tables")
def test_remote_boundaries_report_zero_local(spark):
    """A plain one-shuffle aggregate has no co-locatable read: AQE's
    coalesced reduce-partition reads fetch from every mapper, so the
    counter must be 0 — the rewrite never claims locality it didn't get."""
    t = load_tables(spark, SF_DIR)
    df = t["lineitem"].groupBy("l_returnflag").count()
    df.collect()
    reads = local_connections_used(df)
    assert reads  # the aggregate's shuffle is there to be read
    for r in reads:
        assert r["local_connections_used"] == 0, r
