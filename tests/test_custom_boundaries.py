"""User-placed plan boundaries are respected, redundant ones elided.

The reference lets users build custom distributed plans by placing network
boundaries themselves; its planner then *finalizes* those boundaries instead
of re-deciding placement, and elides any boundary connecting a single
producer task to a single consumer task
(/root/reference/docs/source/advanced/05-custom-distributed-plans.md,
/root/reference/src/distributed_planner/prepare_network_boundaries.rs:10-50).

Spark's contract is the same, expressed through EnsureRequirements: a
user-placed `repartition(n, key)` satisfies a downstream operator's hash
distribution requirement, so the planner adds NO second exchange; stacked
redundant repartitions collapse to one (CollapseRepartition); and join
strategy hints (broadcast / merge / shuffle_hash) override the cost-based
choice — manual stage-topology control without leaving the declarative API.

AQE is disabled here so the asserted plan is the static planner's output,
not a runtime re-plan (same discipline as tests/test_aqe_off.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datafusion_distributed_spark.tables import load_tables

from . import conftest
from .conftest import SF_DIR


@pytest.fixture()
def aqe_off(spark):
    with conftest.aqe_off(spark):
        yield spark


def _plan(df) -> str:
    """The executed plan, which must be the static planner's: AQE off."""
    plan = df._jdf.queryExecution().executedPlan()
    assert plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec"
    return plan.toString()


def test_user_repartition_satisfies_agg_requirement(aqe_off):
    """groupBy after repartition(7, key) reuses the user's exchange: exactly
    one shuffle in the plan, with the user's partition count."""
    orders = load_tables(aqe_off, SF_DIR)["orders"]
    df = (
        orders.repartition(7, "o_custkey")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(o_custkey" in plan and ", 7)" in plan
    assert df.count() > 0


def test_redundant_repartitions_collapse(aqe_off):
    """Stacked repartitions on the same key collapse to one exchange — the
    planner elides the boundary whose producer and consumer coincide."""
    orders = load_tables(aqe_off, SF_DIR)["orders"]
    df = orders.repartition(5, "o_custkey").repartition(9, "o_custkey").groupBy(
        "o_custkey"
    ).agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert ", 9)" in plan  # the outermost (latest) user boundary wins


def test_join_strategy_hints_override_planner(aqe_off):
    """Each join hint yields its physical join node — user control over the
    stage topology Spark would otherwise cost-base."""
    tb = load_tables(aqe_off, SF_DIR)
    li, orders = tb["lineitem"], tb["orders"]
    on = li.l_orderkey == orders.o_orderkey

    merge = li.hint("merge").join(orders, on)
    assert "SortMergeJoin" in _plan(merge)

    shuffle_hash = li.hint("shuffle_hash").join(orders, on)
    assert "ShuffledHashJoin" in _plan(shuffle_hash)

    bcast = li.join(F.broadcast(orders), on)
    assert "BroadcastHashJoin" in _plan(bcast)


def test_range_boundary_feeds_sort(aqe_off):
    """repartitionByRange + sortWithinPartitions is a user-built global sort:
    the planner keeps the user's range exchange and plans no extra sort
    shuffle on top."""
    orders = load_tables(aqe_off, SF_DIR)["orders"]
    df = orders.repartitionByRange(6, "o_orderdate").sortWithinPartitions(
        "o_orderdate"
    )
    plan = _plan(df)
    assert plan.count("Exchange rangepartitioning") == 1
    assert plan.count("Exchange hashpartitioning") == 0


def test_dynamic_partition_pruning(spark, tmp_path):
    """Runtime partition pruning: a selective filter on the dim side of a
    join prunes partitions of the fact scan at execution time (the Spark
    analogue of the reference's runtime DynamicFilter pushdown,
    /root/reference/docs + SURVEY.md §4.1 "dynamic filters")."""
    import shutil

    from datafusion_distributed_spark.tables import load_tables

    path = str(tmp_path / "orders_part")
    orders = load_tables(spark, SF_DIR)["orders"]
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    # the dim filter is on an attribute INDEPENDENT of the join key — a
    # static rewrite cannot push it, only a runtime subquery filter can
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
         ("4-NOT SPECIFIED", 4), ("5-LOW", 5)],
        ["o_orderpriority", "code"],
    ).filter(F.col("code") == 1)
    joined = fact.join(dim, "o_orderpriority")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    assert (
        joined.count()
        == orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    )
    shutil.rmtree(path, ignore_errors=True)


def test_observe_metrics(spark):
    """df.observe() attaches named metrics evaluated during execution — the
    engine-native per-query metric channel next to the per-stage SQLMetrics
    EXPLAIN ANALYZE exposes (reference user-guide/05-metrics.md)."""
    from pyspark.sql import Observation

    from datafusion_distributed_spark.tables import load_tables

    orders = load_tables(spark, SF_DIR)["orders"]
    obs = Observation("orders_scan")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
    )
    n = observed.count()
    assert obs.get["rows_seen"] == n
    exact = orders.agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
    ).collect()[0][0]
    assert obs.get["cents"] == exact


@pytest.mark.usefixtures("split_tables")
def test_empty_columns_between_stages(spark):
    """Zero-column batches crossing an exchange — the reference's
    empty_columns_between_workers.rs repro: `SELECT (SELECT count(*) FROM t)
    FROM t GROUP BY c` projects only a literal, so the grouped intermediate
    carries NO columns between stages (Arrow IPC rejects such batches in
    the reference; Spark's UnsafeRow exchange must carry them fine). Runs
    through a real shuffle and matches DuckDB on the same parquet."""
    import duckdb

    from datafusion_distributed_spark.tables import load_tables

    load_tables(spark, SF_DIR)
    q = "SELECT (SELECT count(*) FROM documents) FROM documents GROUP BY lang"
    df = spark.sql(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # the empty-column frame really crosses stages
    got = sorted(r[0] for r in df.collect())
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        want = sorted(r[0] for r in con.sql(q).fetchall())
    finally:
        con.close()
    assert got == want and len(got) > 0
