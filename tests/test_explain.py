"""Plan-shape and EXPLAIN ANALYZE tests.

Reference analogues: plan snapshots per query (tests/tpch_plans_test.rs), the
ASCII stage renderer (src/stage.rs display_plan_ascii), and EXPLAIN ANALYZE
with per-stage metrics (src/explain_analyze.rs, tests/explain_analyze.rs).
These assert the *distributed shape* of known plans — q1 and q6 over a
one-partition lineitem plan no exchange, q5's dimension joins broadcast over
split tables — independent of result correctness. Tests whose subject is an
exchange, a broadcast or a per-task panel run under ``split_tables``
(conftest), which keeps every table at Spark's own scan splits.
"""

from __future__ import annotations

import pytest

from datafusion_distributed_spark.operators.registry import _ensure_loaded
from datafusion_distributed_spark.operators.relational import (
    tpch_q1,
    tpch_q3,
    tpch_q5,
    tpch_q6,
)
from datafusion_distributed_spark.plans.explain import (
    explain_analyze,
    render_stage_tree,
    stage_summary,
)

from .conftest import SF_DIR, aqe_off

_ensure_loaded()


def test_q1_single_stage(spark):
    # lineitem is read as one partition, so its partial and final aggregates
    # need no exchange between them: scan -> agg -> sort in one stage
    s = stage_summary(tpch_q1(spark, SF_DIR))
    assert s["n_shuffles"] == 0
    assert s["n_broadcasts"] == 0
    assert s["n_stages"] == 1


@pytest.mark.usefixtures("split_tables")
def test_q5_broadcast_dimensions(spark):
    # 6-way join: small dims broadcast (reference insert_broadcast analogue),
    # at most the agg/join shuffles remain
    s = stage_summary(tpch_q5(spark, SF_DIR))
    assert s["n_broadcasts"] >= 2
    assert s["n_shuffles"] >= 1


def test_q6_no_shuffle(spark):
    # global agg over a one-partition scan: not even the final gather
    s = stage_summary(tpch_q6(spark, SF_DIR))
    assert s["n_shuffles"] == 0
    assert s["n_broadcasts"] == 0


def test_summary_stable_after_execution(spark):
    # AQE replaces the plan with QueryStageExec wrappers after collect();
    # the walker must unwrap them to the same stage structure
    df = tpch_q1(spark, SF_DIR)
    before = stage_summary(df)
    df.collect()
    assert stage_summary(df) == before


def test_render_stage_tree_shape(spark):
    out = render_stage_tree(tpch_q3(spark, SF_DIR))
    assert "Head Stage" in out
    assert "Stage 1" in out
    assert "Scan parquet" in out


@pytest.mark.usefixtures("split_tables")
def test_explain_analyze_metrics(spark):
    out = explain_analyze(tpch_q1(spark, SF_DIR))
    # drained query must carry executor-collected metrics on scan + exchange
    assert "numOutputRows" in out
    assert "Exchange" in out
    assert "(shuffle)" in out


def test_explain_analyze_task_latency_percentiles(spark):
    """EXPLAIN ANALYZE must carry the per-task latency dimension the
    reference collects via DDSketch (src/metrics/latency_metric.rs,
    tests/metrics_collection.rs): p50/p95/max task duration per executed
    scheduler stage, for a multi-stage (shuffling) query."""
    import re

    from datafusion_distributed_spark.plans.explain import task_latency_summary

    df = tpch_q3(spark, SF_DIR)
    out = explain_analyze(df)
    lines = [l for l in out.splitlines() if re.search(r"p50=\d+ms p95=\d+ms max=\d+ms", l)]
    assert len(lines) >= 2, out  # multi-stage query -> several scheduler stages

    rows = task_latency_summary(tpch_q3(spark, SF_DIR))
    assert len(rows) >= 2
    for r in rows:
        assert r["n_tasks"] >= 1
        assert 0 <= r["p50_ms"] <= r["p95_ms"] <= r["max_ms"]


def test_explain_works_aqe_off(spark):
    with aqe_off(spark):
        s = stage_summary(tpch_q1(spark, SF_DIR))
        assert s["n_shuffles"] == 0


def test_q6_filter_pushdown_reaches_scan(spark):
    # predicate pushdown must reach the parquet scan (reference: pushdown
    # visible in every scan snapshot, SURVEY.md §4.1)
    df = tpch_q6(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]


def test_udf_group_key_plan_shape(spark):
    # the pandas_udf column must be evaluated Arrow-batched BELOW the
    # exchange, making the UDF output the hash-partition key — the plan
    # property the reference snapshots in tests/udfs.rs
    from datafusion_distributed_spark.operators.udfs import udf_group_key

    df = udf_group_key(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    s = stage_summary(df)
    assert s["n_shuffles"] == 1
    assert s["n_broadcasts"] == 0


@pytest.mark.usefixtures("split_tables")
def test_q9_broadcasts_dimension(spark):
    from datafusion_distributed_spark.operators.relational import tpch_q9

    s = stage_summary(tpch_q9(spark, SF_DIR))
    assert s["n_broadcasts"] >= 1
    assert s["n_shuffles"] >= 1


def test_scan_column_pruning(spark):
    # a 2-column projection must not read the full lineitem schema
    from datafusion_distributed_spark.tables import load_tables

    li = load_tables(spark, SF_DIR)["lineitem"].select("l_orderkey", "l_quantity")
    plan = li._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_mark_join_plan_shape(spark):
    # IN-subquery under OR must plan as ExistenceJoin (mark join), not a
    # semi-join — rows failing the subquery survive via the other disjunct.
    from datafusion_distributed_spark.operators.registry import REGISTRY

    df = REGISTRY["sql_mark_join"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistenceJoin" in plan
    assert "LeftSemi" not in plan


@pytest.mark.usefixtures("split_tables")
def test_runtime_bloom_filter_injection(spark):
    """Spark's runtime bloom-filter join pruning (the runtime-filtering
    analogue of the reference's dynamic SamplerExec re-planning): a selective
    dim-side filter on a non-broadcast join must inject a bloom_filter_agg on
    the build side and a might_contain probe into the fact scan side."""
    import pyspark.sql.functions as F

    from datafusion_distributed_spark.tables import load_tables

    tb = load_tables(spark, SF_DIR)
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        # Force a shuffled join (bloom is pointless under broadcast: the
        # build side already ships whole) and drop the scan-size floor so
        # bench-scale data qualifies.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        sel = tb["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        j = tb["lineitem"].join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # the probe must guard the FACT side's join key (prunes pre-shuffle)
        assert "l_orderkey" in plan.split("might_contain", 1)[1][:400]
        with_bloom = j.count()
        # result invariance: the filter is an optimization, never a semantic
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        try:
            off = tb["lineitem"].join(
                sel, F.col("l_orderkey") == F.col("o_orderkey")
            )
            plan_off = off._jdf.queryExecution().executedPlan().toString()
            assert "might_contain" not in plan_off
            assert off.count() == with_bloom
        finally:
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_graphviz_edges_match_stage_summary(spark):
    """DOT rendering (reference: display_plan_graphviz, src/lib.rs:60-62)
    must contain one node per stage and one edge per non-head stage."""
    from datafusion_distributed_spark.plans.explain import render_stage_graphviz

    df = tpch_q3(spark, SF_DIR)
    summ = stage_summary(df)
    dot = render_stage_graphviz(df)
    assert dot.startswith("digraph stages {")
    n_nodes = dot.count("shape=record")
    n_edges = dot.count(" -> ")
    assert n_nodes == summ["n_stages"]
    assert n_edges == summ["n_stages"] - 1
    assert dot.count('[label="broadcast"]') == summ["n_broadcasts"]
    assert dot.count('[label="shuffle"]') == summ["n_shuffles"]


def test_token_budget_window_bounded_to_boundary_bucket(spark):
    """ds_token_budget_sample's per-row running-sum window must consume ONLY
    boundary-bucket rows: its child chain must contain the broadcast join
    that prunes the corpus to the (at most one per source) boundary bucket.
    A window whose input is the raw per-source corpus is the single-task
    scale hazard this operator exists to avoid."""
    from datafusion_distributed_spark.operators.sampling import (
        token_budget_sample,
    )

    df = token_budget_sample(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Walk the plan text: every Window over the corpus hash order ("h") must
    # appear ABOVE (earlier in the tree dump than) a BroadcastHashJoin —
    # i.e. its input subtree contains the boundary-bucket pruning join.
    lines = plan.splitlines()
    row_windows = [
        i
        for i, ln in enumerate(lines)
        if "Window" in ln and " h#" in ln  # the per-row cum window sorts by h
    ]
    assert row_windows, "expected the boundary-bucket running-sum window"
    joins = [i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln]
    for wi in row_windows:
        assert any(ji > wi for ji in joins), (
            "running-sum window is not fed by the boundary broadcast join:\n"
            + plan
        )


@pytest.mark.usefixtures("split_tables")
def test_network_stream_summary_per_edge_bytes(spark):
    """One row per exchange edge with producer-side bytes/rows — the
    reference's per-(consumer, producer) Flight-stream byte counters
    (src/metrics/ BytesCounterMetric) at plan-edge granularity."""
    from datafusion_distributed_spark.plans.explain import (
        network_stream_summary,
    )

    df = tpch_q3(spark, SF_DIR)
    df.collect()  # metrics exist only after the drain
    streams = network_stream_summary(df)
    summ = stage_summary(df)
    assert len(streams) == summ["n_shuffles"] + summ["n_broadcasts"]
    kinds = {s["kind"] for s in streams}
    assert "shuffle" in kinds and "broadcast" in kinds
    for s in streams:
        assert s["producer_stage"] != s["consumer_stage"]
        assert s["rows"] >= 0
    # Every shuffle stream that carried rows must report bytes.
    assert all(s["bytes"] > 0 for s in streams
               if s["kind"] == "shuffle" and s["rows"] > 0)


@pytest.mark.usefixtures("split_tables")
def test_network_stream_matrix_per_stream_bytes(spark):
    """Per-(consumer-partition ← producer-task) byte matrix — the
    reference's per-Flight-stream BytesCounterMetric granularity
    (src/metrics/bytes_metric.rs), served from MapOutputTrackerMaster
    without a custom shuffle manager."""
    from datafusion_distributed_spark.plans.explain import (
        network_stream_matrix,
        network_stream_summary,
    )

    df = tpch_q1(spark, SF_DIR)
    df.collect()
    matrix = network_stream_matrix(df)
    assert matrix, "q1's one shuffle must yield stream rows"
    assert len({r["shuffle_id"] for r in matrix}) == 1
    for r in matrix:
        assert r["bytes_est"] > 0
        assert r["producer_task"] >= 0
        assert r["consumer_partition"] >= 0
    # The matrix must SUM to the per-edge producer-side total within the
    # documented log-1.1 MapStatus quantization (~10 %).
    edges = [s for s in network_stream_summary(df) if s["kind"] == "shuffle"]
    assert len(edges) == 1
    total = sum(r["bytes_est"] for r in matrix)
    assert abs(total - edges[0]["bytes"]) <= 0.12 * edges[0]["bytes"] + 64
    # Strictly finer than per-edge: at least one producer feeds multiple
    # consumers (q1's partial agg hashes 4+ group keys across reducers).
    fanout: dict[int, set] = {}
    for r in matrix:
        fanout.setdefault(r["producer_task"], set()).add(r["consumer_partition"])
    assert max(len(v) for v in fanout.values()) > 1


@pytest.mark.usefixtures("split_tables")
def test_network_stream_matrix_multi_shuffle(spark):
    """Every shuffle edge of a join query gets its own matrix; reused
    exchanges are reported once (one physical shuffle)."""
    from datafusion_distributed_spark.plans.explain import (
        network_stream_matrix,
        network_stream_summary,
    )

    df = tpch_q3(spark, SF_DIR)
    df.collect()
    matrix = network_stream_matrix(df)
    n_edges = sum(1 for s in network_stream_summary(df) if s["kind"] == "shuffle")
    sids = {r["shuffle_id"] for r in matrix}
    assert 1 <= len(sids) <= n_edges
    # Rows are sorted and unique per (shuffle, producer, consumer) stream.
    keys = [
        (r["shuffle_id"], r["producer_task"], r["consumer_partition"])
        for r in matrix
    ]
    assert keys == sorted(keys)
    assert len(keys) == len(set(keys))


@pytest.mark.usefixtures("split_tables")
def test_network_stream_matrix_aqe_off(spark):
    """The matrix walker unwraps plain (non-adaptive) exchange nodes too —
    static plans carry ShuffleExchangeExec directly, no QueryStage wrappers."""
    from datafusion_distributed_spark.plans.explain import network_stream_matrix

    with aqe_off(spark):
        df = tpch_q1(spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan" not in plan, "AQE still on — toggle failed"
        matrix = network_stream_matrix(df)
        assert matrix
        assert all(r["bytes_est"] > 0 for r in matrix)


@pytest.mark.usefixtures("split_tables")
def test_explain_analyze_renders_network_streams(spark):
    from datafusion_distributed_spark.plans.explain import explain_analyze

    out = explain_analyze(tpch_q3(spark, SF_DIR))
    assert "Network streams (consumer ← producer):" in out
    assert "bytes," in out
    assert "Busiest streams (consumer partition ← producer task):" in out
    assert "Busiest task streams (consumer task ← producer task):" in out


@pytest.mark.usefixtures("split_tables")
def test_network_stream_matrix_by_task_rollup(spark):
    """Per-task rollup of the stream matrix: the reference's
    per-Flight-stream table is one byte counter per (consumer task,
    producer task) channel (src/metrics/bytes_metric.rs); under AQE a
    consumer task reads a coalesced reduce-partition RANGE, so the rollup
    must (a) conserve bytes exactly, (b) never have more consumer tasks
    than reduce partitions, and (c) attribute every stream to exactly one
    task (no double-counted or dropped partitions)."""
    from datafusion_distributed_spark.plans.explain import (
        network_stream_matrix,
        network_stream_matrix_by_task,
    )

    df = tpch_q1(spark, SF_DIR)
    df.collect()
    matrix = network_stream_matrix(df)
    tasks = network_stream_matrix_by_task(df)
    assert tasks
    # (a) lossless: per-shuffle byte totals match the fine matrix exactly.
    for sid in {r["shuffle_id"] for r in matrix}:
        fine = sum(r["bytes_est"] for r in matrix if r["shuffle_id"] == sid)
        coarse = sum(r["bytes_est"] for r in tasks if r["shuffle_id"] == sid)
        assert coarse == fine, f"shuffle {sid}: {coarse} != {fine}"
        # (c) partition multiplicity is conserved too.
        n_fine = sum(1 for r in matrix if r["shuffle_id"] == sid)
        n_coarse = sum(
            r["n_partitions"] for r in tasks if r["shuffle_id"] == sid
        )
        assert n_coarse == n_fine
    # (b) AQE coalescing can only shrink the consumer-side fan-in.
    n_consumer_tasks = len({(r["shuffle_id"], r["consumer_task"]) for r in tasks})
    n_partitions = len(
        {(r["shuffle_id"], r["consumer_partition"]) for r in matrix}
    )
    assert n_consumer_tasks <= n_partitions
    # Rows are sorted and unique per (shuffle, consumer_task, producer).
    keys = [
        (r["shuffle_id"], r["consumer_task"], r["producer_task"]) for r in tasks
    ]
    assert keys == sorted(keys) and len(keys) == len(set(keys))


@pytest.mark.usefixtures("split_tables")
def test_network_stream_matrix_by_task_aqe_off_identity(spark):
    """Without an AQEShuffleReadExec the rollup degrades to
    task == partition: same rows as the fine matrix, n_partitions == 1."""
    from datafusion_distributed_spark.plans.explain import (
        network_stream_matrix,
        network_stream_matrix_by_task,
    )

    with aqe_off(spark):
        df = tpch_q1(spark, SF_DIR)
        df.collect()
        fine = network_stream_matrix(df)
        tasks = network_stream_matrix_by_task(df)
        assert tasks and all(r["n_partitions"] == 1 for r in tasks)
        assert {
            (r["shuffle_id"], r["consumer_task"], r["producer_task"],
             r["bytes_est"])
            for r in tasks
        } == {
            (r["shuffle_id"], r["consumer_partition"], r["producer_task"],
             r["bytes_est"])
            for r in fine
        }


@pytest.mark.usefixtures("split_tables")
def test_rank_topn_uses_window_group_limit(spark):
    """rank() <= k filters must plan with WindowGroupLimit (Spark's
    group-limit pushdown): each map task keeps only the per-group top-k
    BEFORE the window shuffle, so the shuffled volume is k×groups, not the
    corpus — the property that makes per-group top-k survive 100 TB. Both
    the Partial (pre-shuffle) and Final (post-shuffle) group-limit nodes
    must be present."""
    from datafusion_distributed_spark.operators.analytic import win_rank
    from datafusion_distributed_spark.operators.clickstream import (
        kmv_distinct_sketch,
        kmv_sketch_merge,
    )
    from datafusion_distributed_spark.operators.dedup import (
        cluster_representatives,
    )

    from datafusion_distributed_spark.operators.similarity import ann_recall

    for fn in (win_rank, kmv_distinct_sketch, kmv_sketch_merge,
               cluster_representatives, ann_recall):
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        # Partial (map-side) + Final (reduce-side) pair per rank filter.
        assert plan.count("WindowGroupLimit") >= 2, f"{fn.__name__}: {plan}"
        assert "Partial" in plan


def test_ann_recall_running_sum_window_is_bounded(spark):
    """ann_recall's running-sum (bucket-rank) window must run AFTER the
    rank-only top-k filter — i.e. above the WindowGroupLimit in the plan —
    so its input is k rows per q_id, not the scored corpus (round-4
    verdict item #2: a running sum in the same window as the rank filter
    blocks WindowGroupLimit entirely)."""
    from datafusion_distributed_spark.operators.similarity import ann_recall

    plan = ann_recall(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    # The group-limit must exist at all...
    i_limit = plan.find("WindowGroupLimit")
    assert i_limit >= 0, plan
    # ...and the running-sum Window node (the only `sum(...) windowspec`
    # here) must appear ABOVE it (earlier in the top-down plan text), with
    # no Exchange between them (the q_id clustering carries over).
    i_sum = plan.find("windowspecdefinition")
    assert 0 <= i_sum < i_limit, plan
    assert "Exchange" not in plan[i_sum:i_limit], (
        "reshuffle between top-k filter and running-sum window:\n" + plan
    )


@pytest.mark.usefixtures("split_tables")
def test_case_scalar_subqueries_merge_and_reuse(spark):
    """TPC-DS q9 class: each band's three scalar subqueries (COUNT selector
    + both arms) must collapse into ONE shared aggregate —
    MergeScalarSubqueries emits a mergedValue struct in the optimized plan
    and ReuseSubquery dedups the physical subquery, so a band costs one
    fact scan, not three."""
    from datafusion_distributed_spark.operators.registry import REGISTRY

    df = REGISTRY["sql_case_scalar_subqueries"].fn(spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "mergedValue" in optimized, optimized[:2000]
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedSubquery" in executed, executed[:2000]


def test_network_stream_matrix_by_task_skew_replication(spark):
    """Skew-join splitting: the split side's partitions roll up losslessly
    (map-range slices partition the producer set), while the OTHER side's
    matching partition is replicated — one re-fetch per split task — so its
    per-task bytes legitimately EXCEED the producer-written bytes. Both
    directions are pinned here."""
    from pyspark.sql import functions as F

    from datafusion_distributed_spark.plans.explain import (
        network_stream_matrix,
        network_stream_matrix_by_task,
    )

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 50000).select(
            (F.col("id") % 500).alias("k"), F.rand(7).alias("v")
        )
        hot = spark.range(0, 400000).select(
            F.lit(0).cast("long").alias("k"), F.rand(3).alias("v")
        )
        right = spark.range(0, 500).select(
            F.col("id").alias("k"), F.rand(5).alias("w")
        )
        df = (
            left.unionAll(hot)
            .join(right, "k")
            .select(F.sum(F.col("v") + F.col("w")).alias("s"))
        )
        df.collect()
        fine = network_stream_matrix(df)
        tasks = network_stream_matrix_by_task(df)
        split_sids = {
            r["shuffle_id"] for r in tasks if r["n_partitions"] == 1
        }
        # At least one shuffle must have been skew-split into map-range
        # slices (several tasks reading the same reducer partition).
        per_sid_fine = {}
        per_sid_coarse = {}
        for r in fine:
            per_sid_fine[r["shuffle_id"]] = (
                per_sid_fine.get(r["shuffle_id"], 0) + r["bytes_est"]
            )
        for r in tasks:
            per_sid_coarse[r["shuffle_id"]] = (
                per_sid_coarse.get(r["shuffle_id"], 0) + r["bytes_est"]
            )
        assert set(per_sid_fine) == set(per_sid_coarse)
        # Fetch totals can only meet or exceed written totals (replication),
        # never undercount (a dropped partition).
        exceeded = 0
        for sid in per_sid_fine:
            assert per_sid_coarse[sid] >= per_sid_fine[sid], (
                f"shuffle {sid}: rollup dropped bytes "
                f"({per_sid_coarse[sid]} < {per_sid_fine[sid]})"
            )
            if per_sid_coarse[sid] > per_sid_fine[sid]:
                exceeded += 1
        assert exceeded >= 1, (
            "expected at least one skew-replicated shuffle "
            f"(per-sid fine {per_sid_fine}, coarse {per_sid_coarse})"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.usefixtures("split_tables")
def test_per_task_metrics_format(spark):
    """PerTask metrics rendering — the reference's
    DistributedMetricsFormat::PerTask (user-guide/05-metrics.md): each
    metric as a map keyed by task index, per executed scheduler stage.
    Pins the conservation law (shuffle records written == shuffle records
    read downstream for the drained job) and map/task-count consistency."""
    from datafusion_distributed_spark.plans.explain import per_task_metrics

    rows = per_task_metrics(tpch_q3(spark, SF_DIR))
    assert len(rows) >= 2  # multi-stage query
    total_written = 0
    total_read = 0
    for r in rows:
        m = r["metrics"]
        # every finished task has a duration entry, keyed by task index
        assert len(m["duration_ms"]) == r["n_tasks"]
        assert all(isinstance(k, int) for k in m["duration_ms"])
        assert all(v >= 0 for v in m["duration_ms"].values())
        total_written += sum(m.get("shuffle_write_records", {}).values())
        total_read += sum(m.get("shuffle_read_records", {}).values())
    assert total_written > 0, "q3 shuffles — writes must be recorded"
    assert total_written == total_read, (
        f"shuffle record conservation: {total_written} written vs "
        f"{total_read} read"
    )
    # at least one stage actually scanned input
    assert any(
        sum(r["metrics"].get("records_read", {}).values()) > 0 for r in rows
    )


def test_per_task_metrics_repeat_drain_is_stable(spark):
    """Draining the SAME frame twice must not leak earlier drains' stages
    into the second result (the job group carries a fresh monotonic suffix,
    not id(df) — r8 ADVICE), and the drain must clear every thread-local
    property setJobGroup set, so later jobs don't inherit its identity."""
    from datafusion_distributed_spark.plans.explain import per_task_metrics

    df = tpch_q6(spark, SF_DIR)
    first = per_task_metrics(df)
    second = per_task_metrics(df)
    # The second drain reports ONLY its own stages — fresh stage ids,
    # disjoint from the first drain's (with id(df)-keyed groups it would
    # return first ∪ second). Fewer stages is legitimate: the re-run skips
    # map stages whose shuffle output is still registered.
    assert first and second
    assert len(second) <= len(first)
    assert {r["name"] for r in second} <= {r["name"] for r in first}
    assert {r["stage_id"] for r in first}.isdisjoint(
        {r["stage_id"] for r in second}
    )
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None
    assert sc.getLocalProperty("spark.job.interruptOnCancel") is None


@pytest.mark.usefixtures("split_tables")
def test_explain_analyze_renders_per_task_panel(spark):
    """explain_analyze output includes the PerTask panel — one map per
    metric keyed by task index per stage, the reference's
    DistributedMetricsFormat::PerTask display (r8 VERDICT item 7)."""
    from datafusion_distributed_spark.plans.explain import explain_analyze

    out = explain_analyze(tpch_q3(spark, SF_DIR))
    assert "Per-task metrics (PerTask):" in out
    block = out.split("Per-task metrics (PerTask):", 1)[1]
    assert "duration_ms={0: " in block
    # a multi-stage query renders several stage sub-blocks with task counts
    assert block.count("] tasks=") >= 2
    # map bodies are {index: value, ...}
    import re

    assert re.search(r"shuffle_write_records=\{0: \d+", block)
