"""Max-fan-out stress: re-run a representative operator cross-section with
``spark.sql.files.maxPartitionBytes`` forced to 64 KiB, so every parquet
scan splinters into the largest task count Spark will plan — the analogue
of the reference's ``FILE_SCAN_CONFIG_BYTES_PER_PARTITION=1`` stress knob
(/root/reference/tests/tpch_correctness_test.rs:18), which validates that
correctness is invariant to how finely leaves are split across tasks.

At sf0.01 the bigger tables are ~1-4 MiB, so 64 KiB splits yield tens of
scan partitions per table (asserted below) — far more partition boundaries
than the default 128 MiB setting's single split. Shuffle/agg/join/window
results must be bit-identical to DuckDB regardless.
"""

from __future__ import annotations

import pytest

from datafusion_distributed_spark.literal import (
    HAVE_REFERENCE_QUERIES,
    NO_REFERENCE_QUERIES_REASON,
)
from datafusion_distributed_spark.operators.registry import REGISTRY, _ensure_loaded
from datafusion_distributed_spark.plans.explain import stage_summary
from datafusion_distributed_spark.tables import load_tables

from .conftest import (
    MAX_PARTITION_BYTES,
    SF_DIR_MED,
    compare_to_oracle,
    oracle_views,
    session_confs,
)

_ensure_loaded()

_needs_reference = pytest.mark.skipif(
    not HAVE_REFERENCE_QUERIES, reason=NO_REFERENCE_QUERIES_REASON
)

# One query per operator family (agg, join+topk, window, rollup, set-op,
# subquery/mark-join, dedup, events-scan histogram): broad plan coverage
# without re-running the whole battery under the stress conf.
_STRESS_QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "win_rank_topn_per_nation",
    "gsets_rollup_region_nation",
    "setop_intersect_customers",
    "sql_mark_join",
    "dd_dedup_exact",
    "cb_hourly_histogram",
    # round-4 scale-safe rank/prefix-sum designs: their whole point is that
    # the numbering is INVARIANT to how the corpus is split into tasks, so
    # they belong in every partitioning stress cross-section
    "ds_token_budget_sample",
    "ds_length_batching",
    "dd_block_dedup",
    # round-9 literal tier: verbatim reference texts under the stress knob —
    # exactly how the reference proves its own suites
    # (FILE_SCAN_CONFIG_BYTES_PER_PARTITION=1 over the TPC-H corpus). One
    # star text over the 24-view TPC-DS mapping and one EXISTS/NOT-EXISTS
    # TPC-H text exercise the literal lane's scan splitting.
    pytest.param("lit_tpcds_q59_weekday_yoy_ratios", marks=_needs_reference),
    pytest.param("lit_tpch_q21_waiting_suppliers", marks=_needs_reference),
]

_TINY_SPLIT = 64 * 1024


@pytest.fixture()
def fanout_spark(spark):
    # openCostInBytes also pads each file's size estimate; shrink it too so
    # the 64 KiB split size actually bites on ~MiB files.
    with session_confs(
        spark, {MAX_PARTITION_BYTES: _TINY_SPLIT, "spark.sql.files.openCostInBytes": 0}
    ):
        yield spark


def test_tiny_splits_actually_fan_out(fanout_spark):
    """The stress conf must really multiply scan tasks, or the suite below
    proves nothing."""
    li = load_tables(fanout_spark, SF_DIR_MED)["lineitem"]
    n = li.rdd.getNumPartitions()
    assert n >= 16, f"expected >=16 scan splits under 64KiB maxPartitionBytes, got {n}"


@pytest.mark.parametrize("name", _STRESS_QUERIES)
def test_query_matches_oracle_under_max_fanout(fanout_spark, duck, name):
    qd = REGISTRY[name]
    df = qd.fn(fanout_spark, SF_DIR_MED)
    oracle_views(duck, SF_DIR_MED)
    compare_to_oracle(df, duck, qd.oracle, name=f"fanout:{name}", order_by=qd.order_by)


def test_view_repointing_across_sf_dirs(spark):
    """Alternating sf_dirs in one session must re-point the bare-named views:
    a cached load_tables hit used to skip re-registration, leaving every
    spark.sql-path query silently reading the OTHER scale's data."""
    from .conftest import SF_DIR

    n_small = load_tables(spark, SF_DIR)["customer"].count()
    n_med = load_tables(spark, SF_DIR_MED)["customer"].count()
    assert n_small != n_med  # different scales, different row counts
    assert spark.sql("SELECT COUNT(*) FROM customer").collect()[0][0] == n_med
    load_tables(spark, SF_DIR)
    assert spark.sql("SELECT COUNT(*) FROM customer").collect()[0][0] == n_small


def test_sibling_sessions_get_their_own_views(spark):
    """Temp views are SparkSession-scoped but spark.newSession() shares the
    applicationId: an app-keyed cache used to hit in the sibling and skip view
    registration there entirely (and hand back frames bound to the parent)."""
    from .conftest import SF_DIR

    n_small = load_tables(spark, SF_DIR)["customer"].count()
    sibling = spark.newSession()
    try:
        tb = load_tables(sibling, SF_DIR)
        # Frames must be usable (and views registered) IN the sibling session.
        assert sibling.sql("SELECT COUNT(*) FROM customer").collect()[0][0] == n_small
        assert tb["customer"].count() == n_small
        # The sibling can track a different active sf_dir without clobbering
        # the parent's views.
        load_tables(sibling, SF_DIR_MED)
        n_med = sibling.sql("SELECT COUNT(*) FROM customer").collect()[0][0]
        assert n_med != n_small
        assert spark.sql("SELECT COUNT(*) FROM customer").collect()[0][0] == n_small
    finally:
        load_tables(spark, SF_DIR)  # restore parent views for later tests


# Under split_tables, so no table is read as one partition and the stress
# queries keep the exchanges that the 97 reduce tasks are for.
@pytest.fixture()
def odd_shuffle_spark(split_tables):
    """Prime, non-default shuffle-partition count: results must be invariant
    to how many reduce tasks every exchange fans into (the reference's
    varying-task-count validation, e.g. 1/2/3-task plans in
    /root/reference/tests/distributed_aggregation.rs)."""
    with session_confs(split_tables, {"spark.sql.shuffle.partitions": 97}):
        yield split_tables


@pytest.mark.parametrize("name", _STRESS_QUERIES)
def test_query_matches_oracle_under_odd_shuffle_count(odd_shuffle_spark, duck, name):
    qd = REGISTRY[name]
    df = qd.fn(odd_shuffle_spark, SF_DIR_MED)
    # Every stress query plans a shuffle with split scans; without one the
    # 97 reduce tasks would never run.
    assert stage_summary(df)["n_shuffles"] >= 1, name
    oracle_views(duck, SF_DIR_MED)
    compare_to_oracle(
        df, duck, qd.oracle, name=f"shuffle97:{name}", order_by=qd.order_by
    )


def test_concurrent_sibling_sessions_isolated(spark):
    """Two sibling sessions driving DIFFERENT sf_dirs from concurrent
    threads: each thread's counts must come from its own session's views on
    every iteration (the session-scoped view cache must hold under
    interleaving, not just sequential alternation)."""
    import threading

    from .conftest import SF_DIR

    n_small = load_tables(spark, SF_DIR)["customer"].count()
    n_med = None
    errors: list[str] = []

    def worker(sess, sf, expected_holder, iters=4):
        try:
            for _ in range(iters):
                tb = load_tables(sess, sf)
                got = sess.sql("SELECT COUNT(*) FROM customer").collect()[0][0]
                expected_holder.append(got)
                assert tb["customer"].count() == got
        except Exception as ex:  # surface into the main thread
            errors.append(f"{sf}: {ex}")

    s1, s2 = spark.newSession(), spark.newSession()
    got1: list[int] = []
    got2: list[int] = []
    t1 = threading.Thread(target=worker, args=(s1, SF_DIR, got1))
    t2 = threading.Thread(target=worker, args=(s2, SF_DIR_MED, got2))
    try:
        t1.start(); t2.start(); t1.join(120); t2.join(120)
        assert not errors, errors
        n_med = got2[0]
        assert set(got1) == {n_small}, got1
        assert set(got2) == {n_med}, got2
        assert n_small != n_med
        # the parent session's views were never clobbered
        assert spark.sql("SELECT COUNT(*) FROM customer").collect()[0][0] == n_small
    finally:
        load_tables(spark, SF_DIR)
