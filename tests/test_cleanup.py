"""Post-query state cleanup — the reference's stateful_data_cleanup contract
(/root/reference/tests/stateful_data_cleanup.rs:28-66): after a query
completes, AND after a query is aborted mid-flight, workers must
eventually report zero running tasks and no state may leak. Spark
analogues: the scheduler's active-job count drains, cancelJobGroup
actually kills the job (the caller sees the cancellation error), and
operators that persist() intermediates leave no cached RDDs behind."""

from __future__ import annotations

import threading
import time

import pyspark.sql.functions as F

from datafusion_distributed_spark.tables import load_tables

from .conftest import SF_DIR


def _poll(pred, timeout_s=15.0, interval_s=0.25):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(interval_s)
    return pred()


def _n_active_jobs(spark) -> int:
    st = spark.sparkContext.statusTracker()
    return len(st.getActiveJobsIds())


def test_no_active_jobs_after_query_completes(spark):
    li = load_tables(spark, SF_DIR)["lineitem"]
    li.groupBy("l_returnflag").count().collect()
    # Cleanup is asynchronous — poll, exactly like the reference does.
    assert _poll(lambda: _n_active_jobs(spark) == 0)


def test_persisting_operators_leave_no_cached_rdds(spark):
    """Iterative operators must explicitly release superseded iteration
    state (GC-based reclamation is not dependable for localCheckpoint
    blocks — measured surviving repeated driver+JVM GC). After the CC
    query, exactly ONE checkpoint block may remain: the final label frame
    backing the returned result. Without the explicit releases the count
    was 4+ (symmetric edge list + every superseded iteration)."""
    from datafusion_distributed_spark.operators.dedup import (
        cluster_representatives,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = cluster_representatives(spark, SF_DIR)
    df.collect()
    # pairs.unpersist(blocking=False) tears down asynchronously — poll.
    assert _poll(lambda: jsc.getPersistentRDDs().size() <= before + 1), (
        f"leaked cached RDDs: {jsc.getPersistentRDDs().size()} > {before} + 1"
    )


def test_iterative_sql_walks_leave_no_cached_rdds(spark):
    """The BFS tree walk returns driver-side counts only — every frontier
    checkpoint must be gone; the pointer-doubling walk may keep only the
    final round backing its returned frame."""
    from datafusion_distributed_spark.operators.sqlpath import (
        df_tree_depth_doubling,
        df_tree_depth_iterative,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df_tree_depth_iterative(spark, SF_DIR).collect()
    assert _poll(lambda: jsc.getPersistentRDDs().size() <= before)
    df_tree_depth_doubling(spark, SF_DIR).collect()
    assert _poll(lambda: jsc.getPersistentRDDs().size() <= before + 1)


def test_aborted_query_drains_to_zero_tasks(spark):
    """Cancel a deliberately slow job group mid-flight: the caller must see
    the cancellation (not silent truncation) and the scheduler must drain
    to zero active jobs — the reference's no_pending_tasks_if_query_aborts."""
    sc = spark.sparkContext
    # A genuinely long pure-JVM aggregate (minutes if left alone).
    # Overflow-free on purpose: under ANSI mode (session default) id * id
    # would raise ARITHMETIC_OVERFLOW for id > ~3.03e9, killing the job in
    # ~2 s on its own and making this test pass vacuously without ever
    # exercising the abort path. sum(id % 1000) stays within int64 over the
    # full 2^36 range (max sum ~ 6.9e13).
    slow = spark.range(1 << 36).selectExpr("sum(id % 1000) AS s")
    errors: list[BaseException] = []
    done = threading.Event()

    def runner():
        try:
            sc.setJobGroup("abort-me", "cleanup test", interruptOnCancel=True)
            slow.collect()
        except BaseException as ex:
            errors.append(ex)
        finally:
            done.set()

    th = threading.Thread(target=runner)
    th.start()
    # Wait until the job actually starts running before cancelling.
    assert _poll(lambda: _n_active_jobs(spark) > 0 or done.is_set(), 20)
    sc.cancelJobGroup("abort-me")
    th.join(30)
    assert done.is_set()
    assert errors, "cancelled collect() returned instead of raising"
    # The caught error must be the CANCELLATION, not some unrelated runtime
    # failure (an overflow-killed job would also raise, vacuously passing).
    msg = str(errors[0]).lower()
    assert "cancel" in msg or "killed" in msg, (
        f"expected a cancellation error, got: {errors[0]!r}"
    )
    assert _poll(lambda: _n_active_jobs(spark) == 0)


def test_slot_checkpoint_bounds_repeat_invocations(spark):
    """Operators that return a lazy frame over an eager localCheckpoint
    (sql_wide_chain_yoy, sql_best_worst_rank_join) can't free the block
    before the caller consumes the frame — the single-slot ownership in
    slot_local_checkpoint must instead release invocation N-1's block when
    invocation N materializes, so bench loops and randomized sweeps hold at
    most one checkpoint per operator instead of accumulating for the
    session's lifetime."""
    from datafusion_distributed_spark.operators.sqlpath import _q44_frames

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        _q44_frames(spark, SF_DIR).collect()
    # At most the LAST invocation's v1 block may remain.
    assert _poll(lambda: jsc.getPersistentRDDs().size() <= before + 1), (
        f"slot leaked checkpoints: {jsc.getPersistentRDDs().size()} vs "
        f"{before} + 1"
    )


def test_slot_checkpoint_survives_a_second_thread(spark):
    """Two live threads calling one slotted operator each own their slot:
    thread B's invocation must not release thread A's localCheckpoint
    blocks, whose lineage cannot be recomputed. release_all_slots still
    frees both."""
    from datafusion_distributed_spark.operators import _util

    frames = {}
    a_done = threading.Event()
    # Both threads stay alive until both have called, so B cannot inherit
    # A's thread ident.
    both_called = threading.Barrier(2, timeout=60)

    def call(who):
        if who == "b":
            a_done.wait(60)
        frames[who] = _util.slot_local_checkpoint(
            "two-thread-probe", spark.range(50)
        )
        a_done.set()
        both_called.wait()

    threads = [threading.Thread(target=call, args=(w,)) for w in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join(60)
        assert not th.is_alive()
    assert frames["a"].count() == 50
    assert frames["b"].count() == 50

    _util.release_all_slots(spark)
    assert not any(
        skey[-1] == "two-thread-probe" for skey in _util._CHECKPOINT_SLOTS
    )
