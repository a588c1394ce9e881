"""The prepared-frame memo (``operators/registry.py``): each registry
entry's analyzed frame is built once per (entry, sf_dir, session confs) and
re-planned on every run.

A hit must run the same jobs as a miss and leave the views on its sf_dir,
a conf that shapes the plan must give a fresh build that replaces the
entry's slot, an entry whose build runs jobs, claims a slot or reads
non-file leaves must rebuild on every call, and no caller may receive the
memoized frame itself.
"""

from __future__ import annotations

import re

import pytest

from datafusion_distributed_spark.engine import memo
from datafusion_distributed_spark.operators.registry import (
    REGISTRY,
    _conf_fingerprint,
    _ensure_loaded,
    _job_count,
    prepare,
)
from datafusion_distributed_spark.tables import load_tables

from .conftest import (
    AQE,
    MAX_PARTITION_BYTES,
    SF_DIR,
    SF_DIR_MED,
    aqe_off,
    session_confs,
    unregistered_reason,
)

_ensure_loaded()

# Entries that are never memoized, with the reason their build records at
# sf0.001: 13 launch Spark jobs on every build, one takes a lazy persist
# slot, and the rest read a leaf that is not a file (a command, rows held in
# the plan, or a Python data source). text_bpe_learn_merges launches jobs
# only on the build that trains its merges, then reads them as a LogicalRDD.
# sim_ivf_topk and sim_pq_train_convergence launch jobs only on the build
# that trains their centroids or codebooks; later builds are memoized.
_NOT_MEMOIZED = {
    "dd_cluster_representatives": "launched",
    "dd_dup_clusters": "launched",
    "dd_dup_doc_filter": "launched",
    "dd_incremental_ingest": "launched",
    "dd_maintained_ingest": "launched",
    "dd_substring_spans": "launched",
    "df_tree_depth_doubling": "launched",
    "df_tree_depth_iterative": "launched",
    "ds_leakage_safe_split": "launched",
    "sim_semantic_dedup": "launched",
    "sql_best_worst_rank_join": "launched",
    "sql_wide_chain_yoy": "launched",
    "text_tfidf_cosine_pairs": "launched",
    "text_bpe_learn_merges": "LogicalRDD",
    "text_source_drift": "slot",
    "catalog_show_columns": "LogicalRDD",
    "catalog_show_tables": "ShowViewsCommand",
    "sql_values_dim_join": "LocalRelation",
    "wuf_documents_stats": "RelationV2",
    "wuf_filtered_stats": "RelationV2",
    "wuf_desired_tasks_stats": "RelationV2",
}
_REASONS = {
    "launched": r"launched \d+ Spark job\(s\) while building",
    "slot": r"claimed a slot while building",
}


def _slot(spark, name: str) -> tuple:
    """``name``'s prepared-frame slot for ``SF_DIR``: (confs, frame,
    reason, views claim)."""
    return memo(spark, "prepared")[(name, SF_DIR.rstrip("/"))]


def _forget(spark, name: str) -> None:
    """Drop ``name``'s prepared frame, with the tables loaded under the
    current confs: a build that first loads them launches their
    schema-inference jobs and is not memoized."""
    load_tables(spark, SF_DIR)
    memo(spark, "prepared").pop((name, SF_DIR.rstrip("/")), None)


def _top_node(df) -> str:
    return df._jdf.queryExecution().executedPlan().getClass().getSimpleName()


def _jobs_of(spark, df) -> tuple[int, list]:
    j0 = _job_count(spark)
    rows = df.collect()
    return _job_count(spark) - j0, sorted(rows)


def test_hit_runs_its_jobs_again(spark):
    """Nothing executed is reused: the hit's collect runs the result job and
    the broadcast again, like the miss's."""
    qd = REGISTRY["sql_mark_join"]
    _forget(spark, qd.name)
    miss, outcome = prepare(qd, spark, SF_DIR)
    assert outcome == "miss"
    miss_jobs, miss_rows = _jobs_of(spark, miss)
    hit, outcome = prepare(qd, spark, SF_DIR)
    assert outcome == "hit"
    hit_jobs, hit_rows = _jobs_of(spark, hit)
    assert "BroadcastExchange" in hit._jdf.queryExecution().executedPlan().toString()
    assert hit_jobs == miss_jobs >= 2
    assert hit_rows == miss_rows


def _memoized(spark, qd) -> None:
    """Only the current confs' frame of ``qd`` is memoized: its first
    build is checked and kept, and the next call is a hit."""
    _forget(spark, qd.name)
    assert prepare(qd, spark, SF_DIR)[1] == "miss"
    assert _slot(spark, qd.name)[2] is None
    assert prepare(qd, spark, SF_DIR)[1] == "hit"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_off_gives_a_fresh_build(spark):
    """The AQE-off build replaces the entry's one slot, so turning AQE
    back on builds again: the memo holds one frame per entry and sf_dir,
    whatever confs the session has been through. The caller's AQE setting
    holds across the table load, the miss and the hit."""
    qd = REGISTRY["tpch_q1_pricing_summary"]
    _memoized(spark, qd)
    frames = memo(spark, "prepared")
    held = len(frames)
    with aqe_off(spark):
        load_tables(spark, SF_DIR)
        for expected in ("miss", "hit"):
            df, outcome = prepare(qd, spark, SF_DIR)
            assert (outcome, spark.conf.get(AQE)) == (expected, "false")
            assert _top_node(df) != "AdaptiveSparkPlanExec"
    assert len(frames) == held
    df, outcome = prepare(qd, spark, SF_DIR)
    assert outcome == "miss" and _top_node(df) == "AdaptiveSparkPlanExec"
    assert len(frames) == held


@pytest.mark.usefixtures("split_tables")
def test_shuffle_partitions_give_a_fresh_build(spark):
    qd = REGISTRY["tpch_q1_pricing_summary"]
    _memoized(spark, qd)
    with session_confs(spark, {"spark.sql.shuffle.partitions": 97}):
        df, outcome = prepare(qd, spark, SF_DIR)
        assert outcome == "miss"
        assert re.search(r"hashpartitioning\([^)]*, 97\)", _plan(df)), _plan(df)


def test_split_size_gives_a_fresh_build(spark):
    """At the default split size every test table is one partition; at
    1 KiB none is."""
    qd = REGISTRY["tpch_q1_pricing_summary"]
    _memoized(spark, qd)
    assert "Coalesce 1" in _plan(prepare(qd, spark, SF_DIR)[0])
    with session_confs(spark, {MAX_PARTITION_BYTES: 1024}):
        df, outcome = prepare(qd, spark, SF_DIR)
        assert outcome == "miss"
        assert "Coalesce 1" not in _plan(df)


def test_hit_replans_under_current_confs(spark):
    """A hit never reuses the memoized frame's QueryExecution: a frame
    already planned with AQE on, seeded under the AQE-off key, comes back
    planned without AQE."""
    qd = REGISTRY["tpch_q1_pricing_summary"]
    with aqe_off(spark):
        confs = _conf_fingerprint(spark)
    seeded = qd.build(spark, SF_DIR)
    assert _top_node(seeded) == "AdaptiveSparkPlanExec"
    frames = memo(spark, "prepared")
    key = (qd.name, SF_DIR.rstrip("/"))
    frames[key] = (confs, seeded, None, None)
    try:
        with aqe_off(spark):
            df, outcome = prepare(qd, spark, SF_DIR)
            assert outcome == "hit" and df is not seeded
            assert _top_node(df) != "AdaptiveSparkPlanExec"
            assert sorted(df.collect()) == sorted(seeded.collect())
    finally:
        del frames[key]


@pytest.mark.parametrize("name", sorted(_NOT_MEMOIZED))
def test_impure_entries_rebuild_on_every_call(spark, name):
    if unregistered_reason(name):
        pytest.skip(unregistered_reason(name))
    qd = REGISTRY[name]
    kind = _NOT_MEMOIZED[name]
    pattern = _REASONS.get(kind, rf"plan has non-file leaves \[.*'{kind}'.*\]")
    _forget(spark, name)
    outcomes = [prepare(qd, spark, SF_DIR)[1] for _ in range(3)]
    assert "hit" not in outcomes, outcomes
    # The first call may train a shared artifact, which launches jobs;
    # the later calls record the entry's own reason.
    assert all(re.fullmatch(pattern, o) for o in outcomes[1:]), outcomes
    assert _slot(spark, name)[1:3] == (None, outcomes[2])


def test_hit_leaves_the_views_on_its_sf_dir(spark):
    """After ``qd.fn(spark, sf_dir)``, hit or miss, spark.sql over the
    bare-named views reads ``sf_dir``'s tables, as it did when every call
    ran the builder."""
    qd = REGISTRY["tpch_q1_pricing_summary"]
    count = "SELECT COUNT(*) FROM customer"
    n_small = load_tables(spark, SF_DIR)["customer"].count()
    _memoized(spark, qd)
    try:
        load_tables(spark, SF_DIR_MED)
        assert spark.sql(count).collect()[0][0] != n_small
        assert prepare(qd, spark, SF_DIR)[1] == "hit"
        assert spark.sql(count).collect()[0][0] == n_small
    finally:
        load_tables(spark, SF_DIR)
