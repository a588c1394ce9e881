"""Task-count annotations on the work-unit feed — the Spark seat of the
reference's TaskEstimator contract (/root/reference/tests/
task_estimator_test.rs, src/events/desired_task_count.rs).

The reference lets a leaf source declare Desired(N) (a hint the planner
reconciles into the stage's task count) or Maximum(N) (a hard cap;
Maximum(1) = "cannot be distributed"). In Spark the scan's partition list
IS the stage task count, so the annotations live as source options and the
reconciliation is the unit packer: more units than desired merge into
exactly N balanced groups (custom_routing_more_partitions: 5 tasks x 2
partitions), fewer units split along row ranges (custom_routing: exact
count), and the smallest Maximum wins over any Desired. Every repacking is
proven result-invariant against the direct parquet read."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_distributed_spark.sources.work_unit_feed import (
    WorkUnit,
    WorkUnitFeedReader,
    WorkUnitGroup,
    _pack_units,
    register_work_unit_feed,
)

_N = 900
_RG = 100  # 9 row groups


@pytest.fixture(scope="module")
def rg_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wuf_est") / "docs.parquet")
    table = pa.table(
        {
            "doc_id": pa.array(range(_N), pa.int64()),
            "val": pa.array([i * 13 % 77 for i in range(_N)], pa.int64()),
        }
    )
    pq.write_table(table, path, row_group_size=_RG)
    return path


# --------------------------------------------------------------- packer --


def test_desired_merges_to_exact_count_balanced():
    units = [WorkUnit("f", 0, i * 100, 100) for i in range(10)]
    packed = _pack_units(units, desired=4, maximum=0)
    assert len(packed) == 4
    assert all(isinstance(g, WorkUnitGroup) for g in packed)
    loads = sorted(sum(u.row_count for u in g.units) for g in packed)
    assert loads == [200, 200, 300, 300]  # balanced greedy packing
    # lossless: every unit lands in exactly one group
    flat = sorted(
        (u.row_start, u.row_count) for g in packed for u in g.units
    )
    assert flat == sorted((u.row_start, u.row_count) for u in units)


def test_desired_splits_row_ranges_to_reach_count():
    units = [WorkUnit("f", 0, 0, 100), WorkUnit("f", 1, 0, 100)]
    packed = _pack_units(units, desired=8, maximum=0)
    assert len(packed) == 8
    assert all(isinstance(u, WorkUnit) for u in packed)
    # rows conserved, ranges disjoint per row group
    by_rg: dict[int, list] = {}
    for u in packed:
        by_rg.setdefault(u.row_group, []).append((u.row_start, u.row_count))
    for rg, ranges in by_rg.items():
        ranges.sort()
        pos = 0
        for start, count in ranges:
            assert start == pos, f"gap/overlap in rg {rg}"
            pos += count
        assert pos == 100


def test_desired_is_a_hint_when_nothing_splittable():
    """The reference: 'the final task count might not be exactly this
    number' — 1-row units cannot split further."""
    packed = _pack_units([WorkUnit("f", 0, 0, 1)], desired=5, maximum=0)
    assert len(packed) == 1


def test_smallest_maximum_wins_over_desired():
    units = [WorkUnit("f", 0, i * 100, 100) for i in range(10)]
    assert len(_pack_units(units, desired=8, maximum=3)) == 3
    # maximum(1): the "cannot be distributed" declaration
    assert len(_pack_units(units, desired=0, maximum=1)) == 1


def test_unset_annotations_pass_units_through():
    units = [WorkUnit("f", 0, i * 100, 100) for i in range(4)]
    assert _pack_units(units, 0, 0) is units


# ---------------------------------------------------- end-to-end (Spark) --


def _feed(spark, rg_file, **opts):
    register_work_unit_feed(spark)
    r = spark.read.format("work_unit_feed").option("path", rg_file)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_scan_task_count_follows_annotations(spark, rg_file):
    """The actual Spark scan parallelism equals the reconciled count —
    the analogue of the reference's `Stage 1 — tasks=N` snapshot lines."""
    base = _feed(spark, rg_file)  # 9 row groups -> 9 natural units
    assert base.rdd.getNumPartitions() == 9
    merged = _feed(spark, rg_file, desired_tasks=4)
    assert merged.rdd.getNumPartitions() == 4
    split = _feed(spark, rg_file, desired_tasks=18)
    assert split.rdd.getNumPartitions() == 18
    capped = _feed(spark, rg_file, desired_tasks=18, max_tasks=5)
    assert capped.rdd.getNumPartitions() == 5
    single = _feed(spark, rg_file, max_tasks=1)
    assert single.rdd.getNumPartitions() == 1


@pytest.mark.parametrize(
    "opts",
    [
        {"desired_tasks": 4},
        {"desired_tasks": 18},
        {"desired_tasks": 18, "max_tasks": 5},
        {"max_tasks": 1},
        {"rows_per_unit": 60, "desired_tasks": 7},
    ],
)
def test_repacking_is_result_invariant(spark, rg_file, opts):
    """Every annotation combination returns exactly the direct parquet
    read's rows (the reference proves its routing variants against the
    same result table)."""
    expected = sorted(
        tuple(r) for r in spark.read.parquet(rg_file).collect()
    )
    got = sorted(tuple(r) for r in _feed(spark, rg_file, **opts).collect())
    assert got == expected


def test_packer_composes_with_filter_pruning(spark, rg_file):
    """Pruning runs on DISCOVERED units, packing on the survivors — a
    selective filter under desired_tasks still reads exactly the matching
    rows."""
    from datafusion_distributed_spark.sources.work_unit_feed import (
        register_filtered_work_unit_feed,
    )
    import pyspark.sql.functions as F

    register_filtered_work_unit_feed(spark)
    df = (
        spark.read.format("work_unit_feed_filtered")
        .option("path", rg_file)
        .option("desired_tasks", "2")
        .load()
        .filter(F.col("doc_id") < 250)
    )
    rows = df.collect()
    assert len(rows) == 250
    assert {r.doc_id for r in rows} == set(range(250))
