"""Filter-pruned work-unit feed: predicate-driven unit pruning + exactness.

The reference's coordinator prunes work units against query predicates
before streaming them to workers; the Spark analogue is the Python
DataSource pushFilters hook + parquet row-group statistics. These tests
write a multi-row-group file (doc_id sorted, so min/max stats are tight),
then assert (a) a selective predicate provably drops units driver-side,
(b) the pruned scan returns EXACTLY the rows the unpruned scan filters to
(pruning is partial pushdown — Spark re-applies every filter), and (c)
filters that stats cannot decide prune nothing (conservative)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql.datasource import EqualTo, IsNull, LessThan, StringContains

from datafusion_distributed_spark.sources.work_unit_feed import (
    FilteredWorkUnitFeedReader,
    register_filtered_work_unit_feed,
)

_N = 1000
_RG = 100  # rows per row group -> 10 row groups with tight doc_id stats


@pytest.fixture(scope="module")
def rg_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wuf") / "docs.parquet")
    table = pa.table(
        {
            "doc_id": pa.array(range(_N), pa.int64()),
            "n_chars": pa.array([i * 7 % 501 for i in range(_N)], pa.int64()),
            "source": pa.array([f"src{i % 4}" for i in range(_N)]),
        }
    )
    pq.write_table(table, path, row_group_size=_RG)
    return path


def test_stats_pruning_drops_units(rg_file):
    reader = FilteredWorkUnitFeedReader({"path": rg_file, "rows_per_unit": "50"})
    baseline = len(reader.partitions())
    assert baseline == _N // 50

    reader._pruning_filters.append(LessThan(("doc_id",), 250))
    pruned = reader.partitions()
    # doc_id < 250 matches row groups 0..2 (stats-tight) => 3 rgs x 2 units
    assert len(pruned) == 6
    assert all(u.row_group <= 2 for u in pruned)


def test_equal_to_prunes_to_one_row_group(rg_file):
    reader = FilteredWorkUnitFeedReader({"path": rg_file, "rows_per_unit": "0"})
    reader._pruning_filters.append(EqualTo(("doc_id",), 555))
    pruned = reader.partitions()
    assert [u.row_group for u in pruned] == [5]


def test_undecidable_filters_prune_nothing(rg_file):
    reader = FilteredWorkUnitFeedReader({"path": rg_file, "rows_per_unit": "0"})
    # IsNull on a column with no nulls: prunable to zero; on stats-missing
    # columns nothing happens. Here doc_id has null_count=0 -> all pruned.
    reader._pruning_filters.append(IsNull(("doc_id",)))
    assert reader.partitions() == []

    # a filter type pushFilters would never record must not break pruning
    reader2 = FilteredWorkUnitFeedReader({"path": rg_file, "rows_per_unit": "0"})
    kept = reader2.pushFilters([StringContains(("source",), "src")])
    assert list(kept)  # everything returned to Spark
    assert reader2._pruning_filters == []  # not usable for stats pruning
    assert len(reader2.partitions()) == 10


def test_end_to_end_pruned_scan_is_exact(spark, rg_file):
    register_filtered_work_unit_feed(spark)
    feed = (
        spark.read.format("work_unit_feed_filtered")
        .option("path", rg_file)
        .option("rows_per_unit", "50")
        .load()
    )
    got = (
        feed.filter((F.col("doc_id") < 250) & (F.col("n_chars") > 100))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
        .collect()
    )
    expected = (
        spark.read.parquet(rg_file)
        .filter((F.col("doc_id") < 250) & (F.col("n_chars") > 100))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))
