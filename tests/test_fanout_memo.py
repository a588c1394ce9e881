"""_fan_out reads the partition count stamped on the table frame.

The conditional fan-out's ``df.rdd.getNumPartitions()`` probe physically
plans the frame on every call (~40 ms of py4j + planning measured by the
r12 floor probe). ``tables.load_tables`` stamps ``_NPART_ATTR = 1`` on every
table it reads as one partition, so ``_fan_out(df, src=table_frame)`` fans
those out with no probe; a larger table's count is probed once and stored
on its own frame, which is a session memo keyed by the split threshold.

Pinned here: the stamp is consulted (not just written), frames without a
stamp keep the dynamic probe, the decision itself is the same as when every
call probed (under-split -> repartition to defaultParallelism; well-split
-> pass-through), and sibling sessions do not share a count.
"""

from __future__ import annotations

import pytest

from datafusion_distributed_spark.operators._util import _fan_out
from datafusion_distributed_spark.tables import _NPART_ATTR, load_tables

from .conftest import MAX_PARTITION_BYTES, SF_DIR, SF_DIR_MED, session_confs

# Splits sf0.01 lineitem (~1 MiB) into more scan partitions than cores.
_SMALL_SPLITS = 64 * 1024


@pytest.fixture()
def small_splits(spark):
    with session_confs(spark, {MAX_PARTITION_BYTES: _SMALL_SPLITS}):
        yield spark


def _fans_out(df, src) -> bool:
    return _fan_out(df, src=src) is not df


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_MED])
@pytest.mark.parametrize("table", ["documents", "events", "lineitem"])
def test_fan_out_decision_one_partition_tables(spark, sf_dir, table):
    """Every fan-out source at the test scales is under one task's bytes:
    it is read as one partition and fans out, as it did when its single
    scan split was probed."""
    src = load_tables(spark, sf_dir)[table]
    assert getattr(src, _NPART_ATTR) == 1
    assert _fans_out(src.select(src.columns[0]), src)


def test_fan_out_decision_split_table(small_splits):
    """A table over the threshold keeps Spark's scan splits; with at least
    one per core it passes through, and its probed count is stored on it."""
    li = load_tables(small_splits, SF_DIR_MED)["lineitem"]
    vars(li).pop(_NPART_ATTR, None)  # cold: an earlier test may have probed it
    assert not _fans_out(li.select("l_orderkey"), li)
    assert getattr(li, _NPART_ATTR) == li.rdd.getNumPartitions()
    assert getattr(li, _NPART_ATTR) >= small_splits.sparkContext.defaultParallelism


def test_stamped_probe_memoizes_and_is_consulted(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    par = spark.sparkContext.defaultParallelism

    out = _fan_out(docs.select("doc_id", "text"), src=docs)
    assert getattr(docs, _NPART_ATTR) == 1  # sf0.001 documents: one partition
    # under-split input -> explicit repartition to defaultParallelism
    assert out.rdd.getNumPartitions() == par

    # Prove the stamp is CONSULTED: plant a fake "well-split" count and
    # check the repartition disappears (pass-through keeps 1 partition).
    setattr(docs, _NPART_ATTR, par + 1)
    try:
        passthrough = _fan_out(docs.select("doc_id", "text"), src=docs)
        assert passthrough.rdd.getNumPartitions() == 1
    finally:
        setattr(docs, _NPART_ATTR, 1)


def test_unstamped_frame_uses_dynamic_probe(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    synthetic = docs.select("doc_id", "text").limit(10)
    out = _fan_out(synthetic)  # no src -> dynamic probe, nothing stored
    assert not hasattr(synthetic, _NPART_ATTR)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    # src that is not a registry table frame also stays dynamic
    out2 = _fan_out(synthetic, src=synthetic)
    assert not hasattr(synthetic, _NPART_ATTR)
    assert out2.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_sibling_sessions_do_not_share_memo(small_splits):
    spark = small_splits
    li = load_tables(spark, SF_DIR_MED)["lineitem"]
    _fan_out(li.select("l_orderkey"), src=li)
    assert getattr(li, _NPART_ATTR) > 1

    sibling = spark.newSession()
    try:
        sibling.conf.set(MAX_PARTITION_BYTES, str(_SMALL_SPLITS))
        sli = load_tables(sibling, SF_DIR_MED)["lineitem"]
        assert sli is not li
        assert not hasattr(sli, _NPART_ATTR)
        _fan_out(sli.select("l_orderkey"), src=sli)
        assert getattr(sli, _NPART_ATTR) == getattr(li, _NPART_ATTR)
    finally:
        sibling.catalog.clearCache()
