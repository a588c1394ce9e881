"""_fan_out partition-probe memo (r12 optimization round).

The conditional fan-out's ``df.rdd.getNumPartitions()`` probe physically
plans the frame on every call (~40 ms of py4j + planning measured by the
r12 floor probe) while the split count of a fixed file set under fixed
session confs is a session constant. ``_fan_out(df, src=table_frame)``
memoizes the count per (session, sf_dir, table) via the ``_dds_scan_key``
attribute tables.load_tables stamps on every registry frame, in the
session's ``memo(spark, "fanout_npart")``.

Pinned here: the memo is consulted (not just populated), frames without a
stamp keep the dynamic probe, the decision itself is unchanged in both
regimes (under-split -> repartition to defaultParallelism; well-split ->
pass-through), and sibling sessions do not share a memo.
"""

from __future__ import annotations

from datafusion_distributed_spark.engine import memo
from datafusion_distributed_spark.operators._util import _fan_out
from datafusion_distributed_spark.tables import load_tables

from .conftest import SF_DIR


def _npart(spark) -> dict:
    return memo(spark, "fanout_npart")


def _clear_memo(spark) -> None:
    _npart(spark).clear()


def test_stamped_probe_memoizes_and_is_consulted(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    _clear_memo(spark)
    par = spark.sparkContext.defaultParallelism

    out = _fan_out(docs.select("doc_id", "text"), src=docs)
    npart = _npart(spark)
    key = (SF_DIR.rstrip("/"), "documents")
    assert npart == {key: 1}  # sf0.001 documents is a single split
    # under-split input -> explicit repartition to defaultParallelism
    assert out.rdd.getNumPartitions() == par

    # Prove the memo is CONSULTED: plant a fake "well-split" count and
    # check the repartition disappears (pass-through keeps 1 partition).
    npart[key] = par + 1
    passthrough = _fan_out(docs.select("doc_id", "text"), src=docs)
    assert passthrough.rdd.getNumPartitions() == 1
    _clear_memo(spark)


def test_unstamped_frame_uses_dynamic_probe(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    _clear_memo(spark)
    synthetic = docs.select("doc_id", "text").limit(10)
    out = _fan_out(synthetic)  # no src -> dynamic probe, no memo entry
    assert not _npart(spark)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    # src without the stamp (not a registry table frame) also stays dynamic
    out2 = _fan_out(synthetic, src=synthetic)
    assert not _npart(spark)
    assert out2.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_sibling_sessions_do_not_share_memo(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    _clear_memo(spark)
    _fan_out(docs.select("doc_id"), src=docs)
    assert _npart(spark)

    sibling = spark.newSession()
    try:
        assert not _npart(sibling)
        sdocs = load_tables(sibling, SF_DIR)["documents"]
        _fan_out(sdocs.select("doc_id"), src=sdocs)
        assert _npart(sibling)
        assert _npart(sibling) is not _npart(spark)
    finally:
        sibling.catalog.clearCache()
