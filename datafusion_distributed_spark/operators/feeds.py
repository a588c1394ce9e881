"""Queries over the work-unit-feed source (sources/work_unit_feed.py).

The differential check mirrors the reference's work_unit_feed test: the same
data read through the feed must aggregate identically to reading the files
directly (/root/reference/tests/work_unit_feed.rs).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources import register_work_unit_feed
from .registry import query

_WUF_ORACLE = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY source
"""


@query("wuf_documents_stats", oracle=_WUF_ORACLE, tags=("source", "work-unit-feed"))
def wuf_documents_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate the documents table read through runtime-discovered work
    units (row-range descriptors enumerated driver-side from parquet footers,
    sub-split to 1000-row units so one file fans out to several tasks).

    Unit size is deliberately near row-group scale: columnar decode cannot
    skip rows before a unit's start, so U units per row group cost ~(U+1)/2
    full-group decodes. 128-row units over a 5000-row group (the old
    setting) meant 40 Python tasks × ~20× decode amplification — the exact
    shape that dies at 100 TB. tests/test_sources.py keeps the fine-grained
    fan-out proof on a tiny file where amplification is irrelevant."""
    register_work_unit_feed(spark)
    docs = (
        spark.read.format("work_unit_feed")
        .option("path", f"{sf_dir.rstrip('/')}/documents.parquet")
        .option("rows_per_unit", "1000")
        .load()
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


_WUF_FILTERED_ORACLE = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id
FROM documents
WHERE doc_id >= 100 AND doc_id < 400
GROUP BY lang
"""


@query(
    "wuf_filtered_stats",
    oracle=_WUF_FILTERED_ORACLE,
    tags=("source", "work-unit-feed", "pushdown"),
)
def wuf_filtered_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective aggregate through the FILTER-PRUNED work-unit feed: the
    doc_id band predicate reaches the source's pushFilters hook (requires
    spark.sql.python.filterPushdown.enabled, one of engine.RUNTIME_CONFS),
    prunes row-group units whose footer stats prove them empty, and Spark
    re-applies the band exactly post-scan (partial-pushdown contract) —
    so the oracle comparison also proves the pruning never drops a
    matching unit. The single-row-group driver file prunes nothing at test
    scale; tests/test_wuf_pushdown.py pins the pruning arithmetic on a
    multi-row-group fixture."""
    from ..sources import register_filtered_work_unit_feed

    register_filtered_work_unit_feed(spark)
    docs = (
        spark.read.format("work_unit_feed_filtered")
        .option("path", f"{sf_dir.rstrip('/')}/documents.parquet")
        .option("rows_per_unit", "1000")
        .load()
    )
    return (
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 400))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


_WUF_TASKS_ORACLE = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
"""


@query(
    "wuf_desired_tasks_stats",
    oracle=_WUF_TASKS_ORACLE,
    tags=("source", "work-unit-feed", "task-estimator"),
)
def wuf_desired_tasks_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate through the feed under a task-count annotation — the
    reference's TaskEstimator surface (tests/task_estimator_test.rs,
    src/events/desired_task_count.rs): the source DECLARES its desired
    stage task count (here 8) and the discovered units are reconciled into
    exactly that many scan partitions (split or merged as needed). The
    oracle proves result invariance under the repacking; the scan-side
    partition arithmetic is pinned in tests/test_sources.py."""
    register_work_unit_feed(spark)
    docs = (
        spark.read.format("work_unit_feed")
        .option("path", f"{sf_dir.rstrip('/')}/documents.parquet")
        .option("rows_per_unit", "1000")
        .option("desired_tasks", "8")
        .load()
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
