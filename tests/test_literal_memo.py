"""A literal-SQL memo hit must not pin a plan: it gets a fresh
QueryExecution, so a conf flipped between calls (here AQE) shapes the next
plan."""

from __future__ import annotations

import pyspark.sql.functions as F

from datafusion_distributed_spark.engine import memo
from datafusion_distributed_spark.literal import run_literal_sql

from .conftest import SF_DIR

_AQE = "spark.sql.adaptive.enabled"


def _top_node(df) -> str:
    return df._jdf.queryExecution().executedPlan().getClass().getSimpleName()


def test_literal_memo_hit_replans_under_current_confs(spark):
    # Pre-seed the memo so no reference text is read: the key mirrors
    # run_literal_sql's (suite, name, date shift, year shift, sf_dir).
    seeded = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    frames = memo(spark, "literal_frames")
    key = ("memo_probe", "q0", 0, 0, SF_DIR.rstrip("/"))
    frames[key] = seeded
    prior = spark.conf.get(_AQE)
    try:
        spark.conf.set(_AQE, "true")
        first = run_literal_sql(spark, SF_DIR, "memo_probe", "q0")
        assert _top_node(first) == "AdaptiveSparkPlanExec"
        spark.conf.set(_AQE, "false")
        second = run_literal_sql(spark, SF_DIR, "memo_probe", "q0")
        assert second is not first
        assert _top_node(second) != "AdaptiveSparkPlanExec"
        assert sorted(second.collect()) == sorted(seeded.collect())
    finally:
        spark.conf.set(_AQE, prior)
        del frames[key]
