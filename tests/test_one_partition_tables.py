"""Tables of at most one task's bytes are read as one partition.

``tables.load_tables`` reads such a table through ``coalesce(1)``, so its
scan reports SinglePartition and Spark plans operators among such tables
with no exchange. Pinned here: the rule never gathers a larger table into
one partition when it is joined to a one-partition table, and the table
memo and the views follow the split threshold, which
``spark.sql.files.maxPartitionBytes`` clamps.
"""

from __future__ import annotations

import os
import re
from contextlib import ExitStack

import pytest

from datafusion_distributed_spark.plans.explain import _jchildren, _unwrap
from datafusion_distributed_spark.tables import _NPART_ATTR, load_tables

from .conftest import MAX_PARTITION_BYTES, SF_DIR, SF_DIR_MED, session_confs


@pytest.fixture()
def confs(spark):
    """Sets session confs for one test and restores them after it."""
    with ExitStack() as stack:
        yield lambda **kv: stack.enter_context(session_confs(spark, kv))
    load_tables(spark, SF_DIR)  # re-point the bare views for later tests


def _exchanges_over(plan, path: str) -> list[str]:
    """Each exchange whose subtree reads only ``path``'s table, as its node
    name and partitioning with expression ids dropped."""
    out = []

    def walk(node) -> None:
        node = _unwrap(node)
        name = node.nodeName()
        if "Exchange" in name:
            tree = node.toString()
            if path in tree and tree.count(".parquet]") == 1:
                detail = node.simpleString(100).splitlines()[0]
                out.append(re.sub(r"#\d+L?|plan_id=\d+", "", detail))
        for child in _jchildren(node):
            walk(child)

    walk(plan)
    return out


@pytest.mark.parametrize("aqe", ["true", "false"])
@pytest.mark.parametrize("broadcast", ["10485760", "-1"])
def test_small_table_join_keeps_big_side_exchanges(spark, confs, aqe, broadcast):
    """orders (~280 KB at sf0.01) is one partition and lineitem (~1 MB) is
    split: the join plans the same exchanges over lineitem as with orders
    read as Spark's own scan, none of them gathers lineitem into one
    partition, and the join's output has as many partitions either way."""
    confs(**{
        MAX_PARTITION_BYTES: str(512 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": broadcast,
        "spark.sql.adaptive.enabled": aqe,
    })
    tb = load_tables(spark, SF_DIR_MED)
    li, orders = tb["lineitem"], tb["orders"]
    size = {
        t: os.path.getsize(f"{SF_DIR_MED.rstrip('/')}/{t}.parquet")
        for t in ("lineitem", "orders")
    }
    assert size["orders"] <= 512 * 1024 < size["lineitem"], size
    assert getattr(orders, _NPART_ATTR) == 1
    assert not hasattr(li, _NPART_ATTR) and li.rdd.getNumPartitions() > 1
    raw_orders = spark.read.parquet(f"{SF_DIR_MED.rstrip('/')}/orders.parquet")

    def join(o):
        return li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )

    ruled, plain = join(orders), join(raw_orders)
    path = "lineitem.parquet"
    ruled_ex = _exchanges_over(ruled._jdf.queryExecution().executedPlan(), path)
    plain_ex = _exchanges_over(plain._jdf.queryExecution().executedPlan(), path)
    assert ruled_ex == plain_ex
    assert not any("SinglePartition" in e for e in ruled_ex)
    if broadcast == "-1":
        assert any("hashpartitioning(l_orderkey" in e for e in ruled_ex), ruled_ex
    plan = ruled._jdf.queryExecution().executedPlan().toString()
    assert ("AdaptiveSparkPlan" in plan) == (aqe == "true")
    assert ruled.rdd.getNumPartitions() == plain.rdd.getNumPartitions()
    assert ruled.count() == plain.count() > 0


def test_split_threshold_keys_the_memo_and_views(spark, confs):
    """One session loads the tables under the default conf, then under
    64 KiB splits: the second load returns split frames, not the memoized
    one-partition ones, and the bare views point at them."""
    default = load_tables(spark, SF_DIR_MED)["lineitem"]
    assert default.rdd.getNumPartitions() == 1

    confs(**{MAX_PARTITION_BYTES: str(64 * 1024)})
    split = load_tables(spark, SF_DIR_MED)["lineitem"]
    assert split is not default
    n = split.rdd.getNumPartitions()
    assert n >= 16
    view = spark.table("lineitem")
    assert view.rdd.getNumPartitions() == n
    assert "Coalesce" not in view._jdf.queryExecution().executedPlan().toString()
