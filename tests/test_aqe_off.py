"""AQE-off validation sweep.

The reference re-runs every correctness suite under adaptive execution
(`ADAPTIVE=true`, /root/reference/tests/tpch_correctness_test.rs:15) so a bug
masked by one planning mode surfaces in the other. We default AQE ON (the
scale path), so the dual run here is the full oracle battery with
``spark.sql.adaptive.enabled=false`` — static planning, no runtime coalescing
or skew-splitting that could hide a wrong exchange.
"""

from __future__ import annotations

import pytest

from datafusion_distributed_spark.operators.registry import REGISTRY, _ensure_loaded

from .conftest import AQE, SF_DIR, aqe_off, compare_to_oracle, oracle_views

_ensure_loaded()

_WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle)


@pytest.fixture(scope="module")
def aqe_off_spark(spark):
    with aqe_off(spark):
        yield spark


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle_aqe_off(aqe_off_spark, duck, name):
    spark = aqe_off_spark
    assert spark.conf.get(AQE) == "false"
    qd = REGISTRY[name]
    df = qd.fn(spark, SF_DIR)
    oracle_views(duck, SF_DIR)
    compare_to_oracle(df, duck, qd.oracle, name=f"{name}[aqe-off]", order_by=qd.order_by)
