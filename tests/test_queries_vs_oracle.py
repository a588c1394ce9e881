"""Differential correctness: every registered query with an oracle runs on
Spark AND DuckDB at sf0.001 and must match exactly (multiset, sorted columns)
— the reference's core test method (tests/tpch_correctness_test.rs).

Queries without an oracle get a rows-computable smoke check.
"""

from __future__ import annotations

import pytest

from datafusion_distributed_spark.operators.registry import (
    REGISTRY,
    _conf_fingerprint,
    _ensure_loaded,
)

from .conftest import SF_DIR, compare_to_oracle, oracle_views

_ensure_loaded()

_WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle)
_ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if not q.oracle)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    qd = REGISTRY[name]
    confs = _conf_fingerprint(spark)
    df = qd.fn(spark, SF_DIR)
    # A builder leaves the session's confs as it found them.
    assert _conf_fingerprint(spark) == confs, f"{name} changed the session's confs"
    oracle_views(duck, SF_DIR)
    compare_to_oracle(df, duck, qd.oracle, name=name, order_by=qd.order_by)


def test_every_query_has_an_oracle():
    """The registry currently has FULL oracle coverage. If this fails, a new
    query shipped without a DuckDB oracle — either add one, or (for a
    genuinely non-SQL-expressible op) re-add a rows-only smoke check for it
    here, parametrized over the names this assertion prints."""
    assert _ROWS_ONLY == [], f"queries without an oracle: {_ROWS_ONLY}"
