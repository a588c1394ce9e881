"""Registration-layer unit tests for ``operators/registry.py`` (no Spark
session): ``sql_query`` defaults its oracle to the Spark text, keeps an
explicit one, and refuses a duplicate name."""

from __future__ import annotations

import pytest

from datafusion_distributed_spark.operators.registry import (
    REGISTRY,
    _portable_double_casts,
    sql_query,
)

_TEXT = "SELECT CAST(SUM(x) AS DOUBLE) AS s FROM t"
_NAMES = ("_test_sql_default_oracle", "_test_sql_explicit_oracle")


@pytest.fixture
def scratch_names():
    yield
    for name in _NAMES:
        REGISTRY.pop(name, None)


def test_sql_query_oracle_defaults_to_text(scratch_names):
    sql_query(_NAMES[0], _TEXT, tags=("t",), order_by="s", expect_empty=True)
    qd = REGISTRY[_NAMES[0]]
    assert qd.oracle == _portable_double_casts(_TEXT)
    assert qd.oracle != _TEXT  # the portable-cast rewrite applied
    assert (qd.tags, qd.order_by, qd.expect_empty) == (("t",), "s", True)
    assert qd.fn.__module__ == __name__


def test_sql_query_keeps_explicit_oracle(scratch_names):
    sql_query(_NAMES[1], _TEXT, oracle="SELECT 1 AS s")
    assert REGISTRY[_NAMES[1]].oracle == "SELECT 1 AS s"


def test_sql_query_duplicate_name_names_first_registration(scratch_names):
    sql_query(_NAMES[0], _TEXT)
    with pytest.raises(ValueError) as exc:
        sql_query(_NAMES[0], "SELECT 2 AS s")
    assert f"{__name__}.{_NAMES[0]}" in str(exc.value)
    assert REGISTRY[_NAMES[0]].oracle == _portable_double_casts(_TEXT)
