"""Query/operator registry.

Every implemented operator from SURVEY.md §2 registers here as a named query:
a PySpark builder ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
a DuckDB oracle SQL string over the same parquet tables. This mirrors the
reference's differential-correctness method: each query runs distributed AND
on a single-node oracle, results must match
(/root/reference/tests/tpch_correctness_test.rs, src/test_utils/property_based.rs:14-90).

Conventions enforced for oracle hash-parity (see SURVEY.md §7 risk register):
- Money/ratio aggregates are computed in DECIMAL (exact, summation-order
  independent) and CAST to DOUBLE only at output; divisions happen in DOUBLE
  on already-exact numerators/denominators.
- Temporal outputs are formatted strings; session timezone is UTC.
- Every computed column is aliased identically in Spark and oracle SQL.
- LIMIT/top-k queries order by an exact (decimal/integer) sort key plus a
  unique tiebreaker, so the selected row set is deterministic.
"""

from __future__ import annotations

import re
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..tables import load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]


def _portable_double_casts(sql: str) -> str:
    """Rewrite every ``CAST(expr AS DOUBLE)`` in DuckDB oracle SQL to
    ``CAST(CAST(expr AS VARCHAR) AS DOUBLE)``.

    Why: DuckDB's DECIMAL→DOUBLE cast is not correctly rounded (it divides
    hugeint by 10^scale in floating point and can be 1 ulp off), while Spark's
    BigDecimal.doubleValue() IS correctly rounded — so exact decimal results
    could hash-differ at the last bit. Casting via VARCHAR forces strtod,
    which is correctly rounded. For values that are already DOUBLE/INT the
    varchar round-trip is an identity, so blanket application is safe.
    """
    result = sql
    start = 0
    while True:
        upper = result.upper()
        i = upper.find("CAST(", start)
        if i < 0:
            break
        depth = 0
        k = i + 4  # at '('
        while k < len(result):
            if result[k] == "(":
                depth += 1
            elif result[k] == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        inner = result[i + 5 : k]
        m = re.match(r"(?is)^(.*\S)\s+AS\s+DOUBLE\s*$", inner)
        if m and not re.search(r"(?is)AS\s+VARCHAR\s*\)\s*$", m.group(1)):
            expr = m.group(1)
            new = f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"
            result = result[:i] + new + result[k + 1 :]
            start = i + len("CAST(CAST(")  # rescan inside for nested casts
        else:
            start = i + 5
    return result


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver runs rows-only check
    tags: tuple[str, ...] = ()
    # For top-k/sorted queries: an ORDER BY clause (over OUTPUT column names)
    # that deterministically reproduces the Spark result's row order. Tests
    # then assert the returned ORDER matches the oracle's, not just the
    # multiset — the reference's compare_ordering property
    # (/root/reference/src/test_utils/property_based.rs:14-90).
    order_by: str | None = None
    # Vacuity gate opt-out: a query whose CORRECT answer is the empty set at
    # every fixture scale (deliberate empty-result classes) must declare it.
    # Every other registered query must return >0 rows at SOME validated
    # scale, or the gate (tests/test_vacuity.py, tools/validate.py) fails —
    # a green hash-match on 0 = 0 proves parse/plan only, never semantics
    # (the reference value-proves on populated selections,
    # /root/reference/tests/tpcds_correctness_test.rs; r9 VERDICT found two
    # entries that were vacuously green for this exact reason).
    expect_empty: bool = False


REGISTRY: dict[str, QueryDef] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    order_by: str | None = None,
    expect_empty: bool = False,
):
    """Register a named query. ``oracle`` is DuckDB SQL over the pre-registered
    views (region nation customer supplier part orders lineitem events
    documents embeddings). ``order_by`` declares the output ordering for
    sorted queries so tests can verify it (property_based.rs compare_ordering)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(
                f"duplicate query name {name!r}: already registered by "
                f"{REGISTRY[name].fn.__module__}.{REGISTRY[name].fn.__qualname__}"
            )
        fixed = _portable_double_casts(oracle) if oracle else None
        REGISTRY[name] = QueryDef(
            name=name,
            fn=fn,
            oracle=fixed,
            tags=tags,
            order_by=order_by,
            expect_empty=expect_empty,
        )
        return fn

    return deco


def sql_query(
    name: str,
    text: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    order_by: str | None = None,
    expect_empty: bool = False,
) -> None:
    """Register a plain SQL-text entry: its builder loads the tables and
    returns ``spark.sql(text)``. ``oracle`` defaults to ``text``."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir)
        return spark.sql(text)

    # Named after the entry and its registering module, so tracebacks and
    # the duplicate-name error point at the registration.
    build.__module__ = sys._getframe(1).f_globals["__name__"]
    build.__name__ = build.__qualname__ = name
    oracle = text if oracle is None else oracle
    query(name, oracle, tags, order_by, expect_empty)(build)


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: qd.fn for name, qd in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: qd.oracle for name, qd in REGISTRY.items() if qd.oracle}


_LOADED = False


def _ensure_loaded() -> None:
    """Import all operator modules so their registrations run."""
    global _LOADED
    if _LOADED:
        return
    from ..literal import HAVE_REFERENCE_QUERIES
    from . import (  # noqa: F401
        aggregates,
        analytic,
        catalog,
        clickstream,
        dedup,
        feeds,
        multimodal,
        pipeline,
        relational,
        sampling,
        similarity,
        skew,
        sqlpath,
        textstats,
        udfs,
    )

    if HAVE_REFERENCE_QUERIES:
        from . import literal_entries  # noqa: F401

    _LOADED = True
