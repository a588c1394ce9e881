"""Plan-shape snapshots for EVERY registered query: pinned per-query stage /
shuffle / broadcast counts, the analogue of the reference's full plan-shape
suites (/root/reference/tests/tpch_plans_test.rs, tpcds_plans_test.rs,
clickbench_plans_test.rs — "catches plan regressions independent of
results", SURVEY.md §5.4).

Why counts and not full plan text: Spark's formatted plans embed codegen
ids, statistics, and AQE wrappers that churn across minor versions; the
scale-relevant invariant is the EXCHANGE structure. A change that silently
adds a shuffle or drops a broadcast — the regressions that stay invisible
while results remain correct — flips a pinned number here.

Regenerate after a deliberate plan change:
    SPARK_GRAFT_REGEN_PLAN_SNAPSHOTS=1 python -m pytest tests/test_plan_snapshot.py -q
then review the JSON diff like any snapshot (insta-style workflow,
/root/reference/docs/source/contributor-guide/03-tests.md).

Counts are pinned at the default sf0.001 fixture scale: broadcast-vs-shuffle
picks depend on file-size statistics, so the suite auto-skips under a
non-default SPARK_GRAFT_TEST_SF_DIR.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from datafusion_distributed_spark.operators.registry import REGISTRY, _ensure_loaded
from datafusion_distributed_spark.plans.explain import stage_summary

from .conftest import SF_DIR, unregistered_reason

_ensure_loaded()

_SNAPSHOT_PATH = Path(__file__).parent / "plan_snapshots.json"
_REGEN = os.environ.get("SPARK_GRAFT_REGEN_PLAN_SNAPSHOTS") == "1"
_DEFAULT_SF = SF_DIR.rstrip("/").endswith("sf0.001")

_ALL = sorted(REGISTRY)


def _load_snapshots() -> dict:
    if _SNAPSHOT_PATH.exists():
        return json.loads(_SNAPSHOT_PATH.read_text())
    return {}


_SNAPSHOTS = _load_snapshots()
_COLLECTED: dict[str, dict] = {}


@pytest.mark.parametrize("name", _ALL)
def test_plan_shape_matches_snapshot(spark, name):
    if not _DEFAULT_SF:
        pytest.skip("plan snapshots are pinned at sf0.001 statistics")
    summary = stage_summary(REGISTRY[name].fn(spark, SF_DIR))
    if _REGEN:
        _COLLECTED[name] = summary
        return
    expected = _SNAPSHOTS.get(name)
    assert expected is not None, (
        f"{name}: no plan snapshot — regenerate with "
        "SPARK_GRAFT_REGEN_PLAN_SNAPSHOTS=1 python -m pytest "
        "tests/test_plan_snapshot.py -q"
    )
    assert summary == expected, (
        f"{name}: plan shape changed (shuffle/broadcast structure): "
        f"expected {expected}, got {summary}. If deliberate, regenerate "
        "snapshots and review the diff."
    )


def test_no_stale_snapshots():
    """Snapshot file must not carry entries for deleted queries."""
    if not _DEFAULT_SF or _REGEN:
        pytest.skip("stale check only meaningful against pinned snapshots")
    stale = sorted(n for n in set(_SNAPSHOTS) - set(_ALL) if unregistered_reason(n) is None)
    assert stale == [], f"snapshots for queries that no longer exist: {stale}"


def _write_snapshots() -> None:
    # Merge over the existing file so a filtered regen (-k, or skipped tests)
    # only rewrites the entries it actually collected; entries for queries
    # that no longer exist are pruned (the stale-entry test would catch them
    # on full runs, but a partial regen must not resurrect or drop others).
    # Entries of queries unregistered on this machine by design are kept.
    merged = {
        name: _COLLECTED.get(name, _SNAPSHOTS.get(name))
        for name in sorted(set(_SNAPSHOTS) | set(_COLLECTED))
        if name in _COLLECTED or name in _ALL or unregistered_reason(name) is not None
    }
    _SNAPSHOT_PATH.write_text(json.dumps(merged, indent=1, sort_keys=True) + "\n")


@pytest.fixture(scope="session", autouse=True)
def _flush_regen():
    yield
    if _REGEN and _COLLECTED:
        _write_snapshots()
