"""Self-tests for the benchmark's own arithmetic and bookkeeping.

    python3 -m pytest perfbench -q

No Spark session is started: queries are stand-in frames over a tiny
generated fixture, and the oracle is DuckDB over the same files.
"""

from __future__ import annotations

import math
import time
import types

import pytest

from perfbench import fixtures
from perfbench.stats import (
    Span,
    failed_frac,
    layer_split,
    percentile_value,
    samples_needed,
    self_time,
    split_error,
    tail_rule,
)

# -- tail percentile ----------------------------------------------------------


@pytest.mark.parametrize("n,p", [(11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)])
def test_tail_rule_known_points(n, p):
    assert tail_rule(n) == p


def test_tail_rule_leaves_ten_beyond_and_is_highest():
    assert tail_rule(10) is None
    for n in range(11, 600):
        p = tail_rule(n)
        beyond = n - math.ceil(p * n / 100)
        assert beyond >= 10, (n, p)
        if p < 99:
            assert n - math.ceil((p + 1) * n / 100) < 10, (n, p)


def test_samples_needed_inverts_tail_rule():
    assert samples_needed(75) == 40
    assert samples_needed(90) == 100
    for p in (50, 60, 75, 80):
        n = samples_needed(p)
        assert tail_rule(n) >= p > tail_rule(n - 1) if n > 11 else tail_rule(n) >= p


def test_percentile_value_is_nearest_rank():
    vals = list(range(1, 41))  # 1..40
    assert percentile_value(vals, 75) == 30  # 10 samples above it
    assert percentile_value(vals, 50) == 20
    assert percentile_value([5.0], 90) == 5.0


# -- failed_frac --------------------------------------------------------------


def test_failed_frac_counts_against_attempted():
    assert failed_frac(40, 0) == 0.0
    assert failed_frac(40, 4) == 0.1
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(3, 4)


class _Frame:
    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return list(self._rows)


def _fake_run(tmp_path):
    """A Run over three fake queries on a tiny fixture: one that matches
    the oracle, one whose rows disagree with it, and one that raises."""
    from perfbench import run as run_mod
    from perfbench.oracle import connect

    fdir, _ = fixtures.ensure(str(tmp_path), "sf0.1", scale=0.001)
    con = connect(fdir, ["region"])
    region = con.sql("SELECT r_regionkey, r_name FROM region").fetchall()
    con.close()

    def good(spark, d):
        return _Frame(["r_regionkey", "r_name"], region)

    def wrong(spark, d):
        return _Frame(["r_regionkey", "r_name"], region[:-1])

    def boom(spark, d):
        raise RuntimeError("boom")

    sql = "SELECT r_regionkey, r_name FROM region"
    registry = {
        n: types.SimpleNamespace(fn=f, oracle=sql, order_by=None)
        for n, f in (("good", good), ("wrong", wrong), ("boom", boom))
    }
    cpu = types.SimpleNamespace(start=lambda: {}, since=lambda before: 0.01, jit_ns=lambda: 0)
    session = types.SimpleNamespace(
        registry=registry,
        spark=None,
        cpu=cpu,
        table_names=["region"],
        hygiene=lambda: None,
        quiesce=lambda: None,
    )
    args = types.SimpleNamespace(seed=3, seconds=0, session=None)
    cfg = {
        "queries": ["good", "wrong", "boom"],
        "sessions": 1,
        "tail_percentile": 9,
        "settle_passes": 1,
        "warm_passes": 2,
    }
    return run_mod, run_mod.Run(args, cfg, fdir), session


def test_run_counts_every_execution_in_the_denominator(tmp_path):
    """Every execution is attempted once; every execution of the raising
    and the wrong query is a failure, each query named once."""
    _, run, session = _fake_run(tmp_path)
    run.measure(session, t_process=time.perf_counter())
    run.check(session)
    per_query = run.executions // 3
    assert run.executions == 3 * per_query >= 9
    assert run.failed == 2 * per_query
    assert set(run.failures) == {"wrong", "boom"}
    assert failed_frac(run.executions, run.failed) == pytest.approx(2 / 3)


def test_run_that_reaches_the_deadline_gives_no_result(tmp_path):
    """A run whose warm passes cannot finish before the deadline raises
    instead of reporting metrics over fewer samples."""
    run_mod, run, session = _fake_run(tmp_path)
    with pytest.raises(run_mod.ShortRun):
        run.measure(session, t_process=time.perf_counter() - run_mod.DEADLINE_S)


def test_sessions_pool_warm_samples_and_take_median_of_the_rest():
    """Two session records, each with its share of the queries: warm
    samples pool per query, cold batches add up, set-up and peak RSS are
    the median over sessions."""
    from perfbench.run import _e2e

    def session(setup, rss, cold, warm):
        return {
            "setup_s": setup,
            "peak_rss_mb": {"jvm": rss, "driver": 100.0},
            "cold_s": cold,
            "cold_cpu_s": {q: 2 * t for q, t in cold.items()},
            "warm_s": warm,
            "warm_cpu_s": {q: [2 * t for t in v] for q, v in warm.items()},
        }

    e = _e2e(
        [
            session(10.0, 900.0, {"a": 1.0}, {"a": [0.1, 0.2, 0.3]}),
            session(12.0, 1100.0, {"b": 3.0}, {"b": [1.0, 2.0, 3.0]}),
        ],
        tail_percentile=50,
    )
    assert e["setup_s"] == 11.0
    assert e["peak_rss_mb"] == 1100.0
    assert e["cold_batch_s"] == 4.0 and e["cold_batch_cpu_s"] == 8.0
    assert e["batch_s"] == pytest.approx(2.2) and e["batch_cpu_s"] == pytest.approx(4.4)
    assert e["query_p50_s"] == pytest.approx(0.65)
    assert e["query_tail_s"] == 0.3


def test_cpu_clock_reads_another_process():
    """The process CPU clock of a child counts the CPU it spent, at ns
    resolution, and excludes the time it slept."""
    import subprocess
    import sys

    from perfbench.run import _cpu_clock

    busy = "import time\nt = time.process_time() + 0.2\nwhile time.process_time() < t: pass\ntime.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", busy])
    try:
        time.sleep(1.0)
        spent = time.clock_gettime_ns(_cpu_clock(child.pid)) / 1e9
    finally:
        child.kill()
        child.wait()
    assert 0.2 <= spent < 0.9


# -- spans --------------------------------------------------------------------


def _span(name, a, b, sid, parent=None):
    return Span(name=name, start=a, end=b, query_id="q", span_id=sid, parent=parent)


def test_self_time_subtracts_union_of_children():
    root = _span("operators.build", 0.0, 10.0, 1)
    kids = [
        _span("catalyst.sql", 1.0, 3.0, 2, 1),
        _span("catalyst.sql", 2.0, 4.0, 3, 1),  # overlaps the first
        _span("catalyst.sql", 9.0, 12.0, 4, 1),  # runs past the parent
        _span("other", 5.0, 6.0, 5, 99),  # not a child
    ]
    assert self_time(root, [root, *kids]) == pytest.approx(10.0 - 3.0 - 1.0)


def test_layer_self_times_sum_to_query_latency():
    spans = [
        _span("query", 0.0, 9.0, 1),
        _span("operators.build", 0.0, 2.0, 2, 1),
        _span("catalyst.sql", 0.5, 1.5, 3, 2),
        _span("catalyst.plan", 2.0, 2.5, 4, 1),
        _span("exec.collect", 2.5, 6.0, 5, 1),
        _span("exec.noop", 6.0, 8.0, 6, 1),
        _span("slots.release", 8.0, 9.0, 7, 1),
    ]
    layers = ("operators.build", "catalyst.sql", "catalyst.plan", "exec.collect")
    split = layer_split(spans, layers)
    assert split == pytest.approx(
        {"operators.build": 1.0, "catalyst.sql": 1.0, "catalyst.plan": 0.5, "exec.collect": 3.5}
    )
    assert split_error(split, 6.0) == pytest.approx(0.0)
    assert split_error(split, 6.3) == pytest.approx(0.3 / 6.3)
    assert split_error(split, 6.3) <= 0.05


# -- fixtures -----------------------------------------------------------------


def test_fixture_is_deterministic_and_replicas_are_disjoint(tmp_path):
    a = fixtures.generate(scale=0.002)
    b = fixtures.generate(scale=0.002)
    assert all(a[k].equals(b[k]) for k in a)
    import duckdb

    x10, _ = fixtures.ensure(str(tmp_path), "x10", scale=0.002)
    con = duckdb.connect()
    n, keys = con.sql(
        f"SELECT count(*), count(DISTINCT o_orderkey) FROM read_parquet('{x10}/orders.parquet/*.parquet')"
    ).fetchone()
    assert n == keys == 10 * a["orders"].num_rows
    # cached on the second call
    assert fixtures.ensure(str(tmp_path), "x10", scale=0.002)[1] is None
