"""Smoke tests for the tools/run_query.py CLI (the operational entry
point). Runs it in-process (argv patch) to avoid a second JVM spin-up."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "run_query", Path(__file__).parent.parent / "tools" / "run_query.py"
)
run_query = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(run_query)


def _run(argv: list[str], capsys) -> tuple[int, str]:
    old = sys.argv
    sys.argv = ["run_query.py", *argv]
    try:
        rc = run_query.main()
    finally:
        sys.argv = old
    return rc, capsys.readouterr().out


def test_list_filters_by_prefix(capsys):
    rc, out = _run(["--list", "dd_"], capsys)
    assert rc == 0
    names = [line.split()[0] for line in out.strip().splitlines()]
    assert "dd_block_dedup" in names
    assert all(n.startswith("dd_") for n in names)


def test_unknown_name_suggests(capsys):
    rc, out = _run(["tpch_q6"], capsys)
    assert rc == 2
    assert "tpch_q6_revenue_forecast" in out


def test_runs_query_and_prints_rows(spark, capsys):
    # `spark` fixture keeps the session warm; build_session() inside main()
    # returns the active session, so this does not boot a second JVM.
    rc, out = _run(
        ["cb_distinct_users_per_type", "--sf", "/root/testdata/sf0.001", "-n", "3"],
        capsys,
    )
    assert rc == 0
    assert "event_type" in out.splitlines()[0]
    assert "row(s) shown" in out
    # The run's prepared-frame outcome closes the output.
    assert out.splitlines()[-1] in ("-- memo: hit", "-- memo: miss"), out
