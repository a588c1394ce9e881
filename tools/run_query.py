"""Run any registered query by name from the command line.

The operational entry point a reference user gets from its console/CLI
(/root/reference/console/README.md): pick a query, point it at a data
directory, see rows, optionally the stage-tree EXPLAIN or full EXPLAIN
ANALYZE with per-stage metrics.

Usage:
    python tools/run_query.py tpch_q1_pricing_summary
    python tools/run_query.py dd_block_dedup --sf /root/testdata/sf0.01 -n 5
    python tools/run_query.py sim_ann_recall --explain
    python tools/run_query.py cb_topk_users --analyze
    python tools/run_query.py --list [prefix]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("name", nargs="?", help="registered query name")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("-n", "--rows", type=int, default=20, help="rows to show")
    ap.add_argument("--explain", action="store_true", help="stage-tree plan")
    ap.add_argument("--analyze", action="store_true",
                    help="EXPLAIN ANALYZE (runs the query, per-stage metrics)")
    ap.add_argument("--list", dest="list_", action="store_true",
                    help="list query names (optionally filtered by `name` prefix)")
    args = ap.parse_args()

    from datafusion_distributed_spark.operators.registry import (
        REGISTRY,
        _ensure_loaded,
        prepare,
    )

    _ensure_loaded()
    if args.list_ or not args.name:
        prefix = args.name or ""
        for qn in sorted(REGISTRY):
            if qn.startswith(prefix):
                print(qn, " ".join(REGISTRY[qn].tags))
        return 0
    if args.name not in REGISTRY:
        near = [q for q in sorted(REGISTRY) if args.name in q]
        print(f"unknown query {args.name!r}" + (f"; similar: {near}" if near else ""))
        return 2

    from datafusion_distributed_spark.engine import build_session

    spark = build_session(app_name=f"run:{args.name}", master="local[8]")
    df, outcome = prepare(REGISTRY[args.name], spark, args.sf)
    # Worker plan rewrite hooks run where a plan leaves the engine for
    # execution (reference: with_distributed_worker_plan_rewrite_handler,
    # docs/advanced/03-plan-hooks.md). No-op unless hooks are registered.
    from datafusion_distributed_spark.plans.hooks import run_plan_hooks

    df = run_plan_hooks(df)

    if args.explain:
        from datafusion_distributed_spark.plans.explain import render_stage_tree

        print(render_stage_tree(df))
    elif args.analyze:
        from datafusion_distributed_spark.plans.explain import explain_analyze

        print(explain_analyze(df))
    else:
        t0 = time.time()
        rows = df.limit(args.rows).collect()
        dt = time.time() - t0
        cols = df.columns
        print(" | ".join(cols))
        for r in rows:
            print(" | ".join(str(r[c]) for c in cols))
        print(f"-- {len(rows)} row(s) shown (limit {args.rows}) in {dt:.2f}s "
              f"[{args.name} @ {args.sf}]")
    # The prepared-frame memo's outcome: hit, miss, or why the entry
    # rebuilds on every call (operators/registry.py docstring).
    print(f"-- memo: {outcome}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
