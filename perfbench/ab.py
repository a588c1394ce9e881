#!/usr/bin/env python3
"""Repeat a workload, or interleave two trees run by run.

    python3 perfbench/ab.py --workload olap_sf01 --trees . --runs 10
    python3 perfbench/ab.py --workload olap_sf01 --trees /path/parent . --runs 10

Each tree must hold a byte-identical ``perfbench/`` (the same benchmark
code measures both sides). Run ``i`` uses seed ``seed0 + i`` on every tree,
and the side that goes first alternates from run to run, so drift on a
shared host falls on both sides alike. Prints one JSON object: per tree and
metric the median and quartiles over the runs, and for two trees how many
runs the second tree read lower (better, for every end-to-end metric;
ties count for neither).
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import quartiles, spread  # noqa: E402


def _same_bench(trees: list[str]) -> None:
    base = os.path.join(trees[0], "perfbench")
    for other in trees[1:]:
        cmp = filecmp.dircmp(base, os.path.join(other, "perfbench"), ignore=["__pycache__"])
        if cmp.diff_files or cmp.left_only or cmp.right_only:
            raise SystemExit(f"perfbench/ differs between {trees[0]} and {other}")


def run_once(tree: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"{tree}: run failed ({out.returncode}):\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--trees", nargs="+", required=True, help="one tree (repeat) or two (A/B)")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if len(args.trees) > 2:
        raise SystemExit("at most two trees")
    trees = [os.path.abspath(t) for t in args.trees]
    _same_bench(trees)

    results: dict[str, list[dict]] = {t: [] for t in trees}
    for i in range(args.runs):
        order = trees if i % 2 == 0 else trees[::-1]
        for tree in order:
            res = run_once(tree, args.workload, args.seed0 + i, args.seconds, args.trace)
            results[tree].append(res)
            print(f"run {i} {tree}: failed={res['failed']}", file=sys.stderr)

    summary: dict = {"workload": args.workload, "runs": args.runs, "trees": {}}
    for tree, runs in results.items():
        per_metric = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = quartiles(vals)
            per_metric[name] = {
                "median": med, "q1": q1, "q3": q3, "spread": spread(vals),
                "unit": runs[0]["metrics"][name]["unit"], "values": vals,
            }
        summary["trees"][tree] = {
            "metrics": per_metric,
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
        }
    if len(trees) == 2:
        a, b = (results[t] for t in trees)
        summary["b_lower"] = {
            name: sum(
                rb["metrics"][name]["value"] < ra["metrics"][name]["value"] for ra, rb in zip(a, b)
            )
            for name in a[0]["metrics"]
        }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
