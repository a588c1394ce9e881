#!/usr/bin/env python
"""Benchmark harness: runs the full registered query battery at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "total_p50_sec", "value": N, "unit": "sec", "failed": [...],
   "unregistered": {...}, "memos": {...}, "queries": {...}, "sf": ...}

Methodology mirrors the reference's benchmark stats (p50 of repeated runs,
/root/reference/benchmarks/src/stats.rs; BASELINE.md §B): one warm-up run,
then N_RUNS timed runs per query (plans/cost_lint.measure), per-query
median, total = sum of medians.
(A round-9 experiment ran lit_* entries warm-up + single-run to shave wall;
REVERTED — the single run right after warm-up measures ~40% above the 3-run
median on those sub-second star queries, polluting the battery total for a
~54 s wall saving.)
"""

from __future__ import annotations

import gc
import json
import os
import sys

N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from datafusion_distributed_spark.engine import build_session
    from datafusion_distributed_spark.literal import (
        HAVE_REFERENCE_QUERIES,
        NO_REFERENCE_QUERIES_REASON,
    )
    from datafusion_distributed_spark.operators.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    spark = build_session(app_name="dds-bench")

    sf = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    from datafusion_distributed_spark.plans.cost_lint import (
        budget_seconds,
        input_rows,
        is_narrow,
        measure,
        table_row_counts,
    )

    from datafusion_distributed_spark.operators._util import release_all_slots

    row_counts = table_row_counts(spark, SF_DIR)
    per_query: dict[str, float] = {}
    failed: list[str] = []
    cost_flags: list[str] = []
    for name, qd in sorted(REGISTRY.items()):
        frames = []

        def run() -> None:
            df = qd.fn(spark, SF_DIR)
            df.collect()
            if not frames:
                frames.append(df)

        try:
            per_query[name] = round(measure(run, N_RUNS), 4)
            # Per-row cost lint (round-4 verdict: a clean narrow plan can
            # hide a 2,000× per-row constant — e.g. a per-row JVM exception
            # path). Classified off the warm-up frame: zero extra builds.
            warm = frames[0]
            narrow_rows = input_rows(warm, row_counts) if is_narrow(warm) else None
            if narrow_rows is not None and per_query[name] > budget_seconds(
                narrow_rows
            ):
                cost_flags.append(
                    f"{name}: {per_query[name]:.2f}s / {narrow_rows} rows "
                    f"(budget {budget_seconds(narrow_rows):.2f}s)"
                )
        except Exception as exc:  # keep the harness alive; surface on stderr
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            per_query[name] = -1.0
            failed.append(name)
        # Per-query hygiene: iterative queries localCheckpoint/persist
        # intermediate frames; without an explicit release those blocks
        # accumulate across the battery and squeeze the unified memory pool,
        # inflating later queries' times (measured ~1.4x on the
        # alphabetically-late sim_* family at 155 queries). clearCache drops
        # cached frames; gc.collect() releases Python-side RDD handles so
        # the ContextCleaner frees checkpoint blocks. clearCache does NOT
        # free slot-held localCheckpoint blocks (the slot dict keeps a
        # strong ref until the owner's next invocation — the r12
        # text_token_stats cost-flag mechanism), so release those
        # explicitly too.
        release_all_slots(spark)
        spark.catalog.clearCache()
        gc.collect()

    total = round(sum(v for v in per_query.values() if v >= 0), 4)
    record = json.dumps(
        {
            "metric": "total_p50_sec",
            "value": total,
            "unit": "sec",
            # Named ahead of the per-query map so they survive a truncated
            # stdout capture: failed entries are -1 in `queries` and left
            # out of `value`; the lit_* lane is not registered at all
            # without the reference query texts.
            "failed": failed,
            "unregistered": (
                {} if HAVE_REFERENCE_QUERIES
                else {"lit_*": NO_REFERENCE_QUERIES_REASON}
            ),
            # Entry count of each session/context memo at the end of the
            # run: which memos were warm while the timed runs ran.
            "memos": {
                name[len("_dds_"):]: len(d)
                for owner in (spark, spark.sparkContext)
                for name, d in vars(owner).items()
                if name.startswith("_dds_") and isinstance(d, dict)
            },
            "queries": per_query,
            "sf": sf_val,
            "n_queries": len(per_query),
            "runs_per_query": N_RUNS,
            # Narrow-only queries whose p50 exceeds the per-row cost
            # budget (plans/cost_lint.py) — empty means no hidden
            # per-row scale-killers this round.
            "cost_flags": cost_flags,
            # Session configs BASELINE.md §B says to record per run.
            "configs": {
                k: spark.conf.get(k, None)
                for k in (
                    "spark.master",
                    "spark.sql.shuffle.partitions",
                    "spark.sql.adaptive.enabled",
                    "spark.sql.files.maxPartitionBytes",
                    "spark.sql.autoBroadcastJoinThreshold",
                )
            },
        }
    )
    print(record)
    # Mirror the SAME line to a file (r12 VERDICT item 8): the driver's
    # stdout capture truncates at 2,000 chars, which cost round 12 its
    # round-over-round comparison. Additive only — stdout stays the
    # one-line contract; the file is best-effort, and git ignores it, so a
    # bench run leaves the checkout clean.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "tools", "bench_last.json"), "w") as f:
            f.write(record + "\n")
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
