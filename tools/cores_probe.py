"""Round-13 core-scaling probe (r12 VERDICT item 4): demonstrate multi-core
scale-up on the heavy operator families at the 10x fixture
(.scale_probe/sf1eq — built by tools/scale_probe.py, layout v4).

The driver's sf0.1 bench cannot show parallel speedup — per-query data
volumes are too small, so the battery is fixed-cost dominated (8-core total
~= 32-core total in BENCH_r12/BENCH_r12_c8). This probe times the named
families at 10x data under local[N] for one N per process (the master is a
session-build-time property), with the bench's noop-sink methodology;
running it twice (--cpus 8, --cpus 32) and diffing the merged record gives
the 8-vs-32 ratio per query at a scale where the shuffle/compute path
dominates the fixed floor.

Usage:
  python tools/cores_probe.py --cpus 8  [--families dd_,sim_,mm_] [--runs 3]
  python tools/cores_probe.py --cpus 32 [--families dd_,sim_,mm_] [--runs 3]

Writes/merges tools/cores_probe_r13.json:
  {"queries": {name: {"c8": sec, "c32": sec, "speedup_8_to_32": r}},
   "fixture": ..., "runs": ...}
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_probe import PROBE_DIR, build_probe_dir  # noqa: E402

OUT_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "cores_probe_r13.json"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--families", default="dd_,sim_,mm_")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    prefixes = tuple(p for p in args.families.split(",") if p)

    # build_session reads SPARK_GRAFT_CPUS for master AND shuffle width —
    # the same contract the driver's c8 bench run exercises.
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    from datafusion_distributed_spark.engine import build_session
    from datafusion_distributed_spark.operators._util import release_all_slots
    from datafusion_distributed_spark.operators.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    _ensure_loaded()
    spark = build_session(app_name=f"cores-probe-c{args.cpus}")
    build_probe_dir(spark)

    names = sorted(n for n in REGISTRY if n.startswith(prefixes))
    key = f"c{args.cpus}"
    record: dict = {"fixture": PROBE_DIR, "runs": args.runs, "queries": {}}
    if os.path.exists(OUT_PATH):
        with open(OUT_PATH) as f:
            record = json.load(f)
    queries = record.setdefault("queries", {})
    for i, name in enumerate(names):
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"cores:{name}")
        try:
            fn(spark, PROBE_DIR).write.format("noop").mode("overwrite").save()
            times = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                fn(spark, PROBE_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(time.perf_counter() - t0)
            sec = round(statistics.median(times), 3)
        except Exception as exc:
            print(f"cores-probe: {name} failed: {exc}", file=sys.stderr)
            sec = None
        release_all_slots(spark)
        spark.catalog.clearCache()
        row = queries.setdefault(name, {})
        row[key] = sec
        if row.get("c8") and row.get("c32"):
            row["speedup_8_to_32"] = round(row["c8"] / row["c32"], 2)
        else:  # never pair a speedup with a missing timing
            row.pop("speedup_8_to_32", None)
        print(f"[{i + 1}/{len(names)}] {name} {key}={sec}s", file=sys.stderr)
    with open(OUT_PATH, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
