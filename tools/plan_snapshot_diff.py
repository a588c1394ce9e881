#!/usr/bin/env python3
"""Compare two plan-shape snapshot files (tests/plan_snapshots.json).

    python3 tools/plan_snapshot_diff.py git:HEAD tests/plan_snapshots.json

Each argument is a file path or ``git:<rev>`` (that revision's
tests/plan_snapshots.json). Prints how many entries kept, lost or gained
stages, shuffles and broadcasts, the totals of each count, and every entry
that gained one. Exits 1 if any entry gained a stage, a shuffle or a
broadcast, or if the two files do not name the same entries.
"""

from __future__ import annotations

import json
import subprocess
import sys

_SNAPSHOTS = "tests/plan_snapshots.json"
_COUNTS = ("n_stages", "n_shuffles", "n_broadcasts")


def _load(spec: str) -> dict:
    if spec.startswith("git:"):
        text = subprocess.run(
            ["git", "show", f"{spec[4:]}:{_SNAPSHOTS}"],
            capture_output=True, text=True, check=True,
        ).stdout
    else:
        with open(spec) as f:
            text = f.read()
    return json.loads(text)


def main() -> int:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    old, new = _load(sys.argv[1]), _load(sys.argv[2])
    if set(old) != set(new):
        print(f"entries differ: only old {sorted(set(old) - set(new))}, "
              f"only new {sorted(set(new) - set(old))}")
        return 1
    gained, fewer, same = [], [], 0
    for name in sorted(old):
        deltas = {k: new[name][k] - old[name][k] for k in _COUNTS}
        if any(d > 0 for d in deltas.values()):
            gained.append((name, old[name], new[name]))
        elif any(deltas.values()):
            fewer.append(name)
        else:
            same += 1
    print(f"{len(old)} entries: {same} unchanged, {len(fewer)} with fewer "
          f"boundaries and none more, {len(gained)} gained one")
    for k in _COUNTS:
        print(f"  {k}: {sum(v[k] for v in old.values())} -> "
              f"{sum(v[k] for v in new.values())}")
    for name, o, n in gained:
        print(f"  GAINED {name}: {o} -> {n}")
    return 1 if gained else 0


if __name__ == "__main__":
    sys.exit(main())
