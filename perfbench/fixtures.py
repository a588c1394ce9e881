"""Deterministic input tables for the benchmark.

The benchmark reads nothing outside its checkout, so it generates its own
copy of the star schema + ``events``/``documents``/``embeddings`` tables
that ``datafusion_distributed_spark.tables.TABLE_NAMES`` registers. Column
names, types and value domains follow the sf0.1 fixture the engine's tests
use (TESTDATA.md, FIXTURES.md); the values come from one fixed data seed,
so every run of every workload reads byte-identical files.

Two fixtures are built, each once per checkout, into a cache directory
outside version control and stamped with ``LAYOUT_VERSION``:

- ``sf0.1``: one parquet file per table (600k ``lineitem`` rows);
- ``x10``: the star tables replicated 10× with disjoint key shifts, the
  same scheme as ``tools/scale_probe.py`` (intra-replica joins survive,
  cross-replica keys never match), written as directories of part files
  the way a Spark job writes them. The other tables are copied unchanged.

Usage: ``python3 perfbench/fixtures.py [--kind sf0.1|x10]`` builds the
fixture and prints its directory.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when any generated value, type or file layout changes: a cached
# fixture with another stamp is deleted and rebuilt.
LAYOUT_VERSION = 1
DATA_SEED = 42

# Rows per table at scale 1.0 of this generator (== the engine's sf0.1).
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# Key-column shifts per replica (disjoint ranges; FK columns shift by the
# same step as the PK they reference). nation/region are fixed dims.
STAR_SHIFTS: dict[str, dict[str, int]] = {
    "orders": {"o_orderkey": 1_000_000_000, "o_custkey": 10_000_000},
    "lineitem": {
        "l_orderkey": 1_000_000_000,
        "l_partkey": 10_000_000,
        "l_suppkey": 1_000_000,
    },
    "customer": {"c_custkey": 10_000_000},
    "part": {"p_partkey": 10_000_000},
    "supplier": {"s_suppkey": 1_000_000},
}
N_REPLICAS = 10
FILES_PER_REPLICA = 3

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    """Uniform midnight timestamps in [lo, hi], microsecond precision."""
    day0 = (lo - dt.date(1970, 1, 1)).days
    span = (hi - lo).days + 1
    us = (day0 + rng.integers(0, span, n)).astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-token documents over a 30-word vocabulary. About 5% are near
    copies of an earlier document (10% of tokens replaced, tagged with a
    trailing ``dup``), and a few of those are repeated exactly, so the
    dedup/near-dup operators have real clusters to find."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    n_near = n // 20
    near_at = set(rng.choice(np.arange(n // 10, n), size=n_near, replace=False).tolist())
    exact_at = set(rng.choice(sorted(near_at), size=n_near // 30, replace=False).tolist())
    for i in range(n):
        if i in near_at:
            if i in exact_at and texts:
                texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
                continue
            base = texts[int(rng.integers(0, i))].split()
            if base[-1] == "dup":
                base = base[:-1]
            flip = rng.random(len(base)) < 0.1
            toks = np.where(flip, vocab[rng.integers(0, len(vocab), len(base))], base)
            texts.append(" ".join(toks.tolist()) + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)].tolist()))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, type=pa.string()),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate(scale: float = 1.0, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` × the engine's sf0.1 row counts."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _choice(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": _choice(rng, names, np_),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": _choice(rng, PART_TYPES, np_),
            "p_size": i32(rng.integers(1, 51, np_)),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 499999.99, no),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
            "o_orderpriority": _choice(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 104999.99, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
            "l_linestatus": _choice(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    t0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, ne).astype(np.int64),
            "event_type": _choice(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, nv)),
        }
    )
    return t


def _replicas(table: pa.Table, shifts: dict[str, int]):
    for rep in range(N_REPLICAS):
        if rep == 0:
            yield table
            continue
        cols = [
            pc.add(table[c], pa.scalar(rep * shifts[c], table[c].type)) if c in shifts else table[c]
            for c in table.column_names
        ]
        yield pa.table(cols, names=table.column_names)


def _write_x10(base: dict[str, pa.Table], out: str) -> None:
    for name, table in base.items():
        if name not in STAR_SHIFTS:
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))
            continue
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        for rep, rt in enumerate(_replicas(table, STAR_SHIFTS[name])):
            step = -(-rt.num_rows // FILES_PER_REPLICA)
            for k in range(FILES_PER_REPLICA):
                part = rt.slice(k * step, step)
                pq.write_table(part, os.path.join(d, f"part-{rep:02d}-{k}.parquet"))


def _paths(cache_dir: str, kind: str, scale: float) -> tuple[str, dict]:
    if kind not in ("sf0.1", "x10"):
        raise ValueError(f"unknown fixture kind {kind!r}")
    tag = kind if scale == 1.0 else f"{kind}-scale{scale:g}"
    stamp = {"layout_version": LAYOUT_VERSION, "data_seed": DATA_SEED, "scale": scale}
    return os.path.join(cache_dir, "fixtures", tag), stamp


def cached(cache_dir: str, kind: str, scale: float = 1.0) -> str | None:
    """The fixture's directory if it is built under the current stamp."""
    final, want = _paths(cache_dir, kind, scale)
    try:
        with open(os.path.join(final, "layout.json")) as f:
            return final if json.load(f) == want else None
    except (OSError, ValueError):
        return None


def ensure(cache_dir: str, kind: str, scale: float = 1.0) -> tuple[str, float | None]:
    """Return ``(fixture_dir, build_seconds)``; ``build_seconds`` is None
    when the stamped fixture was already cached. ``kind`` is ``sf0.1`` or
    ``x10``. Builds into a temporary directory and renames it into place,
    so an interrupted build never leaves a stamped partial fixture."""
    if (have := cached(cache_dir, kind, scale)) is not None:
        return have, None
    final, want = _paths(cache_dir, kind, scale)
    t0 = time.perf_counter()
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = generate(scale)
    if kind == "sf0.1":
        for name, table in tables.items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    else:
        _write_x10(tables, tmp)
    with open(os.path.join(tmp, "layout.json"), "w") as f:
        json.dump(want, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, time.perf_counter() - t0


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", default="sf0.1", choices=["sf0.1", "x10"])
    ap.add_argument("--cache", default=os.path.join(os.getcwd(), ".perfbench_cache"))
    args = ap.parse_args()
    path, secs = ensure(args.cache, args.kind)
    print(path, "cached" if secs is None else f"built in {secs:.1f} s", file=sys.stderr)
