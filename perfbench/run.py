#!/usr/bin/env python3
"""Layered, oracle-checked benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 10 --trace 0

A run is a closed loop with one client: one driver thread submits the next
query only after the previous one returned, on ``local[<nproc>]``. The
workload (``perfbench/workloads.json``) names its queries and fixture; the
seed fixes the order of every warm pass and the decoder payloads. Tables are
generated from a fixed data seed and cached under ``.perfbench_cache/``.

An untraced run is the workload's ``sessions``, each a fresh process
started after the last one ended, and session ``i`` of ``n`` runs the
queries at positions ``i``, ``i + n``, ... of the workload's list. Two
JVMs running the same passes interleaved on one shared 4-vCPU host differed
by 20-30% in every pass, for as long as they ran: how a JVM's JIT compiles
and sizes its heap is fixed early and differs from start to start. In one
session per run that draw would move every query of the run together; split
over sessions, each session's draw moves only its share of the batch. One
session:

1. set up: import the package, start the JVM, build the session and
   register the tables. Its ``setup_s`` is the time from the start of the
   session's process to the first query being ready, less the time spent
   building or reading through the cached fixture; the run reports the
   median over its sessions;
2. one cold pass (each query's first execution in the fresh session), in
   the declared order;
3. the workload's ``settle_passes``, run and checked but not timed into any
   metric, so the JIT has compiled the hottest paths before timing starts;
4. the workload's ``warm_passes``, each in a seeded order, and more until
   the session's share of ``--seconds`` has passed since step 4 began. A
   session that reaches its share of ``DEADLINE_S`` first exits non-zero,
   and the run with it, without a result, so a short run is never compared
   with full ones;
5. outside every timed call: each execution's rows are checked against the
   DuckDB oracle over the same files.

Every pass ends with an untimed garbage collection in the driver. The run
pools the sessions' samples for ``batch_*``, ``query_*`` and ``cold_batch_*``,
and takes the median over sessions of ``setup_s`` and ``peak_rss_mb``.

Each execution is timed in wall seconds and in CPU seconds (``CpuMeter``:
the driver, the JVM less its JIT compiler threads, and the Python workers).
A run prints the CPU figures (``batch_cpu_s``, ``query_cpu_p50_s``,
``query_cpu_tail_s``, ``cold_batch_cpu_s``), since on a shared host the
time other guests take moves wall time by more than a regression bound
between runs of the same code; the wall figures (``batch_s``,
``query_p50_s``, ``query_tail_s``, ``cold_batch_s``) go to the record.

With ``--trace 1`` the run is one session over all the queries, making half
the warm passes, each running the order once untraced and once traced
(``perfbench/trace.py``), and prints the per-layer metrics, the tracing
overhead and the layer-split check instead of the end-to-end ones.

The last stdout line is one JSON object; the full records (per-query
latencies, failures by name, confs, loadavg, registry size, spans), one per
session and one for the run, go to ``.perfbench_cache/records/``.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import math
import os
import random
import resource
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import (  # noqa: E402
    batch_seconds,
    failed_frac,
    percentile_value,
    samples_needed,
    split_error,
)

CACHE = os.path.join(ROOT, ".perfbench_cache")
PKG = "datafusion_distributed_spark"

# Stop starting passes once this much wall time has gone since the run
# started, so every run ends well inside the 180 s a run may take; each
# session of an untraced run gets its share.
DEADLINE_S = 140.0
# Below the engine's 8g default: the host's memory is shared, and a
# local[4] run of these workloads stays well under 2g.
DRIVER_MEM = "2g"
EXTRA_CONFS = {"spark.ui.showConsoleProgress": "false"}
# The session confs bench.py records, and the driver heap.
RECORDED_CONFS = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.autoBroadcastJoinThreshold",
)


class SetupError(Exception):
    """The workload cannot run here; the run exits non-zero, printing no result."""


class ShortRun(SetupError):
    """The deadline came before the workload's passes or tail samples did."""


def _prepare_env(cores: int) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from it."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    # Compiler threads that live as long as the JVM, so CpuMeter can leave
    # out all of their time.
    EXTRA_CONFS["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    )
    EXTRA_CONFS["spark.sql.warehouse.dir"] = os.path.join(CACHE, "warehouse")


class Session:
    """The set-up: the package imported, the SparkSession built (which starts
    the JVM) and the fixture's tables registered."""

    def __init__(self, fixture_dir: str):
        engine = importlib.import_module(f"{PKG}.engine")
        registry = importlib.import_module(f"{PKG}.operators.registry")
        registry._ensure_loaded()
        tables = importlib.import_module(f"{PKG}.tables")
        self.release_all_slots = importlib.import_module(f"{PKG}.operators._util").release_all_slots
        self.registry = registry.REGISTRY
        self.table_names = tables.TABLE_NAMES
        self.spark = engine.build_session(app_name="perfbench", extra_confs=EXTRA_CONFS)
        self.cpu = CpuMeter(self.spark.sparkContext._gateway.proc.pid)
        t1 = time.perf_counter()
        tables.load_tables(self.spark, fixture_dir)
        self.tables_s = time.perf_counter() - t1

    def hygiene(self) -> None:
        """Between queries, as bench.py does: drop slot-held and cached
        frames so no query is timed under another's storage."""
        self.release_all_slots(self.spark)
        self.spark.catalog.clearCache()

    def quiesce(self) -> None:
        """Untimed, between passes: collect the driver's garbage, so no
        pass pays for the last one's. The JVM is left to size its own heap:
        a forced full GC shrinks it, and each pass would pay to grow it
        again."""
        gc.collect()

    def stop(self) -> None:
        self.spark.stop()


def _fixture(fixtures, kind: str) -> tuple[str, float | None]:
    """The cached fixture, built first if needed, with every file read once
    so each run starts from the same warm page cache. The build runs in a
    child process so its memory never counts toward this process's peak
    RSS."""
    have = fixtures.cached(CACHE, kind)
    build_s = None
    if have is None:
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, fixtures.__file__, "--kind", kind, "--cache", CACHE], check=True
        )
        have = fixtures.cached(CACHE, kind)
        if have is None:
            raise SetupError(f"fixture {kind} did not build")
        build_s = time.perf_counter() - t0
    for dirpath, _, files in os.walk(have):
        for name in files:
            with open(os.path.join(dirpath, name), "rb") as f:
                while f.read(1 << 22):
                    pass
    return have, build_s


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    worker daemon) to exit, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _cpu_clock(pid: int) -> int:
    """Linux's clock id for the CPU time of all of process ``pid``'s threads
    (``MAKE_PROCESS_CPUCLOCK(pid, CPUCLOCK_SCHED)``), read at ns resolution."""
    return ((~pid) << 3) | 2


class CpuMeter:
    """CPU time of the driver, the JVM and the JVM's descendants (the Python
    worker daemon and its workers), less the JVM's JIT compiler threads.

    On a kernel with paravirtual steal accounting the scheduler leaves out
    time the hypervisor gave to other guests, which a shared host adds to
    wall time in swings of tens of percent between runs of the same code
    (CPU time still moves with it, through cache and spinning, but less).
    The JIT compiles in the background for minutes after start, at whatever
    pace the host allows, so its threads are left out too; what remains is
    the CPU the queries themselves cost."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jit_stats = []
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if "CompilerThre" in f.read():  # names are cut to 15 bytes
                    self.jit_stats.append(f"/proc/{jvm_pid}/task/{tid}/schedstat")
        if not self.jit_stats:
            raise SetupError("found no JIT compiler threads in the JVM")

    def jit_ns(self) -> int:
        """CPU ns the JVM's compiler threads have spent."""
        total = 0
        for path in self.jit_stats:
            with open(path) as f:
                total += int(f.read().split()[0])
        return total

    def _tree(self) -> dict[int, int]:
        """CPU ns of the JVM (less its JIT) and every live descendant of it."""
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out: dict[int, int] = {}
        todo = [self.jvm_pid]
        while todo:
            pid = todo.pop()
            try:
                out[pid] = time.clock_gettime_ns(_cpu_clock(pid))
            except OSError:  # exited since the scan
                continue
            todo.extend(children.get(pid, ()))
        out[self.jvm_pid] -= self.jit_ns()
        return out

    def start(self) -> dict[int, int]:
        """Read the driver's clock last, so the scan is not charged to it."""
        now = self._tree()
        now[0] = time.process_time_ns()
        return now

    def since(self, before: dict[int, int]) -> float:
        """CPU seconds since ``before``; the driver's clock is read first. A
        process that started since counts from zero."""
        driver = time.process_time_ns()
        now = self._tree()
        spent = driver - before[0] + sum(ns - before.get(pid, 0) for pid, ns in now.items())
        return spent / 1e9


def _loadavg() -> list[float]:
    return [float(x) for x in os.getloadavg()]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs, since
    boot; a run's share shows how much a shared host slowed it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class Run:
    def __init__(self, args, cfg: dict, fixture_dir: str):
        self.args = args
        self.cfg = cfg
        self.fixture_dir = fixture_dir
        self.rng = random.Random(args.seed * 1000 + (args.session or 0))
        self.deadline = DEADLINE_S / cfg["sessions"] if args.session is not None else DEADLINE_S
        self.executions = 0
        self.failures: dict[str, str] = {}
        self.failed = 0
        # wall and CPU seconds of each query's first execution and of its
        # warm executions
        self.cold: dict[str, float] = {}
        self.cold_cpu: dict[str, float] = {}
        self.warm: dict[str, list[float]] = {q: [] for q in cfg["queries"]}
        self.warm_cpu: dict[str, list[float]] = {q: [] for q in cfg["queries"]}
        self.first_rows: dict[str, tuple[list[str], list]] = {}
        self.returned: dict[str, int] = dict.fromkeys(cfg["queries"], 0)
        # executions whose rows differ from the first: (query, columns, rows)
        self.deviants: list[tuple[str, list[str], list]] = []
        self.traced: dict[str, list[dict]] = {q: [] for q in cfg["queries"]}

    # -- one execution ------------------------------------------------------

    def _fail(self, name: str, reason: str) -> None:
        self.failed += 1
        self.failures.setdefault(name, reason)

    def _keep_rows(self, name: str, columns: list[str], rows: list) -> None:
        self.returned[name] += 1
        first = self.first_rows.get(name)
        if first is None:
            self.first_rows[name] = (columns, rows)
        elif first != (columns, rows):
            self.deviants.append((name, columns, rows))

    def execute(self, s: Session, name: str) -> tuple[float, float] | None:
        """Untraced: time build + plan + collect, in wall and in CPU
        seconds; hygiene is untimed."""
        self.executions += 1
        fn = s.registry[name].fn
        try:
            c0 = s.cpu.start()
            t0 = time.perf_counter()
            df = fn(s.spark, self.fixture_dir)
            rows = df.collect()
            latency = time.perf_counter() - t0
            cpu = s.cpu.since(c0)
            self._keep_rows(name, df.columns, rows)
            timed = latency, cpu
        except Exception as exc:  # counted and named; the run goes on
            self._fail(name, f"raised {type(exc).__name__}: {str(exc)[:300]}")
            timed = None
        s.hygiene()
        return timed

    def execute_traced(self, s: Session, tracer, name: str, n: int) -> None:
        self.executions += 1
        try:
            columns, rows, m = tracer.run(
                f"{name}#{n}", s.registry[name].fn, self.fixture_dir, s.hygiene
            )
            self._keep_rows(name, columns, rows)
            self.traced[name].append(m)
        except Exception as exc:
            self._fail(name, f"traced run raised {type(exc).__name__}: {str(exc)[:300]}")
            s.hygiene()

    # -- passes -------------------------------------------------------------

    def order(self) -> list[str]:
        names = list(self.cfg["queries"])
        self.rng.shuffle(names)
        return names

    def measure(self, s: Session, t_process: float, tracer=None) -> dict:
        """Cold pass, settle passes, then warm passes. Settle passes let the
        JIT finish compiling the hot paths; their rows are checked, their
        latencies are not kept. Traced, each warm pass runs its order twice,
        once untraced and once traced, the traced half first on odd passes,
        so warm-up drift falls on both sides alike. Halves, rather than each
        query traced straight after its untraced run: a query repeated
        straight after itself runs faster than the end-to-end passes see
        it run. A traced run therefore makes half the warm passes, and needs
        no tail samples, since it reports no tail; a session of an untraced
        run needs its share of the run's tail samples."""
        traced = tracer is not None
        passes = self.cfg["warm_passes"] // 2 if traced else self.cfg["warm_passes"]
        need = 0 if traced else math.ceil(
            samples_needed(self.cfg["tail_percentile"]) * self.cfg.get("share", 1.0)
        )
        t0 = time.perf_counter()
        # The cold pass runs in the declared order, so one-off session costs
        # (the first shuffle, the Python worker start) fall on the same
        # queries in every run.
        for name in self.cfg["queries"]:
            timed = self.execute(s, name)
            if timed is not None:
                self.cold[name], self.cold_cpu[name] = timed
        s.quiesce()
        cold_pass_s = time.perf_counter() - t0
        settle_s: list[float] = []
        for _ in range(self.cfg["settle_passes"]):
            p0 = time.perf_counter()
            for name in self.order():
                self.execute(s, name)
            s.quiesce()
            settle_s.append(time.perf_counter() - p0)
        t1 = time.perf_counter()
        pass_s: list[float] = []
        # JIT compiler CPU per run through the order, which CpuMeter leaves
        # out of the queries' CPU
        jit_s: list[float] = []
        while True:
            n_warm = sum(len(v) for v in self.warm.values())
            if (
                time.perf_counter() - t1 >= self.args.seconds
                and len(pass_s) >= passes
                and n_warm >= need
            ):
                break
            est = max(pass_s) if pass_s else max(settle_s, default=cold_pass_s)
            if time.perf_counter() - t_process + est > self.deadline:
                raise ShortRun(
                    f"deadline of {self.deadline:.0f} s reached after {len(pass_s)} of "
                    f"{passes} warm passes and {n_warm} of {need} warm samples"
                )
            p0 = time.perf_counter()
            j0 = s.cpu.jit_ns()
            order = self.order()
            halves = (False,) if not traced else (len(pass_s) % 2 == 1, len(pass_s) % 2 == 0)
            for traced_half in halves:
                for name in order:
                    if traced_half:
                        self.execute_traced(s, tracer, name, len(pass_s))
                        continue
                    timed = self.execute(s, name)
                    if timed is not None:
                        self.warm[name].append(timed[0])
                        self.warm_cpu[name].append(timed[1])
            jit_s.append((s.cpu.jit_ns() - j0) / 1e9 / len(halves))
            s.quiesce()
            pass_s.append(time.perf_counter() - p0)
        return {
            "cold_pass_s": cold_pass_s,
            "settle_pass_s": settle_s,
            "warm_passes": len(pass_s),
            "pass_s": pass_s,
            "pass_jit_cpu_s": jit_s,
            "measured_s": time.perf_counter() - t1,
            "tail_samples_needed": need,
        }

    # -- oracle ---------------------------------------------------------------

    def check(self, s: Session) -> None:
        """Compare every execution's rows with the DuckDB oracle. Runs after
        the measurement, outside every timed call."""
        from perfbench.oracle import Expected, connect

        con = connect(self.fixture_dir, s.table_names)
        try:
            expected = {}
            for name in self.cfg["queries"]:
                qd = s.registry[name]
                try:
                    expected[name] = Expected(con, qd.oracle, qd.order_by)
                except Exception as exc:
                    expected[name] = exc
            for name, (columns, rows) in self.first_rows.items():
                exp = expected[name]
                why = (
                    f"oracle raised {type(exp).__name__}: {exp}"
                    if isinstance(exp, Exception)
                    else exp.mismatch(columns, rows)
                )
                if why:
                    # every execution that returned these rows is wrong
                    n_same = self.returned[name] - sum(1 for d in self.deviants if d[0] == name)
                    self.failed += n_same
                    self.failures.setdefault(name, why)
            for name, columns, rows in self.deviants:
                exp = expected[name]
                why = "oracle unavailable" if isinstance(exp, Exception) else exp.mismatch(columns, rows)
                if why:
                    self._fail(name, f"a later execution: {why}")
        finally:
            con.close()


def _e2e(sessions: list[dict], tail_percentile: int) -> dict[str, float]:
    """End-to-end metrics over session records: samples pooled, set-up and
    peak RSS the median over sessions. The CPU figures are the ones a run
    prints; the wall figures go to the record."""
    out = {
        "setup_s": statistics.median(r["setup_s"] for r in sessions),
        "peak_rss_mb": statistics.median(sum(r["peak_rss_mb"].values()) for r in sessions),
    }
    for kind in ("", "cpu_"):
        warm: dict[str, list[float]] = {}
        for r in sessions:
            for q, v in r[f"warm_{kind}s"].items():
                warm.setdefault(q, []).extend(v)
        warm_all = [t for v in warm.values() for t in v]
        out[f"batch_{kind}s"] = batch_seconds(warm)
        out[f"query_{kind}p50_s"] = statistics.median(warm_all)
        out[f"query_{kind}tail_s"] = percentile_value(warm_all, tail_percentile)
        out[f"cold_batch_{kind}s"] = sum(sum(r[f"cold_{kind}s"].values()) for r in sessions)
    return out


def _per_layer(run: Run, s: Session, cores: int, loop: dict) -> tuple[dict, dict]:
    """Per-layer metrics: for each metric, the sum over queries of the
    per-query median over traced executions. Also the tracing overhead and
    two checks of the layer split: coverage (each traced execution's layer
    self times sum to its own latency) and agreement (each query's median
    split against its median untraced latency, which also carries the
    tracing overhead and run-to-run noise)."""
    per_query = {
        q: {k: statistics.median(m[k] for m in ms) for k in ms[0]}
        for q, ms in run.traced.items()
        if ms
    }
    keys = sorted({k for m in per_query.values() for k in m})
    total = {k: sum(m[k] for m in per_query.values()) for k in keys}
    out = {k: v for k, v in total.items() if not k.startswith("split.") and k != "latency_s"}
    out["tables.load_s"] = s.tables_s
    out["jvm.jit_cpu_s"] = statistics.median(loop["pass_jit_cpu_s"])
    out["exec.busy_frac"] = out["exec.task_run_s"] / (out["exec.exec_s"] * cores)

    def split(m: dict) -> dict:
        return {k: v for k, v in m.items() if k.startswith("split.")}

    coverage = {
        q: max(split_error(split(m), m["latency_s"]) for m in run.traced[q]) for q in per_query
    }
    untraced = {q: statistics.median(v) for q, v in run.warm.items() if v}
    errors = {q: split_error(split(m), untraced[q]) for q, m in per_query.items() if q in untraced}
    untraced_batch = batch_seconds(run.warm)
    out["trace.untraced_batch_s"] = untraced_batch
    out["trace.traced_batch_s"] = total["latency_s"]
    out["trace.overhead_frac"] = total["latency_s"] / untraced_batch - 1
    out["trace.split_coverage_max_frac"] = max(coverage.values())
    out["trace.split_error_batch_frac"] = split_error(split(total), untraced_batch)
    out["trace.split_error_median_frac"] = statistics.median(errors.values())
    out["trace.split_ok_frac"] = sum(e <= 0.05 for e in errors.values()) / len(errors)
    return out, {"per_query": per_query, "split_coverage": coverage, "split_error": errors}


def main(argv: list[str] | None = None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description="Layered, oracle-checked benchmark of the engine.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--session", type=int, help="run only this session of an untraced run")
    args = ap.parse_args(argv)

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        raise SetupError(f"unknown workload {args.workload!r}; have {sorted(spec['workloads'])}")
    cfg = spec["workloads"][args.workload]
    if args.session is not None:
        mine = cfg["queries"][args.session :: cfg["sessions"]]
        cfg = dict(cfg, queries=mine, share=len(mine) / len(cfg["queries"]))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)
    try:
        importlib.import_module(f"{PKG}.tables")
        from perfbench import decoders, fixtures, oracle, trace  # noqa: F401
    except ImportError as exc:
        raise SetupError(f"cannot import the engine package from {ROOT}: {exc}") from exc

    t_fixture = time.perf_counter()
    fixture_dir, fixture_build_s = _fixture(fixtures, cfg["fixture"])
    fixture_s = time.perf_counter() - t_fixture
    if not args.trace and args.session is None:
        return _sessions(args, cfg, declared, t_process, fixture_build_s)
    load_before = _loadavg()
    steal_before = _steal_s()

    s = Session(fixture_dir)
    setup_s = time.perf_counter() - t_process - fixture_s
    missing = [q for q in cfg["queries"] if q not in s.registry]
    excluded = [q for q in cfg["queries"] if q.startswith(tuple(spec["excluded"]))]
    no_oracle = [q for q in cfg["queries"] if q in s.registry and not s.registry[q].oracle]
    if missing or excluded or no_oracle:
        s.stop()
        raise SetupError(
            f"workload {args.workload}: not registered {missing}, excluded {excluded}, "
            f"no oracle {no_oracle}"
        )

    run = Run(args, cfg, fixture_dir)
    tracer = trace.Tracer(s.spark) if args.trace else None
    try:
        loop = run.measure(s, t_process, tracer)
    finally:
        if tracer is not None:
            tracer.close()
    # Read before the oracle check and the decoders, whose memory is the
    # benchmark's, not the engine's.
    rss = {
        "jvm": _vm_hwm_mb(s.spark.sparkContext._gateway.proc.pid),
        "driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }
    run.check(s)
    decode_metrics: dict[str, float] = {}
    if args.trace:
        decode_metrics, decode_failures = decoders.measure(args.seed)
        run.executions += len(decoders.CODECS) * decoders.PAYLOADS_PER_CODEC
        for why in decode_failures:
            run._fail(why.split(":")[0], why)
    confs = {k: s.spark.conf.get(k, None) for k in RECORDED_CONFS}
    registry_size = len(s.registry)
    layer_detail: dict = {}
    if args.trace:
        metrics, layer_detail = _per_layer(run, s, cores, loop)
        metrics.update(decode_metrics)
    s.stop()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "session": args.session,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "steal_s": _steal_s() - steal_before,
        "confs": confs,
        "registry_size": registry_size,
        "fixture": {
            "dir": os.path.relpath(fixture_dir, ROOT),
            "build_s": fixture_build_s,
            "build_or_read_s": fixture_s,
        },
        "setup_s": setup_s,
        "tables_load_s": s.tables_s,
        "peak_rss_mb": rss,
        "loop": loop,
        "queries": cfg["queries"],
        "cold_s": run.cold,
        "warm_s": run.warm,
        "cold_cpu_s": run.cold_cpu,
        "warm_cpu_s": run.warm_cpu,
        "attempted": run.executions,
        "failed": run.failed,
        "failed_frac": failed_frac(run.executions, run.failed),
        "failures": run.failures,
        "per_layer": metrics if args.trace else None,
        "layers": layer_detail,
        "wall_s": time.perf_counter() - t_process,
    }
    record["end_to_end"] = _e2e([record], cfg["tail_percentile"])
    if not args.trace:
        metrics = record["end_to_end"]
    stem = _stem(args)
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    if tracer is not None:
        with open(stem + ".spans.jsonl", "w") as f:
            for sp in tracer.spans:
                f.write(json.dumps(sp.__dict__) + "\n")
    for name, why in sorted(run.failures.items()):
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} registry={registry_size} "
        f"queries={len(cfg['queries'])} attempted={run.executions} failed={run.failed} "
        f"record={os.path.relpath(stem, ROOT)}.json",
        file=sys.stderr,
    )
    _result(run.executions, run.failed, metrics, declared)
    return 0


def _stem(args, session: int | None = None) -> str:
    """Record path, without extension, of a run or of one of its sessions."""
    rec_dir = os.path.join(CACHE, "records")
    os.makedirs(rec_dir, exist_ok=True)
    session = args.session if session is None else session
    tail = "" if session is None else f"-session{session}"
    return os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}{tail}")


def _result(attempted: int, failed: int, metrics: dict, declared: list[dict]) -> None:
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared
                },
            }
        )
    )


def _sessions(args, cfg: dict, declared: list[dict], t_process: float, fixture_build_s) -> int:
    """An untraced run: the workload's sessions one after another, each in
    a fresh process measuring its share of ``--seconds``, then the
    end-to-end metrics over their records."""
    n = cfg["sessions"]
    load_before = _loadavg()
    steal_before = _steal_s()
    records = []
    for i in range(n):
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds / n), "--trace", "0",
            "--session", str(i),
        ]
        left = DEADLINE_S + 30 - (time.perf_counter() - t_process)
        try:
            # On a timeout the session is killed; its JVM exits when its
            # stdin, a pipe from the session, closes.
            done = subprocess.run(cmd, stdout=subprocess.DEVNULL, timeout=max(left, 1))
        except subprocess.TimeoutExpired as exc:
            raise ShortRun(f"session {i} ran past the run's deadline") from exc
        if done.returncode != 0:
            raise SetupError(f"session {i} exited with {done.returncode}")
        with open(_stem(args, i) + ".json") as f:
            records.append(json.load(f))
    e2e = _e2e(records, cfg["tail_percentile"])
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": 0,
        "nproc": records[0]["nproc"],
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "steal_s": _steal_s() - steal_before,
        "fixture_build_s": fixture_build_s,
        "sessions": [os.path.relpath(_stem(args, i), ROOT) + ".json" for i in range(n)],
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed_frac(attempted, failed),
        "failures": {k: v for r in records for k, v in r["failures"].items()},
        "end_to_end": e2e,
        "wall_s": time.perf_counter() - t_process,
    }
    with open(_stem(args) + ".json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    _result(attempted, failed, e2e, declared)
    return 0


if __name__ == "__main__":
    try:
        code = main()
    except SetupError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        code = 2
    except Exception:
        traceback.print_exc()
        code = 1
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
    sys.exit(code)
