"""Reference-style stage-tree EXPLAIN / EXPLAIN ANALYZE over Spark plans.

The reference renders its distributed plan as an ASCII stage tree
(display_plan_ascii, /root/reference/src/stage.rs; example output at
/root/reference/src/distributed_planner/distributed_query_planner.rs:225-244)
and, for EXPLAIN ANALYZE, drains the query and re-attaches worker-collected
metrics onto the plan nodes (/root/reference/src/explain_analyze.rs:19-50,
src/metrics/task_metrics_rewriter.rs).

Spark mapping: network boundaries == Exchange operators, worker metrics ==
the SQLMetrics Spark natively attaches to every SparkPlan node. Instead of
parsing plan strings (fragile under AQE re-prints), we walk the JVM plan tree
via py4j: ``AdaptiveSparkPlanExec`` is unwrapped through its current
``executedPlan`` and ``*QueryStageExec`` wrappers through their materialized
``plan``, so the same walker serves both AQE-on and AQE-off sessions, before
and after execution.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_BOUNDARY_PREFIXES = ("Exchange", "ShuffleExchange", "BroadcastExchange")

# Metrics worth showing per node in EXPLAIN ANALYZE (reference shows rows /
# bytes / timing per stage, explain_analyze.rs).
_METRIC_KEYS = (
    "numOutputRows",
    "dataSize",
    "shuffleBytesWritten",
    "spillSize",
    "numFiles",
    "filesSize",
)


@dataclass
class PlanNode:
    name: str
    metrics: dict[str, int] = field(default_factory=dict)
    children: list["PlanNode"] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    kind: str  # "head" | "shuffle" | "broadcast"
    nodes: list[PlanNode] = field(default_factory=list)
    children: list["Stage"] = field(default_factory=list)


def _jchildren(jnode):
    seq = jnode.children()
    return [seq.apply(i) for i in range(seq.size())]


def _jmetrics(jnode, with_values: bool) -> dict[str, int]:
    if not with_values:
        return {}
    out: dict[str, int] = {}
    it = jnode.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        key = kv._1()
        if key in _METRIC_KEYS:
            try:
                out[key] = int(kv._2().value())
            except Exception:
                pass
    return out


def _unwrap(jnode):
    """Descend through AQE wrappers to the node that carries plan semantics."""
    cls = jnode.getClass().getSimpleName()
    if cls.startswith("AdaptiveSparkPlanExec"):
        return _unwrap(jnode.executedPlan())
    if cls.endswith("QueryStageExec"):  # Shuffle/Broadcast/Result stages
        return _unwrap(jnode.plan())
    if cls.startswith("ReusedExchangeExec"):
        return _unwrap(jnode.child())
    return jnode


def build_tree(df: DataFrame, with_metrics: bool = False) -> PlanNode:
    """Python-side mirror of the (possibly adaptive) executed plan tree."""

    def walk(jnode) -> PlanNode:
        jnode = _unwrap(jnode)
        node = PlanNode(
            name=jnode.nodeName(), metrics=_jmetrics(jnode, with_metrics)
        )
        for ch in _jchildren(jnode):
            node.children.append(walk(ch))
        return node

    return walk(df._jdf.queryExecution().executedPlan())


def parse_stages(df: DataFrame, with_metrics: bool = False) -> Stage:
    """Cut the plan into stages at Exchange boundaries (network boundaries in
    reference terms — SURVEY.md §0)."""
    tree = build_tree(df, with_metrics=with_metrics)
    root = Stage(stage_id=0, kind="head")
    counter = [0]

    def walk(node: PlanNode, stage: Stage) -> None:
        if node.name.startswith(_BOUNDARY_PREFIXES):
            counter[0] += 1
            kind = "broadcast" if "roadcast" in node.name else "shuffle"
            child_stage = Stage(stage_id=counter[0], kind=kind)
            child_stage.nodes.append(node)
            stage.children.append(child_stage)
            stage = child_stage
        else:
            stage.nodes.append(node)
        for ch in node.children:
            walk(ch, stage)

    walk(tree, root)
    return root


def _fmt_metrics(m: dict[str, int]) -> str:
    if not m:
        return ""
    parts = [f"{k}={v:,}" for k, v in m.items()]
    return "  [" + ", ".join(parts) + "]"


def render_stage_tree(df: DataFrame, with_metrics: bool = False) -> str:
    """ASCII stage tree in the reference's visual style; with metrics it is
    the EXPLAIN ANALYZE rendering (call after the query ran)."""
    root = parse_stages(df, with_metrics=with_metrics)
    out: list[str] = []

    def emit(stage: Stage, depth: int) -> None:
        pad = "  " * depth
        label = "Head Stage" if stage.stage_id == 0 else f"Stage {stage.stage_id}"
        out.append(f"{pad}┌───── {label} ({stage.kind})")
        for node in stage.nodes:
            out.append(f"{pad}│ {node.name}{_fmt_metrics(node.metrics)}")
        out.append(f"{pad}└──────")
        for child in stage.children:
            emit(child, depth + 1)

    emit(root, 0)
    return "\n".join(out)


def render_stage_graphviz(df: DataFrame, with_metrics: bool = False) -> str:
    """Graphviz DOT rendering of the stage tree — the reference ships
    ``display_plan_graphviz`` alongside the ASCII renderer
    (/root/reference/src/lib.rs:60-62, src/stage.rs); this is the Spark
    analogue over the same parsed ``Stage`` tree as ``render_stage_tree``.

    One record-shaped node per stage (stage id, kind, operator list), one
    edge per child→parent data flow (shuffle or broadcast), labeled by the
    boundary kind."""
    root = parse_stages(df, with_metrics=with_metrics)
    nodes: list[str] = []
    edges: list[str] = []

    def esc(s: str) -> str:
        return s.replace('"', r"\"").replace("{", r"\{").replace("}", r"\}")

    def emit(stage: Stage) -> None:
        label = "Head Stage" if stage.stage_id == 0 else f"Stage {stage.stage_id}"
        ops = r"\l".join(
            esc(f"{n.name}{_fmt_metrics(n.metrics)}") for n in stage.nodes
        )
        nodes.append(
            f'  s{stage.stage_id} [shape=record, '
            f'label="{{{esc(label)} ({stage.kind})|{ops}\\l}}"];'
        )
        for child in stage.children:
            edges.append(
                f"  s{child.stage_id} -> s{stage.stage_id} "
                f'[label="{child.kind}"];'
            )
            emit(child)

    emit(root)
    return "digraph stages {\n  rankdir=BT;\n" + "\n".join(nodes + edges) + "\n}"


def stage_summary(df: DataFrame) -> dict:
    """Machine-readable stage statistics (for tests/metrics)."""
    root = parse_stages(df)
    n_stages = 0
    n_shuffles = 0
    n_broadcasts = 0

    def walk(s: Stage) -> None:
        nonlocal n_stages, n_shuffles, n_broadcasts
        n_stages += 1
        if s.kind == "shuffle":
            n_shuffles += 1
        elif s.kind == "broadcast":
            n_broadcasts += 1
        for c in s.children:
            walk(c)

    walk(root)
    return {
        "n_stages": n_stages,
        "n_shuffles": n_shuffles,
        "n_broadcasts": n_broadcasts,
    }


def task_latency_summary(df: DataFrame) -> list[dict]:
    """Drain the query under a dedicated job group and return per-scheduler-
    stage task-latency percentiles.

    The reference collects per-task latency via a DDSketch and re-attaches
    p50/p95/max per plan node (/root/reference/src/metrics/latency_metric.rs,
    src/metrics/task_metrics_rewriter.rs, tests/metrics_collection.rs). The
    Spark-native equivalent of that machinery is the AppStatusStore: the
    scheduler already records every task's duration, and ``taskSummary``
    computes exact quantiles over them — no listener or sketch code needed.
    Stages are SCHEDULER stages (shuffle-bounded units of parallel tasks),
    the same granularity the reference's per-task metrics describe.

    Returns one dict per executed stage:
    {stage_id, name, n_tasks, p50_ms, p95_ms, max_ms}."""
    sc = df.sparkSession.sparkContext
    stage_ids = _drain_under_group(df, "explain-analyze")
    return _latency_for_stages(sc, stage_ids)


def _drain_under_group(df: DataFrame, prefix: str) -> list[int]:
    """Collect ``df`` under a FRESH dedicated job group and return the
    scheduler stage ids it executed, with the listener bus flushed so the
    AppStatusStore has every task-end event before the caller reads it.

    The group name carries a monotonic counter, never id(df): draining the
    same frame twice (or an id() reused after GC) must not pick up jobs
    from earlier drains (r8 ADVICE). setJobGroup sets three thread-local
    properties; all three are cleared so later jobs on this thread don't
    inherit the drain's identity."""
    sc = df.sparkSession.sparkContext
    group = f"{prefix}-{next(_PER_TASK_SEQ)}"
    sc.setJobGroup(group, f"{prefix} drain")
    try:
        df.collect()  # drain, like DistributedAnalyzeExec
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty(10_000)
    except Exception:
        import time

        time.sleep(0.5)
    tracker = sc.statusTracker()
    return sorted(
        {
            s
            for j in tracker.getJobIdsForGroup(group)
            for s in (tracker.getJobInfo(j) or _NO_JOB).stageIds
        }
    )


def _latency_for_stages(sc, stage_ids: list[int]) -> list[dict]:
    tracker = sc.statusTracker()
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 3)
    quantiles[0], quantiles[1], quantiles[2] = 0.5, 0.95, 1.0
    out: list[dict] = []
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        summary = store.taskSummary(sid, 0, quantiles)
        if info is None or not summary.isDefined():
            continue  # stage skipped (reused exchange) or no finished tasks
        dur = summary.get().duration()
        out.append(
            {
                "stage_id": sid,
                "name": info.name.split(" at ")[0],
                "n_tasks": info.numTasks,
                "p50_ms": float(dur.apply(0)),
                "p95_ms": float(dur.apply(1)),
                "max_ms": float(dur.apply(2)),
            }
        )
    return out


class _NoJob:
    stageIds: tuple = ()


_NO_JOB = _NoJob()

# Fresh job-group suffix per drain (never reused, unlike id(df)).
_PER_TASK_SEQ = itertools.count()


def _opt(jopt, default=None):
    """Unwrap a scala Option."""
    try:
        return jopt.get() if jopt.isDefined() else default
    except Exception:
        return default


def per_task_metrics(df: DataFrame, max_tasks_per_stage: int = 10_000) -> list[dict]:
    """Per-TASK runtime metrics for every executed scheduler stage — the
    reference's ``DistributedMetricsFormat::PerTask`` rendering
    (docs/source/user-guide/05-metrics.md: "each metric collects its
    per-task values into a map keyed by task id,
    ``output_rows={0:.., 1:..}``"), as opposed to the Aggregated per-node
    SQLMetrics ``explain_analyze`` renders.

    Drains the query under a dedicated job group (metrics exist only after
    execution — same ordering contract as the reference), then reads each
    task's metrics from the AppStatusStore: the scheduler already records
    per-task input/output/shuffle/duration numbers, so no listener code is
    needed.

    Returns one dict per executed stage:
    ``{stage_id, name, n_tasks, metrics: {metric_name: {task_index: value}}}``
    with metric names ``duration_ms, records_read, bytes_read,
    shuffle_read_bytes, shuffle_read_records, shuffle_write_bytes,
    shuffle_write_records, records_written``. Stages skipped by reuse
    (ReusedExchange) are omitted, like the reference's metrics tables only
    materialize executed tasks.
    """
    sc = df.sparkSession.sparkContext
    stage_ids = _drain_under_group(df, "per-task-metrics")
    return _per_task_for_stages(sc, stage_ids, max_tasks_per_stage)


def _per_task_for_stages(
    sc, stage_ids: list[int], max_tasks_per_stage: int = 10_000
) -> list[dict]:
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out: list[dict] = []
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is None:
            continue
        try:
            tasks = store.taskList(sid, 0, max_tasks_per_stage)
        except Exception:
            continue  # stage skipped (reused exchange): no task data
        metrics: dict[str, dict[int, int]] = {}

        def put(name: str, idx: int, value) -> None:
            if value is None:
                return
            metrics.setdefault(name, {})[idx] = int(value)

        it = tasks.iterator()
        seen_idx: set[int] = set()
        while it.hasNext():
            t = it.next()
            # Only successful attempts: with speculative execution or task
            # retries multiple attempts share an index; counting them all
            # would overwrite map entries with a failed attempt's partials
            # and break the len(metrics)==n_tasks shape (r8 ADVICE). The
            # reference's PerTask map likewise keys committed tasks only.
            try:
                if str(t.status()) != "SUCCESS":
                    continue
            except Exception:
                pass  # status unavailable: keep the row (local mode)
            idx = int(t.index())
            seen_idx.add(idx)
            put("duration_ms", idx, _opt(t.duration()))
            tm = _opt(t.taskMetrics())
            if tm is None:
                continue
            put("records_read", idx, tm.inputMetrics().recordsRead())
            put("bytes_read", idx, tm.inputMetrics().bytesRead())
            sr = tm.shuffleReadMetrics()
            put(
                "shuffle_read_bytes",
                idx,
                int(sr.remoteBytesRead()) + int(sr.localBytesRead()),
            )
            put("shuffle_read_records", idx, sr.recordsRead())
            sw = tm.shuffleWriteMetrics()
            put("shuffle_write_bytes", idx, sw.bytesWritten())
            put("shuffle_write_records", idx, sw.recordsWritten())
            put("records_written", idx, tm.outputMetrics().recordsWritten())
        if not seen_idx:
            continue
        out.append(
            {
                "stage_id": sid,
                "name": info.name.split(" at ")[0],
                # distinct successful task indices — equals every metric
                # map's size by construction (the pinned shape invariant)
                "n_tasks": len(seen_idx),
                "metrics": metrics,
            }
        )
    return out


def network_stream_summary(df: DataFrame) -> list[dict]:
    """Bytes and rows per network stream (call after the query ran).

    The reference counts bytes on every consumer←producer Arrow-Flight
    stream (/root/reference/src/metrics/ — ``BytesCounterMetric`` wrapping
    each ``FlightDataEncoder``). In the Spark mapping every Exchange node IS
    one such stream: the producer stage serializes into it (shuffle write /
    broadcast build) and the consumer stage reads it. This reports one row
    per exchange edge — the per-stream split the per-stage SQLMetrics
    rendering doesn't give — from the producer-side metrics Spark attaches
    to the exchange node itself. For the per-(consumer-partition ←
    producer-task) split of each shuffle edge — the reference's actual
    per-Flight-stream byte counters — see ``network_stream_matrix``.

    Returns [{producer_stage, consumer_stage, kind, bytes, rows}] in plan
    order."""
    root = parse_stages(df, with_metrics=True)
    out: list[dict] = []

    def walk(stage: Stage) -> None:
        for child in stage.children:
            boundary = child.nodes[0] if child.nodes else None
            m = boundary.metrics if boundary is not None else {}
            # Shuffle edges report shuffleBytesWritten; broadcast edges
            # report the built relation's dataSize.
            nbytes = m.get("shuffleBytesWritten", m.get("dataSize", 0))
            out.append(
                {
                    "producer_stage": child.stage_id,
                    "consumer_stage": stage.stage_id,
                    "kind": child.kind,
                    "bytes": int(nbytes),
                    "rows": int(m.get("numOutputRows", 0)),
                }
            )
            walk(child)

    walk(root)
    return out


_INT_MAX = 2147483647


def _walk_shuffle_exchanges(jnode, out: list) -> None:
    jnode = _unwrap(jnode)
    if jnode.getClass().getSimpleName().startswith("ShuffleExchangeExec"):
        out.append(jnode)
    for ch in _jchildren(jnode):
        _walk_shuffle_exchanges(ch, out)


def network_stream_matrix(df: DataFrame) -> list[dict]:
    """Per-(consumer-partition ← producer-task) bytes for EVERY shuffle edge
    — the reference's per-Flight-stream granularity (call after the query
    ran, before the context cleaner GCs the shuffle).

    The reference wraps each consumer←producer Arrow-Flight stream in a
    ``BytesCounterMetric`` (/root/reference/src/metrics/bytes_metric.rs), so
    its metrics tables carry one byte count per (consumer task, producer
    task) channel. In Spark that exact matrix already exists on the driver
    without any custom shuffle manager: every map task registers a
    ``MapStatus`` holding its output size toward every reduce partition, and
    ``MapOutputTrackerMaster`` serves (blockId, size, mapIndex) triples per
    reduce partition — the same numbers shuffle readers use to plan fetches.

    Accuracy contract (documented, not a defect): MapStatus sizes are
    log-1.1-quantized (``CompressedMapStatus``), so each stream's bytes are
    an estimate within ~10 %; above 2000 reduce partitions Spark switches to
    ``HighlyCompressedMapStatus`` and non-huge blocks report the average
    block size. Empty streams (a producer wrote nothing toward a consumer)
    are omitted, exactly like the reference's metrics tables, which only
    materialize streams that opened.

    AQE note: ``consumer_partition`` is the shuffle's reduce-partition id.
    When AQE coalesces reducers, one consumer TASK reads a contiguous range
    of these partitions; the per-partition rows are the finer-grained truth
    and sum losslessly into per-task numbers.

    Returns [{shuffle_id, producer_task, consumer_partition, bytes_est}],
    ordered by (shuffle_id, producer_task, consumer_partition).
    """
    sc = df.sparkSession.sparkContext
    mot = sc._jvm.org.apache.spark.SparkEnv.get().mapOutputTracker()
    exchanges: list = []
    _walk_shuffle_exchanges(df._jdf.queryExecution().executedPlan(), exchanges)
    out: list[dict] = []
    seen: set[int] = set()
    for ex in exchanges:
        dep = ex.shuffleDependency()
        sid = int(dep.shuffleId())
        if sid in seen:  # ReusedExchange: one physical shuffle, one matrix
            continue
        seen.add(sid)
        nparts = int(dep.partitioner().numPartitions())
        try:
            it = mot.getMapSizesByExecutorId(sid, 0, _INT_MAX, 0, nparts)
        except Exception:
            continue  # shuffle already unregistered (context cleaner)
        while it.hasNext():
            tup = it.next()
            blocks = tup._2().iterator()
            while blocks.hasNext():
                b = blocks.next()
                block_id = str(b._1())  # shuffle_<sid>_<mapTaskId>_<reduceId>
                fields = block_id.split("_")
                # Exactly 4 fields = ShuffleBlockId. A 5-field
                # ShuffleBlockBatchId (shuffle_<sid>_<map>_<start>_<end>)
                # would otherwise silently report its END-reduce id as the
                # partition — skip anything that isn't the plain shape.
                if fields[0] != "shuffle" or len(fields) != 4:
                    continue
                out.append(
                    {
                        "shuffle_id": sid,
                        "producer_task": int(b._3()),  # map partition index
                        "consumer_partition": int(fields[3]),
                        "bytes_est": int(b._2()),
                    }
                )
    out.sort(
        key=lambda r: (r["shuffle_id"], r["producer_task"], r["consumer_partition"])
    )
    return out


def _aqe_shuffle_read_specs(jroot) -> dict:
    """shuffle_id -> list of DISTINCT AQE spec lists, one per differing
    read of that shuffle (each spec list has one spec per consumer TASK,
    in task order).

    A reused exchange usually carries identical specs at every read, but
    AQE can plan different specs for different consumers (e.g. a skew
    split in one join, a plain coalesce in another), so reads are
    collected per occurrence and deduplicated by spec signature — keeping
    only the first would misattribute the second consumer's streams to
    the first consumer's task layout (r8 ADVICE)."""
    specs: dict[int, list] = {}

    def _sig(sl) -> tuple:
        return tuple(str(s.toString()) for s in sl)

    def walk(jnode):
        cls = jnode.getClass().getSimpleName()
        if cls.startswith("AdaptiveSparkPlanExec"):
            walk(jnode.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(jnode.plan())
            return
        if cls.startswith("ReusedExchangeExec"):
            walk(jnode.child())
            return
        if cls.startswith("AQEShuffleReadExec"):
            exch: list = []
            _walk_shuffle_exchanges(jnode, exch)
            if exch:
                sid = int(exch[0].shuffleDependency().shuffleId())
                it = jnode.partitionSpecs().iterator()
                sl = []
                while it.hasNext():
                    sl.append(it.next())
                reads = specs.setdefault(sid, [])
                if _sig(sl) not in {_sig(r) for r in reads}:
                    reads.append(sl)
        for ch in _jchildren(jnode):
            walk(ch)

    walk(jroot)
    return specs


def network_stream_matrix_by_task(df: DataFrame) -> list[dict]:
    """Per-(consumer-TASK ← producer-task) bytes: ``network_stream_matrix``
    rolled up over AQE's partition specs so each row is one actual fetch
    stream — a 1:1 match for the reference's per-Flight-stream table
    (/root/reference/src/metrics/bytes_metric.rs): one Flight stream per
    (consumer task, producer task) channel.

    Under AQE, a consumer task reads a contiguous reduce-partition range
    (CoalescedPartitionSpec), one map-range slice of a skewed partition
    (PartialReducerPartitionSpec), or one map's partition range (the
    local-read PartialMapperPartitionSpec); the per-partition rows sum
    losslessly into these. Shuffles read without an AQEShuffleReadExec
    (static plans, AQE off) degrade to task == partition.

    Skew-join note: when AQE splits a skewed partition, the OTHER join
    side's matching partition is replicated — each split task re-fetches
    it, so that shuffle's per-task byte total legitimately EXCEEDS the
    producer-written total reported by ``network_stream_matrix``. That is
    faithful to the wire: the reference's per-Flight-stream counters would
    likewise count one stream per re-fetch.

    Reused-exchange note: when AQE plans DIFFERENT specs for two consumers
    of one reused shuffle (skew-split in one join, plain coalesce in the
    other), each distinct read gets its own rollup, distinguished by
    ``read_index`` — byte totals then conserve PER READ, not per shuffle,
    because each consumer really fetches the full shuffle over the wire.
    The common identical-specs case collapses to a single read_index 0.

    Returns [{shuffle_id, read_index, producer_task, consumer_task,
    bytes_est, n_partitions}] sorted by (shuffle_id, read_index,
    consumer_task, producer_task).
    """
    matrix = network_stream_matrix(df)
    specs = _aqe_shuffle_read_specs(df._jdf.queryExecution().executedPlan())
    by_sid: dict[int, list] = {}
    for r in matrix:
        by_sid.setdefault(r["shuffle_id"], []).append(r)
    out: list[dict] = []
    for sid, rows in by_sid.items():
        reads = specs.get(sid)
        if not reads:
            for r in rows:
                out.append(
                    {
                        "shuffle_id": sid,
                        "read_index": 0,
                        "producer_task": r["producer_task"],
                        "consumer_task": r["consumer_partition"],
                        "bytes_est": r["bytes_est"],
                        "n_partitions": 1,
                    }
                )
            continue
        for read_idx, sl in enumerate(reads):
            out.extend(
                _rollup_one_read(sid, read_idx, sl, rows)
            )
    out.sort(
        key=lambda r: (
            r["shuffle_id"], r["read_index"], r["consumer_task"],
            r["producer_task"],
        )
    )
    return out


def _rollup_one_read(sid: int, read_idx: int, sl: list, rows: list) -> list[dict]:
    """Roll the fine per-partition rows up into one read's task layout."""
    out: list[dict] = []
    for task_idx, spec in enumerate(sl):
        scls = spec.getClass().getSimpleName()
        if scls.startswith("CoalescedPartitionSpec"):
            lo = int(spec.startReducerIndex())
            hi = int(spec.endReducerIndex())  # exclusive
            sel = [r for r in rows if lo <= r["consumer_partition"] < hi]
        elif scls.startswith("PartialReducerPartitionSpec"):
            red = int(spec.reducerIndex())
            m0 = int(spec.startMapIndex())
            m1 = int(spec.endMapIndex())  # exclusive
            sel = [
                r
                for r in rows
                if r["consumer_partition"] == red
                and m0 <= r["producer_task"] < m1
            ]
        elif scls.startswith("PartialMapperPartitionSpec"):
            mi = int(spec.mapIndex())
            lo = int(spec.startReducerIndex())
            hi = int(spec.endReducerIndex())
            sel = [
                r
                for r in rows
                if r["producer_task"] == mi
                and lo <= r["consumer_partition"] < hi
            ]
        else:  # unknown spec shape: report nothing rather than guess
            sel = []
        per_prod: dict[int, list] = {}
        for r in sel:
            per_prod.setdefault(r["producer_task"], []).append(r)
        for prod, rs in per_prod.items():
            out.append(
                {
                    "shuffle_id": sid,
                    "read_index": read_idx,
                    "producer_task": prod,
                    "consumer_task": task_idx,
                    "bytes_est": sum(r["bytes_est"] for r in rs),
                    "n_partitions": len(rs),
                }
            )
    return out


# Partition specs of a mapper-local shuffle read (AQE's local shuffle read).
_LOCAL_READ_SPECS = ("PartialMapperPartitionSpec", "CoalescedMapperPartitionSpec")


def local_connections_used(df: DataFrame) -> list[dict]:
    """Per shuffle read, how many consumer-task streams were LOCAL —
    the reference's ``local_connections_used`` metric on every network
    boundary (/root/reference/tests/local_connections.rs:40-46): when the
    dynamic planner sees stages small enough, it co-locates them and the
    boundary is crossed without a network jump.

    Spark's equivalent co-location decision is AQE's local shuffle read
    (``OptimizeShuffleWithLocalRead``): when a statically-planned shuffle
    join is demoted to a broadcast join at runtime, the surviving shuffle
    is re-read mapper by mapper: ``PartialMapperPartitionSpec`` when a
    consumer task reads part of one mapper's output, and
    ``CoalescedMapperPartitionSpec`` when there are more mappers than the
    read's parallelism and a consumer task reads a run of whole mappers.
    Either way the scheduler PREFERS placing the task on its mappers' host.
    Coalesced reduce-partition, skew-split and plain reduce-partition reads
    fetch from every mapper and stay remote.

    Caveat (vs the reference): mapper-host placement is a Spark locality
    PREFERENCE, not a guarantee — on a busy multi-node cluster a consumer
    task can be scheduled off-host and its fetch then crosses the network,
    so this counter counts local-READ PARTITION SPECS (an upper bound on
    truly-local connections), while the reference counts actually-local
    connections at the Flight layer. On local[N] the two coincide; on a
    real cluster, cross-check task host vs mapper host via the
    task-metrics listener for the exact count.

    Returns one row per (shuffle_id, read_index):
    ``{shuffle_id, read_index, local_connections_used, total_reads}``
    where ``local_connections_used`` counts the local-read consumer tasks.
    Must be called after the frame has executed (AQE specs exist only on
    the executed plan).
    """
    specs = _aqe_shuffle_read_specs(df._jdf.queryExecution().executedPlan())
    out: list[dict] = []
    for sid in sorted(specs):
        for read_idx, sl in enumerate(specs[sid]):
            n_local = sum(
                1 for s in sl if s.getClass().getSimpleName().startswith(_LOCAL_READ_SPECS)
            )
            out.append(
                {
                    "shuffle_id": sid,
                    "read_index": read_idx,
                    "local_connections_used": n_local,
                    "total_reads": len(sl),
                }
            )
    return out


def explain_analyze(df: DataFrame, with_task_latency: bool = True) -> str:
    """Distributed EXPLAIN ANALYZE: drain the query, then render the stage
    tree annotated with the per-node SQLMetrics Spark collected from the
    executors — the reference's drain-then-rewrite flow
    (/root/reference/src/explain_analyze.rs:19-50) — followed by per-task
    latency percentiles per scheduler stage (the reference's DDSketch
    latency dimension, src/metrics/latency_metric.rs)."""
    if not with_task_latency:
        df.collect()  # drain, like DistributedAnalyzeExec
        return render_stage_tree(df, with_metrics=True)
    sc = df.sparkSession.sparkContext
    # ONE drain feeds both the latency panel and the PerTask panel — the
    # reference rewrites all metric dimensions from a single execution.
    stage_ids = _drain_under_group(df, "explain-analyze")
    latency = _latency_for_stages(sc, stage_ids)
    per_task = _per_task_for_stages(sc, stage_ids)
    lines = [render_stage_tree(df, with_metrics=True)]
    streams = network_stream_summary(df)
    if streams:
        lines.append("")
        lines.append("Network streams (consumer ← producer):")
        for s in streams:
            lines.append(
                f"  stage {s['consumer_stage']} ← stage {s['producer_stage']} "
                f"[{s['kind']}]: {s['bytes']:,} bytes, {s['rows']:,} rows"
            )
    # Local connections per boundary (the reference's
    # local_connections_used counter, tests/local_connections.rs) — shown
    # only when AQE actually co-located a read, so the common remote case
    # stays quiet.
    # (label says "specs": placement is a locality preference, see
    # local_connections_used's caveat — exact on local[N].)
    for lc in local_connections_used(df):
        if lc["local_connections_used"]:
            lines.append(
                f"  shuffle {lc['shuffle_id']} read {lc['read_index']}: "
                f"local_read_specs={lc['local_connections_used']}"
                f"/{lc['total_reads']}"
            )
    # Busiest per-task streams (the reference's per-Flight-stream byte
    # counters) — top 5 so a skewed channel is visible at a glance.
    matrix = network_stream_matrix(df)
    if matrix:
        lines.append("Busiest streams (consumer partition ← producer task):")
        top = sorted(matrix, key=lambda r: -r["bytes_est"])[:5]
        for r in top:
            lines.append(
                f"  shuffle {r['shuffle_id']}: part {r['consumer_partition']}"
                f" ← task {r['producer_task']}: ~{r['bytes_est']:,} bytes"
            )
        # The same streams at the reference's per-Flight-stream grain: one
        # row per (consumer TASK ← producer task) actual fetch channel,
        # with AQE-coalesced partition ranges summed per task.
        tasks = network_stream_matrix_by_task(df)
        if tasks:
            lines.append("Busiest task streams (consumer task ← producer task):")
            for r in sorted(tasks, key=lambda r: -r["bytes_est"])[:5]:
                lines.append(
                    f"  shuffle {r['shuffle_id']}: task {r['consumer_task']}"
                    f" ← task {r['producer_task']}: ~{r['bytes_est']:,} bytes"
                    f" ({r['n_partitions']} partition"
                    f"{'s' if r['n_partitions'] != 1 else ''})"
                )
    lines.append("")
    lines.append("Task latency per scheduler stage:")
    for r in latency:
        lines.append(
            f"  stage {r['stage_id']} [{r['name']}] tasks={r['n_tasks']}: "
            f"p50={r['p50_ms']:.0f}ms p95={r['p95_ms']:.0f}ms "
            f"max={r['max_ms']:.0f}ms"
        )
    # PerTask panel — the reference's DistributedMetricsFormat::PerTask
    # rendering (docs/user-guide/05-metrics.md): each metric as a map keyed
    # by task index, e.g. output_rows={0: 12, 1: 9}. Zero-valued metrics are
    # elided per stage so the panel stays readable on wide stages.
    if per_task:
        lines.append("")
        lines.append("Per-task metrics (PerTask):")
        for st in per_task:
            lines.append(
                f"  stage {st['stage_id']} [{st['name']}] "
                f"tasks={st['n_tasks']}:"
            )
            for metric in sorted(st["metrics"]):
                vals = st["metrics"][metric]
                if not any(vals.values()):
                    continue
                body = ", ".join(
                    f"{i}: {vals[i]}" for i in sorted(vals)
                )
                lines.append(f"    {metric}={{{body}}}")
    return "\n".join(lines)
