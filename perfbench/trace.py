"""Traced execution of one query, measured from outside the engine.

Spans are recorded in memory around the benchmark's calls into each
layer's public entry point:

    query
      operators.build     the registry builder ``QueryDef.fn(spark, dir)``
        catalyst.sql      every ``SparkSession.sql`` call made while building
      catalyst.plan       ``queryExecution().executedPlan()``
      exec.collect        ``DataFrame.collect()``
      exec.noop           the same frame written to the ``noop`` sink
      slots.release       ``release_all_slots`` + ``catalog.clearCache``

Each of build, plan + collect and noop runs under its own Spark job group,
so every job counts toward the layer that launched it; the listener bus is
flushed before the status store is read, as ``plans/explain.py`` does.
py4j calls are counted by wrapping the gateway client's ``send_command``.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from perfbench.stats import Span, layer_split

# Layers whose self times make up a query's untraced latency
# (build + plan + collect); noop and release are extra traced work.
LATENCY_LAYERS = ("operators.build", "catalyst.sql", "catalyst.plan", "exec.collect")


class Tracer:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._span_ids = itertools.count(1)
        self._groups = itertools.count()
        self.py4j_calls = 0
        self._client = self.sc._gateway._gateway_client
        send = self._client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counted
        self._orig_sql = SparkSession.sql
        tracer, orig_sql = self, self._orig_sql

        def sql(session, *args, **kwargs):
            if not tracer._stack:
                return orig_sql(session, *args, **kwargs)
            with tracer.span("catalyst.sql"):
                return orig_sql(session, *args, **kwargs)

        SparkSession.sql = sql

    def close(self) -> None:
        SparkSession.sql = self._orig_sql
        del self._client.send_command

    @contextmanager
    def span(self, name: str, query_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            start=time.perf_counter(),
            end=0.0,
            query_id=query_id or parent.query_id,
            span_id=next(self._span_ids),
            parent=parent.span_id if parent else None,
        )
        calls0 = self.py4j_calls
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.counts["py4j_calls"] = self.py4j_calls - calls0
            self.spans.append(s)

    def _set_group(self, group: str | None) -> None:
        if group is None:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(group, "perfbench")

    def _flush(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def run(self, query_id: str, fn, sf_dir: str, hygiene) -> tuple[object, list, dict]:
        """Run one query traced. Returns (columns, rows, per-query metrics)."""
        seq = next(self._groups)
        groups = {k: f"perfbench-{k}-{seq}" for k in ("build", "exec", "noop")}
        with self.span("query", query_id=query_id):
            self._set_group(groups["build"])
            with self.span("operators.build") as build:
                df = fn(self.spark, sf_dir)
            # One py4j call between build and collect keeps the untimed gap
            # in the traced latency small; a job launched while planning
            # counts toward exec.
            self._set_group(groups["exec"])
            with self.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.span("exec.collect") as collect:
                rows = df.collect()
            self._set_group(groups["noop"])
            with self.span("exec.noop") as noop:
                df.write.format("noop").mode("overwrite").save()
            self._set_group(None)
            self._flush()
            cached = self._cached_bytes()
            with self.span("slots.release") as release:
                hygiene()
        columns = df.columns
        spans = [s for s in self.spans if s.query_id == query_id]
        split = layer_split(spans, LATENCY_LAYERS)
        m = {f"split.{k}": v for k, v in split.items()}
        m.update(
            {
                "latency_s": collect.end - build.start,
                "operators.build_s": split["operators.build"],
                "operators.build_jobs": len(self._jobs(groups["build"])),
                "operators.py4j_calls": build.counts["py4j_calls"],
                "catalyst.sql_s": split["catalyst.sql"],
                "catalyst.plan_s": split["catalyst.plan"],
                "exec.exec_s": collect.duration,
                "exec.result_rows": len(rows),
                "exec.result_transfer_s": collect.duration - noop.duration,
                "slots.cached_bytes": cached,
                "slots.release_s": release.duration,
            }
        )
        m.update(self._exec_metrics(groups["exec"]))
        return columns, rows, m

    def _jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _cached_bytes(self) -> int:
        """Storage held by cached/checkpointed RDDs right now."""
        infos = self.sc._jsc.sc().statusStore().rddList(True)
        it = infos.iterator()
        total = 0
        while it.hasNext():
            r = it.next()
            total += int(r.memoryUsed()) + int(r.diskUsed())
        return total

    def _exec_metrics(self, group: str) -> dict:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        m = dict.fromkeys(
            (
                "exec.jobs", "exec.stages", "exec.skipped_stages", "exec.tasks",
                "exec.failed_tasks", "exec.task_run_s", "exec.task_cpu_s",
                "exec.task_wait_s", "exec.gc_s", "exec.input_bytes",
                "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
            ),
            0,
        )
        stage_ids: set[int] = set()
        for jid in self._jobs(group):
            job = store.job(jid)
            m["exec.jobs"] += 1
            m["exec.skipped_stages"] += job.numSkippedStages()
            m["exec.failed_tasks"] += job.numFailedTasks()
            info = tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else ())
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # a skipped stage that never reached the store
            if str(sd.status()) != "COMPLETE":
                continue
            m["exec.stages"] += 1
            m["exec.tasks"] += sd.numCompleteTasks()
            run_ms = sd.executorRunTime()
            m["exec.task_run_s"] += run_ms / 1e3
            m["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
            m["exec.gc_s"] += sd.jvmGcTime() / 1e3
            m["exec.input_bytes"] += sd.inputBytes()
            m["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            m["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            m["exec.spill_bytes"] += sd.diskBytesSpilled()
            m["exec.task_wait_s"] += (self._task_duration_ms(store, sid, sd) - run_ms) / 1e3
        return m

    @staticmethod
    def _task_duration_ms(store, sid: int, sd) -> int:
        tasks = store.taskList(sid, sd.attemptId(), 1_000_000)
        it = tasks.iterator()
        total = 0
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                total += int(d.get())
        return total
