"""Worker plan rewrite hooks — the engine's user extension point for
worker-local, semantics-preserving plan rewrites.

Reference parity: `DistributedExt::with_distributed_worker_plan_rewrite_handler`
(/root/reference/docs/source/advanced/03-plan-hooks.md,
/root/reference/tests/worker_plan_hook.rs) registers handlers that run after
a worker decodes its stage plan and before the task executes. Handlers run
in registration order (each sees the previous one's output), read the
session config — including header-propagated option extensions — may only
make semantics-preserving rewrites that keep the head node's output schema,
and a handler error fails the query.

Spark seat for the same contract: physical-plan rewriting is Catalyst's job
and JVM-side rule injection is not reachable from Python, so the extension
point sits where a logical plan leaves the engine for execution —
``run_plan_hooks(df)`` threads the DataFrame through every registered
handler in order, enforcing the reference's contract:

- the head schema must be preserved (checked; violation fails the query,
  like a handler returning a mis-shaped plan would downstream);
- handlers receive a :class:`HookContext` exposing the session, runtime
  confs, and driver local properties (the passthrough-header analogue —
  see tests/test_context_propagation.py);
- a handler exception propagates to the caller: the query fails, exactly
  like `plan_hook_errors_propagate_to_query` in the reference test;
- hooks are worker-local rewrites in spirit: instrumentation (persist,
  metric taps, logging) and semantics-preserving hints are appropriate;
  anything schema-changing is rejected at hook time.

Each SparkSession holds its own registry (``memo(session, "hooks")``, an
insertion-ordered name -> handler dict), mirroring the reference's
per-worker `SessionStateBuilder` registration: handlers registered on one
session never run on another's frames (the multi-session differential
harnesses are exactly this scenario). In a real cluster deployment the
module is imported on the driver, and the rewrites it applies (hints,
persist, instrumentation wrappers) ride into every executor through the
plan itself.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..engine import memo


@dataclass
class HookContext:
    """What a handler may consult: the session, its runtime conf, and the
    driver local properties that propagate to every task (the reference
    hands handlers the worker session config built from propagated
    headers)."""

    spark: SparkSession

    def conf(self, key: str, default: Optional[str] = None) -> Optional[str]:
        try:
            return self.spark.conf.get(key)
        except Exception:
            return default

    def local_property(self, key: str) -> Optional[str]:
        return self.spark.sparkContext.getLocalProperty(key)

    def option_extension(self, cls):
        """Typed option extension rebuilt from propagated properties —
        the reference hook test reads its PlanHookOptions the same way
        (with_distributed_option_extension_from_headers)."""
        from .options import get_option_extension

        return get_option_extension(cls, self.spark)


def _resolve_session(spark: Optional[SparkSession]) -> SparkSession:
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError(
            "no SparkSession: pass spark= explicitly or register from a "
            "thread with an active session (hooks are session-scoped, like "
            "the reference's per-session SessionStateBuilder registration)"
        )
    return s


def _hooks(spark: Optional[SparkSession]) -> dict:
    """``spark``'s hooks (default: the active session) in registration
    order, name -> handler."""
    return memo(_resolve_session(spark), "hooks")


def register_worker_plan_hook(
    name: str,
    fn: Callable[[DataFrame, HookContext], DataFrame],
    spark: Optional[SparkSession] = None,
) -> None:
    """Append a handler to ``spark``'s registry (default: the active
    session). Duplicate names within a session are rejected so
    unregistering is unambiguous; the same name in two sessions is fine —
    that's the isolation the reference's per-session registration gives."""
    hooks = _hooks(spark)
    if name in hooks:
        raise ValueError(f"plan hook {name!r} already registered")
    hooks[name] = fn


def unregister_worker_plan_hook(
    name: str, spark: Optional[SparkSession] = None
) -> bool:
    """Remove a handler by name from ``spark``'s registry (default: the
    active session); returns whether one was removed."""
    return _hooks(spark).pop(name, None) is not None


def clear_worker_plan_hooks(spark: Optional[SparkSession] = None) -> None:
    """Clear ``spark``'s hooks (default: the active session); sibling
    sessions keep theirs."""
    _hooks(spark).clear()


def registered_hooks(spark: Optional[SparkSession] = None) -> list:
    return list(_hooks(spark))


def run_plan_hooks(df: DataFrame) -> DataFrame:
    """Thread ``df`` through every registered handler in registration order,
    enforcing the semantics-preserving contract (head schema unchanged).

    Handler errors propagate — the reference's
    `plan_hook_errors_propagate_to_query` behavior — wrapped with the hook
    name so the failing handler is identifiable, like the reference's
    error context.

    Session-scoped: only the hooks registered against ``df``'s own session
    run — a sibling session's handlers never see this frame, matching the
    reference where each worker session carries its own handler list."""
    hooks = memo(df.sparkSession, "hooks")
    if not hooks:
        return df
    ctx = HookContext(spark=df.sparkSession)
    before = df.schema
    for name, fn in list(hooks.items()):
        try:
            out = fn(df, ctx)
        except Exception as e:
            raise RuntimeError(f"worker plan hook {name!r} failed: {e}") from e
        if out is None or not isinstance(out, DataFrame):
            raise RuntimeError(
                f"worker plan hook {name!r} returned {type(out).__name__}, "
                "expected a DataFrame"
            )
        if out.schema != before:
            raise RuntimeError(
                f"worker plan hook {name!r} changed the head schema — "
                "handlers must preserve the output schema "
                "(docs/advanced/03-plan-hooks.md contract): "
                f"{before.simpleString()} -> {out.schema.simpleString()}"
            )
        df = out
    return df
