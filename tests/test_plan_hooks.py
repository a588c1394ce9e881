"""Worker plan rewrite hooks — the repo analogue of the reference's
`with_distributed_worker_plan_rewrite_handler`
(/root/reference/tests/worker_plan_hook.rs,
docs/source/advanced/03-plan-hooks.md). The reference pins: handlers run in
registration order and receive the session config (incl. header-propagated
option extensions); handler errors propagate to the query; rewrites must be
semantics-preserving. Same cases here over the Spark seat of the extension
point (plans/hooks.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datafusion_distributed_spark.operators.relational import tpch_q1, tpch_q6
from datafusion_distributed_spark.plans.hooks import (
    clear_worker_plan_hooks,
    register_worker_plan_hook,
    registered_hooks,
    run_plan_hooks,
    unregister_worker_plan_hook,
)

from .conftest import SF_DIR


@pytest.fixture(autouse=True)
def _clean_hooks():
    clear_worker_plan_hooks()
    yield
    clear_worker_plan_hooks()


def test_hooks_run_in_order_and_see_session_config(spark):
    """Mirror of worker_plan_rewrite_handlers_receive_session_config_and_run_in_order:
    two hooks record the call order, and each reads request-scoped context —
    a session conf and a driver local property (the passthrough-header
    channel, tests/test_context_propagation.py)."""
    calls = []
    spark.conf.set("plan_hook.label", "worker-session-value")
    spark.sparkContext.setLocalProperty("plan_hook.trace", "trace-1")
    try:

        def first(df, ctx):
            calls.append(("first", ctx.conf("plan_hook.label"),
                          ctx.local_property("plan_hook.trace")))
            return df

        def second(df, ctx):
            calls.append(("second", ctx.conf("plan_hook.label"),
                          ctx.local_property("plan_hook.trace")))
            # a semantics-preserving instrumentation rewrite: a join-side
            # hint keeps schema and rows identical
            return df.hint("coalesce", 1)

        register_worker_plan_hook("first", first)
        register_worker_plan_hook("second", second)
        assert registered_hooks() == ["first", "second"]

        base = tpch_q1(spark, SF_DIR)
        out = run_plan_hooks(base)
        assert calls == [
            ("first", "worker-session-value", "trace-1"),
            ("second", "worker-session-value", "trace-1"),
        ]
        # semantics preserved: same schema, same rows
        assert out.schema == base.schema
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, base.collect())
        )
    finally:
        spark.sparkContext.setLocalProperty("plan_hook.trace", None)
        spark.conf.unset("plan_hook.label")


def test_hook_errors_propagate_to_query(spark):
    """Mirror of plan_hook_errors_propagate_to_query: a raising handler
    fails the query, with the hook name in the error context."""

    def boom(df, ctx):
        raise ValueError("intentional hook failure")

    register_worker_plan_hook("boom", boom)
    with pytest.raises(RuntimeError, match="'boom' failed.*intentional"):
        run_plan_hooks(tpch_q6(spark, SF_DIR))


def test_schema_changing_hook_rejected(spark):
    """The head node's output schema must be preserved (the doc's handler
    contract); a projection-changing hook is rejected by name."""

    def drops_column(df, ctx):
        return df.select(df.columns[0])

    register_worker_plan_hook("drops", drops_column)
    with pytest.raises(RuntimeError, match="'drops' changed the head schema"):
        run_plan_hooks(tpch_q1(spark, SF_DIR))


def test_non_dataframe_return_rejected(spark):
    def bad(df, ctx):
        return None

    register_worker_plan_hook("bad", bad)
    with pytest.raises(RuntimeError, match="'bad' returned NoneType"):
        run_plan_hooks(tpch_q6(spark, SF_DIR))


def test_each_hook_sees_previous_output(spark):
    """Handlers chain: the second handler must receive the FIRST handler's
    rewritten frame (the reference: 'each handler sees the plan produced by
    the previous one')."""
    seen_plans = []

    def tag_with_hint(df, ctx):
        return df.hint("coalesce", 1)

    def inspect(df, ctx):
        seen_plans.append(
            "coalesce" in df._jdf.queryExecution().logical().toString().lower()
        )
        return df

    register_worker_plan_hook("tag", tag_with_hint)
    register_worker_plan_hook("inspect", inspect)
    run_plan_hooks(tpch_q6(spark, SF_DIR))
    assert seen_plans == [True]


def test_hooks_are_session_scoped(spark):
    """Two sessions, one process: handlers registered on session A must not
    run on session B's frames and vice versa — the reference registers
    handlers on a specific worker session's SessionStateBuilder
    (tests/worker_plan_hook.rs), so registration is per-session, not
    process-global. This is the exact scenario of the repo's own
    multi-session differential harnesses."""
    s1, s2 = spark.newSession(), spark.newSession()
    calls = []

    register_worker_plan_hook("iso", lambda df, ctx: (calls.append("s1"), df)[1], spark=s1)
    # same hook NAME on the sibling is legal — separate registries
    register_worker_plan_hook("iso", lambda df, ctx: (calls.append("s2"), df)[1], spark=s2)
    register_worker_plan_hook("only1", lambda df, ctx: df, spark=s1)

    assert registered_hooks(s1) == ["iso", "only1"]
    assert registered_hooks(s2) == ["iso"]

    run_plan_hooks(tpch_q6(s1, SF_DIR))
    assert calls == ["s1"]  # s2's handler did not fire on s1's frame
    run_plan_hooks(tpch_q6(s2, SF_DIR))
    assert calls == ["s1", "s2"]

    # unregister is scoped too: removing from s1 leaves s2's intact
    assert unregister_worker_plan_hook("iso", spark=s1) is True
    assert registered_hooks(s2) == ["iso"]
    run_plan_hooks(tpch_q6(s1, SF_DIR))
    assert calls == ["s1", "s2"]  # nothing fired on s1 anymore

    # clearing one session never touches the other
    clear_worker_plan_hooks(s2)
    assert registered_hooks(s1) == ["only1"]
    assert registered_hooks(s2) == []


def test_clear_without_argument_spares_a_sibling_session(spark):
    """With no argument, clear_worker_plan_hooks clears the active session
    only: a ``newSession()`` sibling keeps its hook, and the hook still runs
    on the sibling's frames."""
    sibling = spark.newSession()
    calls = []
    register_worker_plan_hook("mine", lambda df, ctx: df)
    register_worker_plan_hook(
        "theirs", lambda df, ctx: (calls.append("sibling"), df)[1], spark=sibling
    )

    clear_worker_plan_hooks()
    assert registered_hooks() == []
    assert registered_hooks(sibling) == ["theirs"]
    run_plan_hooks(tpch_q6(sibling, SF_DIR))
    assert calls == ["sibling"]


def test_unregister_and_duplicates(spark):
    def h(df, ctx):
        return df

    register_worker_plan_hook("h", h)
    with pytest.raises(ValueError, match="already registered"):
        register_worker_plan_hook("h", h)
    assert unregister_worker_plan_hook("h") is True
    assert unregister_worker_plan_hook("h") is False
    # no hooks -> passthrough object identity (zero-cost when unused)
    df = tpch_q6(spark, SF_DIR)
    assert run_plan_hooks(df) is df
