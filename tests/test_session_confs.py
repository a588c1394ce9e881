"""A session the engine did not build, such as the one the correctness
driver hands to ``queries()`` and ``entry()``, gets the engine's confs on
its first table load: without ``nanosAsLong`` Spark rejects ``events.ts``,
which is stored as TIMESTAMP(NANOS)."""

from __future__ import annotations

from datafusion_distributed_spark.tables import load_tables

from .conftest import SF_DIR

TIME_ZONE = "spark.sql.session.timeZone"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_a_new_session_gets_the_engine_confs_on_first_load(spark):
    sibling = spark.newSession()
    for key in (TIME_ZONE, NANOS_AS_LONG):
        sibling.conf.unset(key)
    assert sibling.conf.get(NANOS_AS_LONG) == "false"
    events = load_tables(sibling, SF_DIR)["events"]
    assert sibling.conf.get(TIME_ZONE) == "UTC"
    assert sibling.conf.get(NANOS_AS_LONG) == "true"
    assert dict(events.dtypes)["ts"] == "timestamp_ntz"


def test_a_second_build_keeps_the_callers_confs(spark):
    """build_session on a running session returns that session and leaves a
    conf the caller set alone (tools/run_query.py builds a second time
    inside the CLI tests)."""
    from datafusion_distributed_spark.engine import build_session

    from .conftest import AQE, MAX_PARTITION_BYTES, session_confs

    # The builder's own confs are re-applied to the running session; the
    # block restores them for the tests that follow.
    shuffle = "spark.sql.shuffle.partitions"
    kept = {k: spark.conf.get(k) for k in (shuffle, MAX_PARTITION_BYTES)}
    with session_confs(spark, {AQE: "false", **kept}):
        again = build_session(master="local[8]")
        assert again is spark
        assert spark.conf.get(AQE) == "false"
