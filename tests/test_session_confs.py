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
