"""datafusion_distributed_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of datafusion-contrib/datafusion-distributed.

The reference (/root/reference, v2.0.0) is a Rust library that adds distributed
execution to Apache DataFusion: stages, network shuffles/broadcasts, AQE-style
dynamic task sizing (see SURVEY.md §0). Spark already *is* that distributed
runtime — stages, Exchange operators, AQE, task scheduling are built in — so this
package is organized as:

- ``engine``     — session tuning that mirrors the reference's DistributedConfig
                   knobs (reference: src/distributed_planner/distributed_config.rs)
- ``tables``     — table registry over the driver-provided parquet datasets
- ``operators``  — the query/operator surface of SURVEY.md §2, expressed
                   Catalyst-first (DataFrame API / Spark SQL), each paired with a
                   DuckDB oracle SQL string for differential testing (the
                   reference's test method, see tests/tpch_correctness_test.rs)
- ``plans``      — stage-tree EXPLAIN renderer + metrics, mirroring
                   display_plan_ascii / EXPLAIN ANALYZE (reference:
                   src/explain_analyze.rs, src/stage.rs)
- ``sources``    — work-unit-feed analogue via the PySpark DataSource API
                   (reference: src/work_unit_feed/)
- ``sinks``      — write path: sized parquet writes + small-file compaction
                   (additive; the reference has no write path, SURVEY.md §2.5)
- ``streaming``  — additive Structured Streaming support (the reference is
                   bounded-only, SURVEY.md §2.4)
"""

from . import _pyworker
from .engine import Engine, apply_session_confs, build_session
from .tables import TABLE_NAMES, load_tables

__version__ = "0.1.0"

# Python workers import this package before running any of its functions.
_pyworker.install()

__all__ = [
    "Engine",
    "apply_session_confs",
    "build_session",
    "TABLE_NAMES",
    "load_tables",
    "__version__",
]
