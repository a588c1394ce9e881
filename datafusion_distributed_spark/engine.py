"""SparkSession construction and tuning.

Maps the reference's ``DistributedConfig`` knobs
(/root/reference/src/distributed_planner/distributed_config.rs:11-80) onto Spark
SQL configuration:

===============================================  =====================================
reference knob                                    Spark conf
===============================================  =====================================
file_scan_config_bytes_per_partition (16 MiB)     tables.ONE_TASK_BYTES: a table of at
                                                  most min(16 MiB, spark.sql.files.
                                                  maxPartitionBytes) is read as one
                                                  partition; larger tables split at
                                                  spark.sql.files.maxPartitionBytes
dynamic_task_count / AQE sampling                 spark.sql.adaptive.* (runtime re-plan)
compression = lz4 | zstd | none                   spark.io.compression.codec (lz4 default)
shuffle batch size override                       spark.sql.shuffle.partitions + AQE
cardinality_task_count_factor                     AQE coalesce/skew (runtime equivalent)
===============================================  =====================================

Scale notes (100 TB design): every conf here is chosen so the same code runs on a
1000-executor cluster — AQE handles shuffle-partition sizing at runtime instead of
a hard-coded count, maxPartitionBytes keeps scan tasks ~128 MiB regardless of
total input size, and broadcast threshold stays Spark-default-ish so Catalyst's
size-based planning (not us) picks broadcast vs shuffle joins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Confs that are safe to set at runtime on an existing session (the correctness
# driver owns its own SparkSession); set once per session, so a caller's own
# setting holds.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic temporal semantics: DuckDB oracle reads parquet timestamps
    # as naive; with UTC session tz, Spark TIMESTAMP/TIMESTAMP_NTZ agree.
    "spark.sql.session.timeZone": "UTC",
    # events.ts is parquet TIMESTAMP(NANOS) which Spark rejects by default;
    # read as int64 nanos and convert in tables.load_tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Reference runs all suites with and without adaptive execution
    # (tests/tpch_correctness_test.rs:15 ADAPTIVE=true); we default AQE on —
    # it is the scale path (runtime shuffle sizing, skew-join splitting).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for any pandas interchange (mirrors the reference's
    # Arrow-IPC data plane, src/execution_plans/network_shuffle.rs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Filter pushdown into Python data sources (sources/work_unit_feed.py),
    # read at optimize time, after a builder returns.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def apply_session_confs(spark: SparkSession) -> SparkSession:
    """Set ``RUNTIME_CONFS`` the first time ``spark`` reaches the engine, as
    the reference sets its ``DistributedConfig`` once per session; later
    calls leave a caller's own settings alone."""
    applied = memo(spark, "confs")
    if not applied:
        for key, value in RUNTIME_CONFS.items():
            try:
                spark.conf.set(key, value)
            except Exception:
                # A static conf on some Spark build: best effort.
                pass
        applied.update(RUNTIME_CONFS)
    return spark


def memo(owner, name: str) -> dict:
    """The ``name`` memo dict stored on ``owner`` (a SparkSession, or its
    SparkContext for state that sibling sessions share). State lives as long
    as its owner, like the reference's per-query state
    (tests/stateful_data_cleanup.rs): no key names the owner, so a
    ``newSession()`` sibling or a restarted context starts empty and
    nothing needs pruning. Values are plan metadata or small trained
    artifacts, never rows."""
    return vars(owner).setdefault("_dds_" + name, {})


def build_session(
    app_name: str = "datafusion-distributed-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build a tuned local session (tests/bench). On a real cluster the same
    confs apply; only ``master`` changes."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is None:
        # Default the shuffle width to the core count: Spark's 200 default is
        # a cluster-sized guess; AQE coalesces DOWN but never widens a tiny
        # plan, and 200-partition shuffles of KB-scale stages are pure
        # scheduling overhead at bench scale. On a real cluster this conf is
        # sized to executors × cores (and AQE re-sizes at runtime).
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else None
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_session_confs(spark)


class Engine:
    """Facade mirroring the reference's end-user surface: register parquet
    tables, run SQL / DataFrame queries, introspect the distributed plan.

    Reference analogue: a ``SessionContext`` extended with
    ``DistributedQueryPlanner`` (/root/reference/src/distributed_planner/
    distributed_query_planner.rs:57-79) — in Spark, Catalyst + EnsureRequirements
    already produce the staged distributed plan, so this class is a thin surface.
    """

    def __init__(self, spark: SparkSession):
        self.spark = apply_session_confs(spark)
        self._tables: dict[str, DataFrame] = {}

    def read_parquet(self, name: str, path: str) -> DataFrame:
        """Register a parquet-backed table (reference: register_tables in
        tests/tpch_correctness_test.rs; benchmarks/src/datasets/tpch.rs:17-23)."""
        df = self.spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        self._tables[name] = df
        return df

    def register(self, name: str, df: DataFrame) -> DataFrame:
        df.createOrReplaceTempView(name)
        self._tables[name] = df
        return df

    def table(self, name: str) -> DataFrame:
        return self._tables[name]

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def explain_stages(self, df: DataFrame) -> str:
        """Reference-style stage-tree rendering (display_plan_ascii,
        /root/reference/src/stage.rs; docs example at
        distributed_query_planner.rs:225-244)."""
        from .plans.explain import render_stage_tree

        return render_stage_tree(df)

    def explain_graphviz(self, df: DataFrame) -> str:
        """Graphviz DOT stage rendering (reference: display_plan_graphviz,
        /root/reference/src/lib.rs:60-62)."""
        from .plans.explain import render_stage_graphviz

        return render_stage_graphviz(df)

    def explain_analyze(self, df: DataFrame) -> str:
        """Drain the query and render the stage tree with executor-collected
        metrics (reference: /root/reference/src/explain_analyze.rs:19-50)."""
        from .plans.explain import explain_analyze

        return explain_analyze(df)

    def advise_stage_sizing(self, *paths: str, shuffle_selectivity: float = 1.0):
        """Cost-based static stage sizing from input bytes (reference:
        statistics-driven task counts, /root/reference/src/distributed_planner/
        statistics/complexity_cpu.rs + distributed_config.rs:11-15). Returns a
        StageSizing; pass apply=True behavior via apply_stage_sizing."""
        from .plans.costing import advise

        return advise(
            *paths,
            parallelism=self.spark.sparkContext.defaultParallelism,
            shuffle_selectivity=shuffle_selectivity,
        )

    def apply_stage_sizing(self, sizing) -> None:
        from .plans.costing import apply_sizing

        apply_sizing(self.spark, sizing)
