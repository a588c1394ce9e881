"""Shared helpers for operator implementations.

Money arithmetic discipline (performance + oracle parity):
Aggregating DECIMAL in Spark falls off the codegen fast path (Int128/
BigDecimal per row — measured ~25x slower than long math on this workload),
while aggregating DOUBLE is summation-order-dependent and can't hash-match a
different engine. So money is quantized to integer cents (the source data is
exact 2-decimal; verified residual < 1e-9): sums/products are exact int64
arithmetic — fast, deterministic, portable — and only the final output is
unscaled to DOUBLE. This is what columnar engines do internally (decimal =
scaled integer; cf. DataFusion's Decimal128 representation).

Range bound: scale-1e4 revenue terms are ~1e9/row, so int64 group sums stay
exact beyond TPC-H SF1000. Scale-1e6 terms (q1 sum_charge, ~1e11/row) would
wrap int64 near SF50, so those specific aggregates are widened to
DECIMAL(38,0) before summing (exact; DuckDB's SUM(BIGINT)->HUGEINT matches).
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Column, SparkSession

from ..engine import memo
from ..tables import _NPART_ATTR, _SCAN_KEY_ATTR, load_tables


def t(spark: SparkSession, sf_dir: str):
    """Load + register the testdata tables; returns name -> DataFrame."""
    return load_tables(spark, sf_dir)


def arr_lit(values) -> Column:
    """Constant array<double> literal built with ONE py4j round trip.

    ``F.array(*[F.lit(x) for x in xs])`` costs len(xs) py4j calls — ~1 ms
    each — so the K×64 centroid/codeword matrices the similarity family
    folds into its plans cost ~1 s of DRIVER time per frame BUILD, re-paid
    on every invocation (bench runs, oracle sweeps). An r12 phase probe on
    _cell_dists measured build=1.1 s vs analyze+optimize+physical=0.05 s:
    the "planning" cost was Python-side Column construction. One F.expr
    over a SQL array(...) text is a single round trip (measured 0.01 s);
    CAST('<repr>' AS DOUBLE) parses via Java's correctly-rounded
    Double.parseDouble on Python's shortest-round-trip repr, so each
    element is bit-identical to the F.lit spelling (verified element-wise
    on the centroid fixtures), and ConstantFolding collapses the array to
    the same Literal the old spelling produced."""
    return F.expr(arr_lit_sql(values))


def arr_lit_sql(values) -> str:
    """The SQL text behind arr_lit — for embedding constant arrays inside
    LARGER single-round-trip expression strings (selectExpr/F.expr): a
    builder that loops K times over per-Column ops pays K×(tree size) py4j
    calls per invocation, while one string with the array text inlined
    parses JVM-side in a single trip (r12 floor probe: _cell_dists spent
    ~0.5 s/invocation in Column construction at K=16)."""
    return (
        "array(" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values) + ")"
    )


# Build-once constant-expression objects per (SparkContext, key). Column
# objects wrap immutable JVM expression trees and are session-agnostic
# within one gateway, so CONSTANT expressions — the K x 64 literal
# codeword/centroid/plane matrices and the fixed HOF fold shapes — need not
# be re-shipped and re-parsed on every invocation (r12 floor probe: those
# matrices cost 0.2-0.5 s of py4j/SQL-parse per frame BUILD, re-paid each
# bench run whichever API ships them). The memo lives on the SparkContext
# (engine.memo), so a restarted JVM never sees stale gateway refs. The
# payload is expression METADATA only — never data, never results; every
# collect still computes from the parquet inputs (same class as the
# context-scoped centroid/codebook memos).
def _const_exprs_on(sc, key: tuple, builder):
    exprs = memo(sc, "const_exprs")
    if key not in exprs:
        exprs[key] = builder()
    return exprs[key]


def const_exprs(spark: SparkSession, key: tuple, builder):
    """Memoize ``builder()`` (Columns / lists of Columns — constant
    expression trees) per (SparkContext, key).

    Constraints (r12 ADVICE):
    - Held on the SparkContext, so sibling SparkSessions of one context
      share trees parsed under whichever session's parser conf ran first;
      the engine builds sessions uniformly (engine.RUNTIME_CONFS), so
      parser-affecting conf divergence between siblings does not arise.
    - Cached trees containing Alias expressions carry exprIds fixed at
      build time: every frame built from them shares attribute IDs, so a
      cached aliased tree must not surface as an output attribute on BOTH
      sides of a join (analyzer ambiguity hazards). Today's callers project
      them away before any self-join."""
    return _const_exprs_on(spark.sparkContext, key, builder)


def const_exprs_active(key: tuple, builder):
    """const_exprs on the ACTIVE SparkContext — for expression helpers with
    no session handle (similarity's _dot / LSH bucket tree). Builds
    unmemoized when no context is live (import time)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return builder()
    return _const_exprs_on(sc, key, builder)


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def cents(col: str | Column) -> Column:
    """Exact integer cents of a 2-decimal money double (bigint)."""
    return F.round(_c(col) * 100, 0).cast("long")


def C(col: str) -> str:
    """DuckDB SQL for cents() — keep in sync."""
    return f"CAST(ROUND({col} * 100) AS BIGINT)"


def qty_i(col: str | Column = "l_quantity") -> Column:
    """Integer-valued quantity double -> bigint."""
    return F.round(_c(col), 0).cast("long")


def QI(col: str = "l_quantity") -> str:
    return f"CAST(ROUND({col}) AS BIGINT)"


def dbl(col: Column) -> Column:
    return col.cast("double")


def unscale(sum_col: Column, scale: int) -> Column:
    """Exact integer aggregate -> output double (divide in double, same
    operation order as the oracle SQL)."""
    return sum_col.cast("double") / F.lit(float(scale))


def ts(literal: str) -> Column:
    """Timestamp-NTZ literal for filters against parquet timestamp columns."""
    return F.lit(literal).cast("timestamp_ntz")


def fmt_date(col: str | Column) -> Column:
    """Render a timestamp as yyyy-MM-dd (oracle: strftime(x, '%Y-%m-%d'))."""
    return F.date_format(_c(col), "yyyy-MM-dd")


# revenue = l_extendedprice * (1 - l_discount), exact at scale 1e4:
# cents(ext) * (100 - cents(disc))
def revenue_i() -> Column:
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


REVENUE_I_SQL = f"({C('l_extendedprice')} * (100 - {C('l_discount')}))"
REVENUE_SCALE = 10_000

# Kept for operators that genuinely need decimal types (none hot-path today).
def dec(col: str | Column, p: int = 12, s: int = 4) -> Column:
    return _c(col).cast(f"decimal({p},{s})")


def release_local_checkpoint(df) -> None:
    """Explicitly free the block store behind a localCheckpoint'ed frame.

    GC-based reclamation is NOT dependable for checkpoint blocks (measured:
    superseded iteration frames survive repeated driver+JVM GC for the
    session's lifetime), and at 100 TB each iteration's frame is real
    executor memory/disk — an iterative operator must release iteration N-1
    the moment N is materialized, like any stateful worker cleans up after
    its query (/root/reference/tests/stateful_data_cleanup.rs:28-66).
    Best-effort by design: if the plan shape ever stops being LogicalRDD,
    leaking to GC is the correct fallback, not failing the query."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # not a LogicalRDD-backed frame — nothing explicit to free


def _unpersist(df) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass


def _slot(spark: SparkSession, key: str, build, release) -> "DataFrame":
    """Release the calling thread's previous ``key`` frame, then build and
    hold the next one with its ``release``.

    Slots are a session memo keyed by (calling thread, operator): two
    sessions in one process (the differential harnesses) or two threads
    must not release each other's blocks — localCheckpoint lineage cannot
    be recomputed (r6 ADVICE). A thread started after another finished may
    reuse its ident, and then takes over its slots."""
    slots = memo(spark, "slots")
    skey = (threading.get_ident(), key)
    prev = slots.pop(skey, None)
    if prev is not None:
        frame, prev_release = prev
        prev_release(frame)
    df = build()
    slots[skey] = (df, release)
    return df


def slot_local_checkpoint(key: str, df) -> "DataFrame":
    """Eager localCheckpoint with single-slot ownership per operator.

    A query function that returns a LAZY frame over an eager checkpoint
    cannot release the block itself (the caller consumes the frame after
    the function returns), so repeated invocations — bench loops, the
    randomized sweeps — would accumulate block-manager storage for the
    session's lifetime. The slot bounds that: creating checkpoint N for
    `key` first releases checkpoint N-1, so each operator owns at most ONE
    materialized frame at a time per calling thread. Contract: a frame
    returned by a previous invocation of the same operator is invalidated by
    the next invocation in the same thread — exactly the consume-then-reinvoke
    pattern every harness here uses.
    """
    return _slot(
        df.sparkSession,
        key,
        lambda: df.localCheckpoint(eager=True),
        release_local_checkpoint,
    )


def slot_rebuild(key: str, spark: SparkSession, builder) -> "DataFrame":
    """Rebuild-per-invocation slot over an ALREADY-materialized frame.

    Same single-slot ownership contract as slot_local_checkpoint, for
    builders that return a frame already backed by checkpoint blocks
    (connected_components' final eager localCheckpoint) — re-checkpointing
    such a frame would copy its blocks for nothing. EVERY call runs
    ``builder()`` from the parquet inputs and releases the previous
    invocation's blocks: nothing survives across invocations, so a bench
    run of a consumer times the full declared computation (r12 VERDICT
    item 3 — the former build-once slot served later calls from cached
    blocks, which measured a cache read, not the operator)."""
    return _slot(spark, key, builder, release_local_checkpoint)


def slot_persist(key: str, df, eager: bool = False) -> "DataFrame":
    """Persisted frame with single-slot ownership per operator.

    Same ownership contract as slot_local_checkpoint but over persist():
    the right tool when the frame is a one-shot digest rather than
    iterative state whose lineage must be cut. Lazy by default — an A/B
    grid over the drift digest measured the extra eager-count job costing
    more than it saves (p50 0.61 s lazy vs 0.69 s eager); what actually
    mattered was releasing the PREVIOUS invocation's block, which an
    un-slotted persist never does."""

    def build():
        held = df.persist()
        if eager:
            held.count()
        return held

    return _slot(df.sparkSession, key, build, _unpersist)


def release_all_slots(spark: SparkSession) -> None:
    """Release EVERY live slot-held frame (checkpoint, persist) owned by
    ``spark``, whichever thread created it.

    Bench hygiene (r12 VERDICT item 2): ``spark.catalog.clearCache()`` drops
    CacheManager entries but NOT localCheckpoint RDD blocks, so the LAST
    invocation's slot-held frame of every slotted operator stayed live
    while later queries were timed — measured as the `text_token_stats`
    cost flag (1.16 s vs 0.15 s on a quiet store). Calling this between
    bench queries bounds cross-query block pressure at zero. Safe by the
    slot contract: a slot frame is only valid until the owner's next
    invocation, and the bench consumes each query's result before moving
    on."""
    slots = memo(spark, "slots")
    for skey in list(slots):
        held = slots.pop(skey, None)
        if held is not None:
            frame, release = held
            release(frame)


def kgram_concat_sql(arr: str, idx: str, k: int, base: int = 1) -> str:
    """SQL text for the k-token window of ``arr`` starting at position
    ``idx`` (``base``=1: 1-based loop var; ``base``=0: 0-based), joined by
    single spaces — the codegen-cheap spelling of
    ``concat_ws(' ', slice(arr, idx, k))``.

    ``arr[j]`` is an O(1) GetArrayItem with no per-window array allocation,
    while slice() materializes a k-element array that concat_ws then walks
    (measured: text_gopher_filters' shingle projection 1.02 s -> 0.68 s at
    sf0.1). Equivalent ONLY for full windows of non-null tokens: an
    out-of-range index yields NULL and concat PROPAGATES null where
    concat_ws skips it — every caller guards size(arr) >= k so windows are
    always full, and split()-produced tokens are never null."""
    parts = []
    for j in range(k):
        off = j - base
        if off < 0:
            parts.append(f"{arr}[{idx} - {-off}]")
        elif off == 0:
            parts.append(f"{arr}[{idx}]")
        else:
            parts.append(f"{arr}[{idx} + {off}]")
    return "concat(" + ", ' ', ".join(parts) + ")"


def _fan_out(df: DataFrame, src: DataFrame | None = None) -> DataFrame:
    """Spread rows across all cores before CPU-heavy per-row transforms —
    but ONLY when the scan is actually under-split.

    The hash work downstream (16 salted md5s per shingle) is compute-bound,
    not byte-bound: a corpus small in bytes arrives as ONE scan split and
    would run the ~millions of md5 calls on a single core.  In that case an
    explicit repartition costs one tiny shuffle of (doc_id, text) and buys
    full parallelism (AQE never coalesces an explicit numPartitions
    repartition).

    At scale the condition flips: a 100 TB corpus scan already yields
    thousands of splits, and an unconditional repartition would move the
    ENTIRE corpus through one pointless shuffle — the exact anti-pattern the
    module header forbids.  So the repartition is conditional: if the input
    already has >= defaultParallelism partitions we pass it through
    untouched, keeping the dedup family's only real shuffle the tiny
    band-bucket self-join.  (Reference discipline: fan-out comes from scan
    splits, not shuffles — /root/reference/src/events/defaults/
    file_scan_config.rs:36-86 sizes splits at the source.)

    ``src``: the registry TABLE frame ``df`` projects/filters (projections
    and filters preserve scan partitioning). CONTRACT (r12 ADVICE): ``src``
    must be the table frame ``df`` derives from via select/filter ONLY —
    passing it alongside a joined/unioned/exploded ``df`` would cache a
    wrong partition count on the table frame (mis-sized fan-out; perf only,
    never correctness). When given and stamped with
    ``tables._SCAN_KEY_ATTR``, the count is read from the frame's
    ``tables._NPART_ATTR``: ``load_tables`` sets it to 1 for a table read
    as one partition, and the first probe of a larger table stores it
    there. ``df.rdd.getNumPartitions()`` physically plans the frame on
    EVERY call (~40 ms of py4j + planning, r12 floor probe), while the
    table frame is a session memo keyed by its split threshold, so its count
    is a constant under the session's scan confs; a stale count could only
    mis-size the fan-out, never change what the query computes. Frames
    without the stamp (synthetic test inputs, checkpointed intermediates —
    whose RDD already exists, making the probe ~free) keep the dynamic
    probe."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    stamped = src is not None and hasattr(src, _SCAN_KEY_ATTR)
    n = getattr(src, _NPART_ATTR, None) if stamped else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if stamped:
            setattr(src, _NPART_ATTR, n)
    if n >= parallelism:
        return df
    return df.repartition(parallelism)
