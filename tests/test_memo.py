"""Memos hold plan metadata and small trained artifacts, never rows.

Every ``engine.memo`` dict lives on the SparkSession or SparkContext that
owns it, under an ``_dds_`` attribute. After running one entry per memo
user, no value reachable from those dicts (slots aside: they hold
materialized frames by design, released by ``release_all_slots``) may be a
``Row`` or a DataFrame whose analyzed plan reads a ``LogicalRDD``,
``LocalRelation`` or ``InMemoryRelation`` leaf — each of those would pin
data into the memo instead of recomputing it from the parquet inputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Row

from datafusion_distributed_spark.engine import memo
from datafusion_distributed_spark.operators._util import release_all_slots
from datafusion_distributed_spark.operators.registry import REGISTRY, _ensure_loaded

from .conftest import SF_DIR

# One entry per memo user: table frames (and a fan-out over one), IVF
# centroids (and constant expressions), Lloyd codebooks, BPE merges, and
# the prepared frames of the entries that are memoized.
_ENTRIES = (
    "tpch_q1_pricing_summary",
    "text_gopher_filters",
    "sim_ivf_topk",
    "sim_pq_train_convergence",
    "text_bpe_learn_merges",
)
_ROW_LEAVES = {"LogicalRDD", "LocalRelation", "InMemoryRelation"}


def _memos(owner) -> dict:
    return {
        name[len("_dds_"):]: value
        for name, value in vars(owner).items()
        if name.startswith("_dds_") and isinstance(value, dict)
    }


def _row_leaves(df: DataFrame) -> set[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    names = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
    return names & _ROW_LEAVES


def _offences(value, path: str):
    if isinstance(value, Row):
        yield f"{path}: Row"
    elif isinstance(value, DataFrame):
        leaves = _row_leaves(value)
        if leaves:
            yield f"{path}: DataFrame over {sorted(leaves)}"
    elif isinstance(value, dict):
        for k, v in value.items():
            yield from _offences(v, f"{path}[{k!r}]")
    elif isinstance(value, (list, tuple)):
        for i, v in enumerate(value):
            yield from _offences(v, f"{path}[{i}]")


def test_memos_never_hold_rows(spark):
    _ensure_loaded()
    handed_out = []
    for name in _ENTRIES:
        # A clean build is memoized at its first call, and the second call
        # is a hit.
        for _ in range(2):
            df = REGISTRY[name].fn(spark, SF_DIR)
            df.collect()
            handed_out.append(df)

    session, context = _memos(spark), _memos(spark.sparkContext)
    held = {id(frame) for _, frame, _, _ in session.get("prepared", {}).values()}
    assert not [df for df in handed_out if id(df) in held], "memoized frame handed out"
    for owned, names in (
        (session, ("tables", "views", "prepared")),
        (context, ("const_exprs", "ivf_centroids", "lloyd_codebooks", "bpe_merges")),
    ):
        for name in names:
            assert owned.get(name), f"memo {name} is missing or empty"

    offences = [
        o
        for owner, owned in (("session", session), ("context", context))
        for name, d in owned.items()
        if name != "slots"
        for o in _offences(d, f"{owner}.{name}")
    ]
    assert not offences, offences

    release_all_slots(spark)
    assert not memo(spark, "slots")


def test_row_guard_flags_a_local_frame(spark):
    """The walk above is not vacuous: a frame over local rows and a list of
    Rows are both reported."""
    local = spark.createDataFrame([(1,)], "x int")
    found = list(_offences({"a": local, "b": [Row(x=1)]}, "probe"))
    assert len(found) == 2, found


@pytest.mark.parametrize("name", ["sim_semantic_dedup", "dd_dup_clusters"])
def test_unmemoized_builds_reuse_their_constant_expressions(spark, monkeypatch, name):
    """Entries rebuilt on every call (they launch jobs while building) take
    their constant expression trees from the ``const_exprs`` memo: a second
    build asks for the same keys and adds none."""
    from datafusion_distributed_spark.operators import _util

    _ensure_loaded()
    requested = []
    real = _util._const_exprs_on

    def recording(sc, key, builder):
        requested.append(key)
        return real(sc, key, builder)

    monkeypatch.setattr(_util, "_const_exprs_on", recording)
    exprs = memo(spark.sparkContext, "const_exprs")
    REGISTRY[name].build(spark, SF_DIR)
    release_all_slots(spark)
    before, first = set(exprs), set(requested)
    requested.clear()
    REGISTRY[name].build(spark, SF_DIR)
    release_all_slots(spark)
    assert first, f"{name} built no constant expression through the memo"
    assert set(requested) == first
    assert set(exprs) == before, f"second build added {set(exprs) - before}"
