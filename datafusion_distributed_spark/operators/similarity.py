"""Similarity search over the ``embeddings`` table (array<float> x 64).

BASELINE.json extensions (SURVEY.md §7 Phase 3):
- brute-force cosine top-k (the correctness baseline),
- LSH-bucketed ANN (the 100 TB scale path: candidates only meet within a
  bucket, so the pairwise cost drops from O(N·Q) to O(N·Q/2^bits)).

Scale design: queries are broadcast (small side), the corpus streams — the
cross join is a BroadcastNestedLoopJoin over Q rows per corpus partition, all
JVM-side arithmetic via zip_with/aggregate (no Python in the hot path). At
1000 executors the scoring is embarrassingly parallel; the only shuffle is
the final per-query top-k, a row_number window partitioned by q_id — i.e.
the rank runs in Q tasks of |candidates(q)| rows each. That envelope is the
deliberate fit for this surface's registered shape (a small probe set
against a huge corpus; for the LSH/IVF variants |candidates(q)| is already
bucket-sized, not corpus-sized; and every rank window here is RANK-ONLY so
Spark's WindowGroupLimit prunes each map partition to k rows per q_id
before the shuffle — the per-task envelope is k×partitions rows, never the
corpus. ann_recall's running-sum window runs AFTER that top-k filter, on a
frame already bounded to k rows per q_id). A LARGE query set changes the
design, not
the constant: co-partition both sides by bucket/cell (the hint-free join
the ann_lsh_topk docstring describes) so ranking keys become
(q_id, bucket) — millions of bounded partitions, never Q corpus-wide ones.

Cosine values are rounded to 6 decimals in BOTH engines before ranking so the
(engine-specific ulp-level) double summation order cannot flip the top-k set;
ties after rounding break on vec_id.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..engine import memo
from ._util import (
    _fan_out,
    arr_lit_sql,
    const_exprs,
    const_exprs_active,
    slot_local_checkpoint,
    t,
)
from .registry import query

_N_QUERIES = 10  # vec_id < 10 are the query vectors
_TOP_K = 5
_N_PLANES = 8  # LSH hyperplanes => 256 buckets


def _dot(a: str, b: str):
    """Sequential-order dot product over array<double> (JVM, codegen).
    Expression tree memoized per (SparkContext, names) — r12 floor probe:
    the zip_with/aggregate Column chain costs ~20 ms of py4j per build and
    the tree is a pure function of the two column names."""
    return const_exprs_active(("dot", a, b), lambda: _dot_build(a, b))


def _dot_build(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _with_nrm(df: DataFrame, vec: str, out: str) -> DataFrame:
    """Attach sqrt(dot(vec, vec)) ONCE per row BEFORE a pair join: the pair
    expression then evaluates one interpreted 64-element fold per pair
    instead of three (HOF folds are CodegenFallback; the dominant per-pair
    cost in every crossJoin-cosine plan). Value-identical — same fold, same
    order, same sqrt as the per-pair spelling (the _semdedup_members parity
    note), so oracles written either way hash-match."""
    return df.withColumn(out, F.sqrt(_dot(vec, vec)))


def pair_cos(ae: str = "ae", be: str = "be", a_nrm: str = "a_nrm", b_nrm: str = "b_nrm"):
    """round6 cosine of a pair from precomputed per-vector norms: ONE fold
    per pair; nrm columns are the same float the per-pair sqrt-spelling
    would produce (same fold, same order), so oracles spelled either way
    hash-match. Shared by the semantic-dedup and ensemble-verify joins."""
    return F.round(_dot(ae, be) / (F.col(a_nrm) * F.col(b_nrm)), 6)


def _emb(spark: SparkSession, sf_dir: str, *keys: str, vec: str = "e") -> DataFrame:
    """The embeddings table as ``keys`` (default vec_id) plus the vector
    cast to array<double> as ``vec``."""
    return t(spark, sf_dir)["embeddings"].select(
        *(keys or ("vec_id",)), F.col("embedding").cast("array<double>").alias(vec)
    )


def _cross_pairs(emb: DataFrame, *q_cols, keep: DataFrame | None = None) -> DataFrame:
    """Every (corpus, query) pair: the corpus rows of ``emb`` (only the
    vec_ids ``keep`` lists as doc_id, if given) with their norm ``nrm``,
    crossed with the broadcast query vectors (q_id, *q_cols, qe, qnrm)."""
    q = _with_nrm(
        emb.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("q_id"), *q_cols, F.col("e").alias("qe")
        ),
        "qe",
        "qnrm",
    )
    c = emb.filter(F.col("vec_id") >= _N_QUERIES)
    if keep is not None:
        c = c.join(keep, emb["vec_id"] == keep["doc_id"])
    return _with_nrm(c, "e", "nrm").crossJoin(F.broadcast(q))


def _scored(pairs: DataFrame, *extra) -> DataFrame:
    """(q_id, neighbor_id, cos_sim, *extra) of a frame pairing corpus
    vectors (vec_id, e, nrm) with query vectors (q_id, qe, qnrm)."""
    return pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        pair_cos("e", "qe", "nrm", "qnrm").alias("cos_sim"),
        *extra,
    )


def _by_cos():
    """Each query's neighbors by cosine, ties on neighbor_id."""
    return Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))


def _top_k(scored: DataFrame) -> DataFrame:
    """The _TOP_K nearest neighbors of each query in a _scored frame."""
    return (
        scored.withColumn("rn", F.row_number().over(_by_cos()))
        .filter(F.col("rn") <= _TOP_K)
        .select("q_id", "neighbor_id", "cos_sim")
    )


# DuckDB oracle fragments shared by the entries below.
_EMB_CTE = "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"


def _emb_cte(cols: str = "vec_id", where: str = "") -> str:
    return (
        f"emb AS (\n  SELECT {cols}, CAST(embedding AS DOUBLE[]) AS e"
        f" FROM embeddings{where}\n)"
    )


_Q_CTE = f"q AS (SELECT vec_id AS q_id, e AS qe FROM emb WHERE vec_id < {_N_QUERIES})"
_C_CTE = f"c AS (SELECT vec_id, e FROM emb WHERE vec_id >= {_N_QUERIES})"
_COS6 = "ROUND(dot / (SQRT(qq) * SQRT(cc)), 6)"


def _cos_dots(flat: str = "flat", dots: str = "dots", join: str = "CROSS JOIN c") -> str:
    """Per-pair dot product and squared norms of the q and c vectors."""
    return f"""{flat} AS (
  SELECT q.q_id, c.vec_id, unnest(q.qe) AS qv, unnest(c.e) AS cv
  FROM q {join}
),
{dots} AS (
  SELECT q_id, vec_id,
         SUM(qv * cv) AS dot, SUM(qv * qv) AS qq, SUM(cv * cv) AS cc
  FROM {flat} GROUP BY q_id, vec_id
)"""


def _scored_cte(dots: str) -> str:
    return f"""scored AS (
  SELECT q_id, vec_id AS neighbor_id,
         {_COS6} AS cos_sim
  FROM {dots}
)"""


_RANKED_TOP_K = f"""ranked AS (
  SELECT q_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, neighbor_id, cos_sim FROM ranked WHERE rn <= {_TOP_K}
"""


# ---------------------------------------------------------------------------
# Brute-force cosine top-k.
# ---------------------------------------------------------------------------

_COSINE_ORACLE = f"""
WITH {_emb_cte()},
{_Q_CTE},
{_C_CTE},
{_cos_dots()},
{_scored_cte("dots")},
{_RANKED_TOP_K}"""


@query("sim_cosine_topk", oracle=_COSINE_ORACLE, tags=("similarity", "ann"))
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _top_k(_scored(_cross_pairs(_emb(spark, sf_dir))))


# ---------------------------------------------------------------------------
# LSH bucketing: deterministic integer-LCG hyperplanes (exact in double in
# BOTH engines, unlike sin()-based noise), bucket = sign-bit pattern of the
# 8 plane dot products. Output: bucket occupancy histogram.
# ---------------------------------------------------------------------------

# plane[j][d] = LCG(j*64+d)/2^31 - 0.5, exact rational arithmetic.
_PLANE_SQL = (
    "((1103515245 * CAST(({j} * 64 + i) AS BIGINT) + 12345) % 2147483648)"
    " / 2147483648.0 - 0.5"
)


def _plane_value(j: int, d: int) -> float:
    """Python mirror of _PLANE_SQL — bit-identical: k < 2^31 divided by 2^31
    is an exact power-of-two division, minus 0.5 exact, in BOTH engines."""
    k = (1103515245 * (j * 64 + d) + 12345) % 2147483648
    return k / 2147483648.0 - 0.5


def _bucket_expr_spark():
    # Plane vectors are CONSTANT: materialize them as array literals once per
    # plan instead of re-evaluating transform(sequence(0,63), ...) per row
    # (round-1 profile showed the per-row rebuild in the hot path).
    # One F.expr round trip, memoized per SparkContext (r12 floor probe):
    # the Column/lambda spelling built ~8x(fold tree) py4j calls per
    # invocation; the parsed SQL is the same zip_with/aggregate tree
    # (0.0D = the DOUBLE zero F.lit(0.0) was — a bare 0.0 would parse as
    # DECIMAL), and the expression is a process constant.
    def build():
        terms = []
        for j in range(_N_PLANES):
            plane = arr_lit_sql(_plane_value(j, d) for d in range(64))
            dot = (
                f"aggregate(zip_with(e, {plane}, (x, y) -> x * y),"
                " 0.0D, (acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
        return F.expr("0 + " + " + ".join(terms))

    return const_exprs_active(("lsh_bucket_expr",), build)


def _plane_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, bucket): the LSH bucket of every vector via the
    posexplode+codegen reshape (_cell_dists move, r12): explode to
    (vec_id, dim, val), 8 codegen products per dim row (element_at into
    the constant plane literals), ONE map-side-combinable (vec_id)
    aggregate — the shuffle carries 8 doubles per vector. Replaces the 8
    interpreted 64-element HOF folds per row of _bucket_expr_spark
    (CodegenFallback; measured 1.2 -> 0.3 s at sf0.1 for the histogram).
    Parity: each vector's dim rows are contiguous in one scan split, so
    the partial sum accumulates in d=0..63 order — the same sequential
    sum the fold computes (verified bucket-exact on the fixtures); the
    oracle's SUM..GROUP BY is equally unordered (§D rounding note)."""
    # Single-round-trip spellings (r12 floor probe, the _sq_dists note).
    plane_sqls = [
        arr_lit_sql(_plane_value(j, d) for d in range(64))
        for j in range(_N_PLANES)
    ]
    ex = emb.select("vec_id", F.posexplode("e").alias("pos", "val"))
    per_dim = ex.selectExpr(
        "vec_id",
        *[
            f"val * element_at({p}, pos + 1) AS p{j}"
            for j, p in enumerate(plane_sqls)
        ],
    )
    dots = per_dim.groupBy("vec_id").agg(
        *[F.sum(f"p{j}").alias(f"d{j}") for j in range(_N_PLANES)]
    )
    total = " + ".join(
        f"(CASE WHEN d{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_N_PLANES)
    )
    return dots.selectExpr("vec_id", f"CAST(0 + {total} AS BIGINT) AS bucket")


def _lsh_oracle() -> str:
    plane_dots = ",\n    ".join(
        "SUM(ev * ("
        + _PLANE_SQL.format(j=j).replace("{j}", str(j))
        + ")) AS d{j}".format(j=j)
        for j in range(_N_PLANES)
    )
    bucket = " + ".join(
        f"(CASE WHEN d{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_N_PLANES)
    )
    return f"""
WITH flat AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS ev,
         unnest(generate_series(0, 63)) AS i
  FROM embeddings
),
dots AS (
  SELECT vec_id,
    {plane_dots}
  FROM flat GROUP BY vec_id
),
buckets AS (
  SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket FROM dots
)
SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
FROM buckets GROUP BY bucket
"""


@query("sim_ann_lsh_buckets", oracle=_lsh_oracle(), tags=("similarity", "ann", "lsh"))
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _plane_buckets(_emb(spark, sf_dir))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


# ---------------------------------------------------------------------------
# ANN via LSH: top-k within shared buckets only (the scale path). Oracle:
# same bucket CTE as sim_ann_lsh_buckets (already bit-verified) + the
# _COSINE_ORACLE ranking pattern (cosine rounded to 6 decimals in BOTH
# engines, ties on neighbor_id — round-then-rank makes ranking portable,
# proven by sim_cosine_topk).
# ---------------------------------------------------------------------------


def _ann_topk_oracle() -> str:
    bucket_cte = _lsh_oracle().split("SELECT bucket, COUNT(*)")[0].rstrip().rstrip(",")
    return f"""{bucket_cte},
{_EMB_CTE},
q AS (
  SELECT b.vec_id AS q_id, m.e AS qe, b.bucket
  FROM buckets b JOIN emb m ON m.vec_id = b.vec_id WHERE b.vec_id < {_N_QUERIES}
),
c AS (
  SELECT b.vec_id, m.e, b.bucket
  FROM buckets b JOIN emb m ON m.vec_id = b.vec_id WHERE b.vec_id >= {_N_QUERIES}
),
{_cos_dots("flatp", "pair_dots", "JOIN c ON q.bucket = c.bucket")},
{_scored_cte("pair_dots")},
{_RANKED_TOP_K}"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (the last dedup modality): corpus
# self-join WITHIN LSH buckets only, keep pairs with cosine >= threshold.
# At 100 TB the all-pairs O(N^2) compare is impossible; bucketing reduces it
# to O(sum over buckets |b|^2) with candidates co-located by the bucket
# shuffle key — same discipline as MinHash-LSH for text.
# ---------------------------------------------------------------------------

_NEARDUP_THRESHOLD = 0.35  # synthetic embeddings are random; realistic 0.9+
# Per-bucket membership cap (round 6): the registered pair emitter must be
# output-BOUNDED — the same discipline as capped_band_pairs and the
# semdedup dominator cap. Without it the 10x scale gate measured pair
# output growing ~112x for 10x vectors: iid-normalized synthetic vectors
# put tau=0.35 inside the random-cosine tail (sigma = 1/sqrt(64) = 0.125),
# so uncapped within-bucket pair output is distribution-tail-QUADRATIC for
# any faithful corpus growth. Cap chosen above every sf0.001/sf0.01 bucket
# (sizes ~31) so small-scale oracle output is bit-unchanged, while bounding
# pairs to <= cap^2/2 per bucket at any corpus size.


_NEARDUP_BUCKET_CAP = 128


def _neardup_oracle(
    threshold: float = _NEARDUP_THRESHOLD, cap: int = _NEARDUP_BUCKET_CAP
) -> str:
    bucket_cte = _lsh_oracle().split("SELECT bucket, COUNT(*)")[0].rstrip().rstrip(",")
    return f"""{bucket_cte},
{_EMB_CTE},
withb AS (SELECT b.vec_id, m.e, b.bucket FROM buckets b JOIN emb m ON m.vec_id = b.vec_id),
wcap AS (
  SELECT vec_id, e, bucket FROM (
    SELECT vec_id, e, bucket,
           ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
    FROM withb
  ) r WHERE rn <= {cap}
),
flatp AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         unnest(a.e) AS av, unnest(b.e) AS bv
  FROM wcap a JOIN wcap b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
pair_dots AS (
  SELECT vec_a, vec_b, SUM(av * bv) AS dot, SUM(av * av) AS aa, SUM(bv * bv) AS bb
  FROM flatp GROUP BY vec_a, vec_b
)
SELECT vec_a, vec_b, ROUND(dot / (SQRT(aa) * SQRT(bb)), 6) AS cos_sim
FROM pair_dots
WHERE ROUND(dot / (SQRT(aa) * SQRT(bb)), 6) >= {threshold}
"""


@query("dd_embedding_neardup", oracle=_neardup_oracle(), tags=("dedup", "similarity", "lsh", "scale"))
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_frames(spark, sf_dir)


def _neardup_frames(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = _NEARDUP_THRESHOLD,
    cap: int = _NEARDUP_BUCKET_CAP,
) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # Identical self-join sides: Catalyst ReuseExchange collapses their
    # shuffles; Catalyst's size gate picks broadcast here and SMJ at scale.
    bucketed = emb.select("vec_id", "e", _bucket_expr_spark().alias("bucket"))
    # Rank-only window: WindowGroupLimit prunes each map partition to cap
    # rows per bucket before the shuffle (same shape as capped_band_pairs).
    w = Window.partitionBy("bucket").orderBy("vec_id")
    capped = (
        bucketed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    capped = _with_nrm(capped, "e", "nrm")
    a = capped.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    b = capped.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    joined = a.join(b, ["bucket"]).filter(F.col("vec_a") < F.col("vec_b"))
    # coalesce() keeps InferFiltersFromConstraints from pushing a derived
    # isnotnull(<plane-dot expression>) into the scans (see ngram_jaccard).
    return joined.select(
        "vec_a", "vec_b", pair_cos("ea", "eb", "na", "nb").alias("cos_sim")
    ).filter(F.coalesce(F.col("cos_sim"), F.lit(-2.0)) >= threshold)


def _bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, bucket, nrm): every vector with its LSH bucket and norm."""
    emb = _emb(spark, sf_dir)
    return _with_nrm(
        emb.select("vec_id", "e", _bucket_expr_spark().alias("bucket")), "e", "nrm"
    )


@query("sim_ann_lsh_topk", oracle=_ann_topk_oracle(), tags=("similarity", "ann", "lsh"))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucketed = _bucketed(spark, sf_dir)
    q = bucketed.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        "bucket",
    )
    c = bucketed.filter(F.col("vec_id") >= _N_QUERIES)
    # Equi-join on bucket with the tiny query side broadcast: the corpus
    # streams in place (no shuffle of c at all) and candidates only meet
    # within a shared bucket. At 100 TB with a large query set, drop the
    # broadcast hint and this becomes a bucket-co-partitioned shuffle join —
    # same plan shape the reference would produce.
    return _top_k(_scored(c.join(F.broadcast(q), "bucket")))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: corpus vectors are assigned to the nearest of K
# fixed centroids (cells); a query probes only its N_PROBE nearest cells and
# ranks candidates there. The 100 TB shape: centroid assignment is a narrow
# per-row argmin against broadcast centroids, the probe is a cell equi-join —
# the corpus never meets the full query set. Centroids here are the
# embeddings of vec_id 10..17 (deterministic stand-in for a k-means fit on a
# sample; the fit is offline in a real pipeline, the serving plan is
# identical). Distances are rounded to 6 decimals before the argmin in BOTH
# engines, ties break on centroid index, so cell assignment is portable.
# ---------------------------------------------------------------------------

_IVF_FIRST_CENTROID = 10  # centroids = vec_id 10 .. 10+K-1
_IVF_N_PROBE = 2


def _ivf_k_for(n_corpus: int) -> int:
    """Cell count ladder (r12, closing the last fixture-fixed index
    parameter): the PQ trainer's capped power-of-2 ~n^(1/2) ladder applied
    to IVF — 8 / 16 / 32 cells at corpus >= 0 / 1024 / 16384 (8 at
    sf0.001/0.01, 16 at sf0.1, 32 on the 10x probe layout). Production IVF
    scales K ~ N/target_cell_size; the ladder exercises the cell-count
    machinery across fixtures while centroids stay the deterministic
    stand-in rows vec_id 10..10+K-1. Both engines derive K from the SAME
    corpus count (Spark counts then inlines; oracles use _IVF_K_SQL)."""
    if n_corpus >= 16384:
        return 32
    if n_corpus >= 1024:
        return 16
    return 8


_IVF_K_SQL = ("CASE WHEN COUNT(*) >= 16384 THEN 32 "
              "WHEN COUNT(*) >= 1024 THEN 16 ELSE 8 END")


def _ivf_cent_ctes(where: str = "") -> str:
    """Shared oracle CTEs: the corpus-scaled cell count (kk) and the
    centroid rows (cent) — the DuckDB side of _ivf_k_for/_centroids — and
    every (vector, centroid) dim pair (dflat) of the vectors ``where``
    keeps."""
    k0 = _IVF_FIRST_CENTROID
    return f"""kk AS (SELECT {_IVF_K_SQL} AS k FROM emb WHERE vec_id >= {_N_QUERIES}),
cent AS (SELECT vec_id - {k0} + 1 AS k, e AS ce
         FROM emb, kk WHERE vec_id BETWEEN {k0} AND {k0} + kk.k - 1),
dflat AS (
  SELECT m.vec_id, c.k, unnest(m.e) AS mv, unnest(c.ce) AS cv
  FROM emb m CROSS JOIN cent c{where}
)"""


_IVF_DISTS_CTE = """dists AS (
  SELECT vec_id, k, ROUND(SUM((mv - cv) * (mv - cv)), 6) AS d
  FROM dflat GROUP BY vec_id, k
)"""


def _micros(sums: list[str]) -> str:
    """The sums as integer micros (round(x * 1e6)), comma-separated SQL."""
    return ", ".join(f"CAST(ROUND({s} * 1000000.0, 0) AS BIGINT)" for s in sums)


def _sq_dists(
    emb: DataFrame,
    keys: list[str],
    books: list[tuple[str, list[list[float]]]],
    tag: str,
    finish,
    sub: str | None = None,
):
    """The squared-difference kernel of the IVF and PQ lanes: posexplode
    ``emb``'s vector ``e`` to (keys, pos, val), one whole-stage-codegen
    term (val - element_at(cw, pos + 1))^2 per codeword cw per dim row, and
    ONE map-side-combinable aggregate per (keys[, sub]) summing each term.
    This replaces a per-row interpreted K*64-element HOF fold
    (CodegenFallback). ``books`` is a list of (prefix, codebook): codeword
    c sums as column ``t<prefix><c>``. ``sub`` names the 0-based PQ
    subspace column, added to the grouping.

    Returns the aggregate and ``finish(names)``, where names[i] lists the
    sum columns of the i-th codebook. Rounding boundary: each double sum
    accumulates in shuffle-group order before any rounding, and the
    oracles' SUM..GROUP BY is equally unordered (pq_distortion's note).

    The expressions are built ONCE per (SparkContext, tag, codebooks) (r12
    floor probe): the per-Column K-term listcomp cost ~0.5 s of py4j frame
    construction PER INVOCATION at K=16, and re-spelling it as SQL strings
    only moved the cost into per-invocation parsing of the K x 64 literal
    texts — the matrices are session constants, so the parsed trees are
    memoized (const_exprs note in _util)."""

    def build():
        names = [[f"{p}{c}" for c in range(len(cb))] for p, cb in books]
        sq = [
            F.expr(
                f"(val - element_at({cw}, pos + 1))"
                f" * (val - element_at({cw}, pos + 1))"
            ).alias(f"s{n}")
            for (_, cb), ns in zip(books, names)
            for n, cw in zip(ns, map(arr_lit_sql, cb))
        ]
        sums = [F.sum(f"s{n}").alias(f"t{n}") for ns in names for n in ns]
        m = [F.expr(f"CAST(pos / {_PQ_D} AS INT)").alias(sub)] if sub else []
        return m, sq, sums, finish([[f"t{n}" for n in ns] for ns in names])

    m, sq, sums, fin = const_exprs(
        emb.sparkSession,
        (tag, tuple(tuple(tuple(c) for c in cb) for _, cb in books)),
        build,
    )
    ex = emb.select(*keys, F.posexplode("e").alias("pos", "val"))
    per_dim = ex.select(*keys, *m, *sq)
    return per_dim.groupBy(*keys, *([sub] if sub else [])).agg(*sums), fin


def _cell_dists(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, darr array<double>[K]): rounded (6-dp) L2^2 of every vector
    to each centroid, one (vec_id) aggregate of _sq_dists."""
    agg, darr = _sq_dists(
        emb,
        ["vec_id"],
        [("", centroids)],
        "cell_dists",
        lambda ts: F.expr(
            "array(" + ", ".join(f"ROUND({n}, 6)" for n in ts[0]) + ")"
        ).alias("darr"),
    )
    return agg.select("vec_id", darr)


def _cell_of():
    """1-based index of the nearest centroid from a darr distance array
    (tie -> lowest index) — the same array_position-of-min contract as the
    old per-row _ivf_cell_expr."""
    return F.array_position(F.col("darr"), F.array_min("darr"))


def _ivf_oracle() -> str:
    return f"""
WITH {_EMB_CTE},
{_ivf_cent_ctes()},
{_IVF_DISTS_CTE},
cells AS (
  SELECT vec_id, k AS cell FROM (
    SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM dists
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, k AS cell FROM (
    SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM dists WHERE vec_id < {_N_QUERIES}
  ) WHERE rn <= {_IVF_N_PROBE}
),
cand AS (
  SELECT p.q_id, c.vec_id
  FROM probes p
  JOIN cells c ON c.cell = p.cell AND c.vec_id >= {_N_QUERIES}
),
pflat AS (
  SELECT cd.q_id, cd.vec_id, unnest(q.e) AS qv, unnest(m.e) AS cv
  FROM cand cd
  JOIN emb q ON q.vec_id = cd.q_id
  JOIN emb m ON m.vec_id = cd.vec_id
),
pair_dots AS (
  SELECT q_id, vec_id, SUM(qv * cv) AS dot, SUM(qv * qv) AS qq, SUM(cv * cv) AS cc
  FROM pflat GROUP BY q_id, vec_id
),
ranked AS (
  SELECT q_id, vec_id AS neighbor_id,
         ROUND(dot / (SQRT(qq) * SQRT(cc)), 6) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(dot / (SQRT(qq) * SQRT(cc)), 6) DESC, vec_id) AS rn
  FROM pair_dots
)
SELECT q_id, neighbor_id, cos_sim FROM ranked WHERE rn <= {_TOP_K}
"""


def _centroids(spark: SparkSession, emb: DataFrame, sf_dir: str) -> list[list[float]]:
    """The K seed centroid vectors, collected once per (context, sf_dir).

    K×64 doubles: constant, metadata-scale (a real fit broadcasts this).
    """
    k0 = _IVF_FIRST_CENTROID
    fitted = memo(spark.sparkContext, "ivf_centroids")
    cache_key = sf_dir.rstrip("/")
    centroids = fitted.get(cache_key)
    if centroids is None:
        # K scales with the corpus count (r12 — see _ivf_k_for); one count
        # + one K-row collect per (session, sf_dir), both metadata-scale.
        k = _ivf_k_for(emb.filter(F.col("vec_id") >= _N_QUERIES).count())
        cent_rows = (
            emb.filter(F.col("vec_id").between(k0, k0 + k - 1))
            .orderBy("vec_id")
            .collect()
        )
        centroids = [list(r.e) for r in cent_rows]
        fitted[cache_key] = centroids
    return centroids


@query("sim_ivf_topk", oracle=_ivf_oracle(), tags=("similarity", "ann", "ivf"))
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    centroids = _centroids(spark, emb, sf_dir)
    # Cell assignment + query probe distances from ONE shared
    # posexplode+codegen frame (see _cell_dists); per-side norms attached
    # once so the bucket join evaluates one fold per pair (_with_nrm note).
    cells = _cell_dists(emb, centroids)
    corpus = (
        _with_nrm(emb.filter(F.col("vec_id") >= _N_QUERIES), "e", "nrm")
        .join(cells, "vec_id")
        .select("vec_id", "e", "nrm", _cell_of().alias("cell"))
    )
    # probe cells = first N_PROBE entries of the (distance, k)-sorted centroid
    # list, taken by slice — pure per-row array algebra over the K-element
    # distance array (Q rows), no window needed
    probe_cells = F.expr(
        "transform(slice(array_sort(zip_with(d, sequence(1, size(d)),"
        f" (dd, kk) -> struct(dd as d, kk as k))), 1, {_IVF_N_PROBE}), s -> s.k)"
    )
    qd = (
        _with_nrm(emb.filter(F.col("vec_id") < _N_QUERIES), "e", "qnrm")
        .join(cells, "vec_id")
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            "qnrm",
            F.col("darr").alias("d"),
        )
        .select("q_id", "qe", "qnrm", F.explode(probe_cells).alias("cell"))
    )
    return _top_k(_scored(corpus.join(F.broadcast(qd), "cell")))


# ---------------------------------------------------------------------------
# Int8 vector quantization: per-vector max-abs scaling to [-127, 127] — the
# standard storage/bandwidth compression step before ANN indexing (4x smaller
# than float32). Pure per-row array algebra (array_max/array_min/aggregate):
# zero shuffles before the final checksum aggregate, so at 100 TB it runs at
# scan speed. Portability: both engines compute round(v * 127 / maxabs) on
# identical float64 operands (round-half-away-from-zero in both), and the
# checksums are exact integer sums.
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
m AS (
  SELECT vec_id, label, v,
         list_max(list_transform(v, x -> abs(x))) AS maxabs
  FROM e
),
q AS (
  SELECT vec_id, label, maxabs,
         list_transform(v, x -> CAST(round(x * 127.0 / maxabs) AS BIGINT)) AS qv
  FROM m WHERE maxabs > 0
)
SELECT label, COUNT(*) AS n_vecs,
  CAST(SUM(list_sum(qv)) AS BIGINT) AS q_sum,
  CAST(SUM(list_sum(list_transform(qv, x -> abs(x)))) AS BIGINT) AS q_l1,
  CAST(SUM(CASE WHEN list_max(list_transform(qv, x -> abs(x))) = 127
                THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated
FROM q GROUP BY label
"""


@query("sim_int8_quantize", oracle=_QUANT_ORACLE, tags=("similarity", "quantize"))
def int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir, "vec_id", "label", vec="v")
    # max|x| = max(max(x), -min(x)): array_max/array_min are plain codegen
    # collection functions, so this kills the interpreted transform(abs)
    # pass (CodegenFallback) — value-identical for any array (r12; ~15%
    # off the query with the fused fold below).
    maxabs = F.greatest(F.array_max("v"), -F.array_min("v"))
    m = emb.select("label", "v", maxabs.alias("maxabs")).filter(
        F.col("maxabs") > 0
    )
    # ONE fold over v sums the quantized values and their L1 norm without
    # materialising the quantized array (transform/aggregate are
    # CodegenFallback: every array pass pays the interpreted per-element
    # cost). The L1 term quantizes |x| rather than taking abs of the
    # quantized x; rounding half away from zero is odd-symmetric and IEEE
    # negation is exact, so round(|x| * 127 / maxabs) = |round(x * 127 /
    # maxabs)| bit for bit. Both accumulators are exact integer sums.
    fold = F.expr(
        "aggregate(v, struct(0L as s, 0L as l), (a, x) -> struct("
        "a.s + cast(round(x * 127.0D / maxabs) as bigint), "
        "a.l + cast(round(abs(x) * 127.0D / maxabs) as bigint)))"
    )
    per_vec = m.select("label", fold.alias("f"))
    # n_saturated (vectors whose largest |q| is 127) is every vector: for
    # finite input the element with |x| = maxabs computes x * 127 / maxabs
    # within an ulp of +-127, so it rounds to exactly +-127, and no
    # |x| <= maxabs rounds past it (multiplication, division and rounding
    # are monotonic). The oracle still derives the column from
    # list_max(...) = 127, so the battery keeps checking this.
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("f.s").cast("bigint").alias("q_sum"),
        F.sum("f.l").cast("bigint").alias("q_l1"),
        F.sum(F.lit(1)).alias("n_saturated"),
    )


# ---------------------------------------------------------------------------
# K-means training step (one Lloyd iteration): assign every corpus vector to
# its nearest seed centroid, then recompute each cell's centroid as the
# per-dimension mean of its members. This is the fit the IVF index comment
# defers to ("the fit is offline in a real pipeline") made real: iterate
# this step and the centroids converge. The 100 TB shape: assignment is the
# same broadcast argmin as sim_ivf_topk (zero shuffles), the explode fans
# each row into 64 (cell, dim, value) tuples, and the mean is one hash
# aggregate onto K*64 = 512 groups with map-side partial aggregation — the
# shuffle carries only 512 rows per task regardless of corpus size.
# Portability: member values are scaled to exact integers (round(v * 1e6))
# before summing, so the mean is (exact int sum) / (1e6 * n) — one correctly
# rounded double division on both engines, immune to summation order.
# ---------------------------------------------------------------------------


def _kmeans_oracle() -> str:
    return f"""
WITH {_EMB_CTE},
{_ivf_cent_ctes(f" WHERE m.vec_id >= {_N_QUERIES}")},
{_IVF_DISTS_CTE},
cells AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, k AS cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM dists
  ) WHERE rn = 1
),
member AS (
  SELECT cl.cell, unnest(m.e) AS val, unnest(generate_series(1, 64)) AS dim
  FROM cells cl JOIN emb m ON m.vec_id = cl.vec_id
)
SELECT CAST(cell AS INTEGER) AS cell, CAST(dim AS INTEGER) AS dim,
       CAST(SUM(CAST(ROUND(val * 1000000) AS BIGINT)) AS DOUBLE)
         / (1000000.0 * COUNT(*)) AS mean_val,
       COUNT(*) AS n_members
FROM member GROUP BY cell, dim
"""


@query("sim_kmeans_step", oracle=_kmeans_oracle(), tags=("similarity", "ivf", "kmeans"))
def kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    centroids = _centroids(spark, emb, sf_dir)
    # Cell assignment via the shared posexplode+codegen frame (_cell_dists)
    # instead of the per-row K*64 interpreted HOF argmin; the assignment
    # joins back to the member rows at vector grain (broadcast-scale).
    cells = _cell_dists(
        emb.filter(F.col("vec_id") >= _N_QUERIES), centroids
    ).select("vec_id", _cell_of().cast("int").alias("cell"))
    corpus = (
        emb.filter(F.col("vec_id") >= _N_QUERIES)
        .join(cells, "vec_id")
        .select("cell", "e")
    )
    ex = corpus.select("cell", F.posexplode("e").alias("pos", "val"))
    return ex.groupBy("cell", (F.col("pos") + 1).cast("int").alias("dim")).agg(
        *_exact_mean()
    )


def _exact_mean():
    """(mean_val, n_members) aggregates of ``val``: the exact int64 sum of
    round(val * 1e6) over 1e6 * count, one correctly rounded division."""
    return (
        (
            F.sum(F.round(F.col("val") * 1000000, 0).cast("long")).cast("double")
            / (F.lit(1000000.0) * F.count(F.lit(1)))
        ).alias("mean_val"),
        F.count(F.lit(1)).alias("n_members"),
    )


# ---------------------------------------------------------------------------
# Higher-order array functions as first-class surface: filter / exists /
# forall lambdas over the embedding vectors, aggregated per label. All three
# run inside whole-stage codegen (no UDF, no explode — the array never
# leaves the row), so at 100 TB this is scan-speed per-row algebra like
# sim_int8_quantize. DuckDB expresses the same predicates through
# list_filter + len comparisons, which is semantically identical to
# exists/forall on finite lists.
# ---------------------------------------------------------------------------

_HOF_ORACLE = """
WITH e AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
per AS (
  SELECT label,
         len(list_filter(v, x -> x > 0)) AS n_pos,
         CASE WHEN len(list_filter(v, x -> x > 0.25)) > 0 THEN 1 ELSE 0 END AS has_big,
         CASE WHEN len(list_filter(v, x -> abs(x) >= 0.9)) = 0 THEN 1 ELSE 0 END AS all_small
  FROM e
)
SELECT label,
       CAST(SUM(n_pos) AS BIGINT) AS total_pos_dims,
       CAST(SUM(has_big) AS BIGINT) AS n_with_big,
       CAST(SUM(all_small) AS BIGINT) AS n_all_small,
       COUNT(*) AS n_vecs
FROM per GROUP BY label
"""


@query("sim_hof_label_stats", oracle=_HOF_ORACLE, tags=("similarity", "higher-order"))
def hof_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _emb(spark, sf_dir, "label", vec="v").select(
        "label",
        F.expr("size(filter(v, x -> x > 0D))").alias("n_pos"),
        F.expr("CASE WHEN exists(v, x -> x > 0.25D) THEN 1 ELSE 0 END").alias("has_big"),
        F.expr("CASE WHEN forall(v, x -> abs(x) < 0.9D) THEN 1 ELSE 0 END").alias("all_small"),
    )
    return per.groupBy("label").agg(
        F.sum("n_pos").cast("bigint").alias("total_pos_dims"),
        F.sum("has_big").cast("bigint").alias("n_with_big"),
        F.sum("all_small").cast("bigint").alias("n_all_small"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Cosine RANGE search: all neighbors with similarity >= threshold (the
# retrieval mode under near-dup mining and diversity filtering, complementing
# top-k). Plan shape: broadcast queries -> per-partition scan with JVM
# zip_with arithmetic -> FILTER. Zero shuffles — unlike top-k there is no
# final ranking exchange, so at 100 TB this is pure embarrassingly-parallel
# scan work; output size scales with corpus density above the threshold.
# Same 6-decimal rounding discipline as sim_cosine_topk before the
# threshold compare, so boundary pairs cannot flip between engines.
# ---------------------------------------------------------------------------

_RANGE_THRESHOLD = 0.3

_COSINE_RANGE_ORACLE = f"""
WITH {_emb_cte()},
{_Q_CTE},
{_C_CTE},
{_cos_dots()}
SELECT q_id, vec_id AS neighbor_id,
       {_COS6} AS cos_sim
FROM dots
WHERE {_COS6} >= {_RANGE_THRESHOLD}
"""


@query("sim_cosine_range", oracle=_COSINE_RANGE_ORACLE, tags=("similarity", "range"))
def cosine_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scored(_cross_pairs(_emb(spark, sf_dir))).filter(
        F.col("cos_sim") >= _RANGE_THRESHOLD
    )


# ---------------------------------------------------------------------------
# Metadata-FILTERED vector top-k (hybrid retrieval): cosine top-k restricted
# to corpus vectors whose DOCUMENT passes a text predicate (language +
# minimum length) — the filtered-ANN pattern every vector store implements.
# The filter applies BEFORE any distance arithmetic: documents prunes to the
# qualifying keys (column-pruned scan: doc_id, lang, n_chars only), joins
# embeddings on the key, and only survivors meet the broadcast queries.
# At 100 TB the text predicate's selectivity directly divides the distance
# FLOPs — the reason filtered-ANN is not "ANN then post-filter".
# ---------------------------------------------------------------------------

# 300 sits just above the en-doc median n_chars in the synthetic corpus
# (median ~294-300, max 540-577 across sf0.001..sf0.1), so the predicate
# keeps roughly half the en documents at every validated scale — the filter
# is selective (proving filter-before-distance) AND the candidate set is
# populated (proving the distance/top-k path actually runs). The original
# 600 exceeded the corpus max and made the entry vacuously green (r9
# VERDICT "What's wrong" #1).
_FILTERED_MIN_CHARS = 300

_FILTERED_TOPK_ORACLE = f"""
WITH {_emb_cte()},
{_Q_CTE},
keep AS (
  SELECT doc_id FROM documents
  WHERE lang = 'en' AND n_chars >= {_FILTERED_MIN_CHARS}
),
c AS (
  SELECT emb.vec_id, emb.e FROM emb
  JOIN keep k ON k.doc_id = emb.vec_id
  WHERE emb.vec_id >= {_N_QUERIES}
),
{_cos_dots()},
{_scored_cte("dots")},
ranked AS (
  SELECT q_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, neighbor_id, cos_sim FROM ranked WHERE rn <= {_TOP_K}
"""


@query(
    "sim_filtered_topk",
    oracle=_FILTERED_TOPK_ORACLE,
    tags=("similarity", "ann", "hybrid"),
)
def filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    keep = (
        t(spark, sf_dir)["documents"]
        .filter(
            (F.col("lang") == "en") & (F.col("n_chars") >= _FILTERED_MIN_CHARS)
        )
        .select("doc_id")
    )
    return _top_k(_scored(_cross_pairs(_emb(spark, sf_dir), keep=keep)))


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the LSH-bucketed index against the
# exact brute-force ranking — the acceptance gate every production ANN
# deployment runs before swapping an index in. Recall is exact rational
# arithmetic (matched count / k, one double division at the end), and both
# input rankings are already deterministic (6-decimal rounding + vec_id
# tiebreak), so the metric is hash-portable.
#
# Scale shape: the brute-force ranking already requires scoring EVERY
# (query, corpus) pair, and the LSH candidate set is a subset of exactly
# those pairs (same bucket), so the evaluation fuses both rankings into ONE
# scored pass: corpus x broadcast-queries, cosine computed once per pair, an
# in_bucket flag, then a rank-only top-k filter followed by the in-bucket
# running count on the surviving <= k rows per query. matched = (exact rank
# <= k) AND (in-bucket rank <= k) is a per-row conjunction, so no k-row
# self-join is ever built, and because the first window is rank-only Spark
# prunes it map-side (WindowGroupLimit) — the shuffle carries k rows per
# (q_id, map partition), never the scored corpus. Sparse buckets (< k
# candidates) are handled by construction: missing pairs simply never set
# the approx flag.
# ---------------------------------------------------------------------------


def _ann_recall_oracle() -> str:
    return f"""
WITH exact_k AS (
  SELECT q_id, neighbor_id FROM ({_COSINE_ORACLE.strip()}) e
),
approx_k AS (
  SELECT q_id, neighbor_id FROM ({_ann_topk_oracle().strip()}) a
)
SELECT e.q_id,
       COUNT(*) AS n_exact,
       COUNT(a.neighbor_id) AS n_matched,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
FROM exact_k e
LEFT JOIN approx_k a ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.q_id
"""


@query(
    "sim_ann_recall",
    oracle=_ann_recall_oracle(),
    tags=("similarity", "ann", "evaluation"),
)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of sim_ann_lsh_topk vs sim_cosine_topk, per query vector.
    Semantically identical to running both registered plans and joining
    their k-row outputs (the oracle does exactly that); the Spark plan
    fuses them — the cosine for each (query, corpus) pair is computed once
    and both rankings are derived from the same scored frame."""
    bucketed = _bucketed(spark, sf_dir)
    q = bucketed.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    c = bucketed.filter(F.col("vec_id") >= _N_QUERIES)
    scored = _scored(
        c.crossJoin(F.broadcast(q)),
        (F.col("bucket") == F.col("qbucket")).alias("in_bucket"),
    )
    # Two-step fusion that stays WindowGroupLimit-prunable:
    #
    # Step 1 — a RANK-ONLY window (row_number over the global (cos_sim,
    # neighbor_id) order) filtered to <= k. Because the window computes
    # nothing but a rank, Spark's InferWindowGroupLimit inserts a partial
    # group-limit on the MAP side of the q_id shuffle: each input partition
    # ships at most k rows per q_id instead of the whole scored corpus.
    # (A mixed rank+aggregate window would block this — round-4 verdict.)
    #
    # Step 2 — the in-bucket running count, over the SAME (q_id) partition
    # and order, on the filtered frame. This is still exact: the bucket
    # subset is ordered by the same global (cos_sim, neighbor_id) key, so
    # every in-bucket row ranked above a global-top-k row in bucket order
    # is also above it globally — i.e. also inside the global top-k. The
    # running-sum window therefore sees at most k rows per q_id, and no
    # reshuffle happens (hash(q_id) clustering + sort order carry over).
    w_exact = _by_cos()
    topk = scored.withColumn("rn", F.row_number().over(w_exact)).where(
        F.col("rn") <= _TOP_K
    )
    w_run = w_exact.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucket_rank = F.sum(F.when(F.col("in_bucket"), 1).otherwise(0)).over(w_run)
    flagged = topk.select(
        "q_id",
        (F.col("in_bucket") & (bucket_rank <= _TOP_K)).alias("is_approx"),
    )
    n_matched = F.sum(F.when(F.col("is_approx"), 1).otherwise(0))
    return flagged.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        n_matched.cast("long").alias("n_matched"),
        (n_matched.cast("double") / F.count(F.lit(1))).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup; Abbas et al. 2023, arXiv:2303.09540 —
# public): cluster the corpus by nearest centroid, then within each cluster
# drop every vector that is near-identical (cosine >= tau) to a
# higher-priority member. Priority follows the paper's keep-rule — the
# exemplar kept is the member LEAST similar to its cluster centroid (most
# atypical), ties broken on vec_id — so the kept set is deterministic.
# "Duplicate" is the one-pass dominance rule (dominated by ANY
# higher-priority member, kept or not): order-free, SQL-expressible, and
# stable under partitioning — no sequential greedy scan.
#
# 100 TB shape: centroid assignment is the same narrow broadcast-argmin as
# sim_ivf_topk (zero shuffles); the candidate pairs come from ONE
# within-cell self-join, so the pair count is sum(|cell|^2), bounded by the
# cluster granularity — in a real fit K scales with the corpus
# (K ~ N/target_cell_size, SemDeDup used 50k clusters for LAION) keeping
# cells constant-sized; since r12 K rides the _ivf_k_for corpus ladder
# (8/16/32 across the fixtures), so the sum(|cell|^2) bound genuinely
# tightens as the corpus grows. The final per-duplicate aggregate is
# map-side combinable.
#
# Reference parity: the reference has no ANN/dedup operators — this extends
# the engine the direction its users (LLM-corpus pipelines) need; same
# differential-oracle discipline as every other row (cosines rounded to 6
# decimals before compare/threshold in BOTH engines, counts exact ints).
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.40  # inside the synthetic corpus' cosine range (max ~0.49)


def _semdedup_oracle(tau: float = _SEMDEDUP_TAU) -> str:
    return f"""
WITH {_EMB_CTE},
{_ivf_cent_ctes()},
dotsq AS (
  SELECT vec_id, k, ROUND(SUM((mv - cv) * (mv - cv)), 6) AS d,
         SUM(mv * cv) AS dot, SUM(mv * mv) AS mm, SUM(cv * cv) AS cc
  FROM dflat GROUP BY vec_id, k
),
members AS (
  SELECT vec_id, k AS cell,
         ROUND(dot / (SQRT(mm) * SQRT(cc)), 6) AS ccos
  FROM (
    SELECT vec_id, k, dot, mm, cc,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM dotsq
  ) WHERE rn = 1
),
pflat AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, b.cell,
         unnest(ea.e) AS av, unnest(eb.e) AS bv
  FROM members a
  JOIN members b ON a.cell = b.cell
    AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
  JOIN emb ea ON ea.vec_id = a.vec_id
  JOIN emb eb ON eb.vec_id = b.vec_id
),
pair_cos AS (
  SELECT a_id, b_id, cell,
         ROUND(SUM(av * bv) / (SQRT(SUM(av * av)) * SQRT(SUM(bv * bv))), 6)
           AS cos_ab
  FROM pflat GROUP BY a_id, b_id, cell
)
SELECT b_id AS vec_id, cell,
       CAST(COUNT(*) AS BIGINT) AS n_dominators,
       MAX(cos_ab) AS best_dup_cos
FROM pair_cos
WHERE cos_ab >= {tau}
GROUP BY b_id, cell
ORDER BY vec_id
"""


def _semdedup_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, cell, nrm, ccos): every vector with its assigned cell,
    vector norm, and rounded cosine-to-own-centroid — the shared input of
    both semantic-dedup variants."""
    emb = _emb(spark, sf_dir)
    centroids = _centroids(spark, emb, sf_dir)
    # Cell assignment via the shared posexplode+codegen frame (_cell_dists,
    # joined back at vector grain) instead of the per-row K*64 interpreted
    # HOF argmin.
    cells = _cell_dists(emb, centroids).select(
        "vec_id", _cell_of().alias("cell")
    )
    # cosine to the OWN cell's centroid: index the broadcast centroid matrix
    # by the assigned cell — per-row array algebra, no extra join. Constant
    # expressions memoized per (SparkContext, centroids) — _sq_dists note.
    def build():
        cent_mat = F.expr(
            "array(" + ", ".join(arr_lit_sql(c) for c in centroids) + ")"
        )
        ce = F.element_at(cent_mat, F.col("cell").cast("int"))
        num = F.aggregate(
            F.zip_with(F.col("e"), ce, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        nrm = F.sqrt(
            F.aggregate(
                F.zip_with(ce, ce, lambda x, y: x * y),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        return num, nrm

    ccos_num, ce_norm = const_exprs(
        spark,
        ("semdedup_ccos", tuple(tuple(c) for c in centroids)),
        build,
    )
    # Per-MEMBER norm, computed once: sqrt(dot(e,e)) folded over the same
    # array in the same order yields the bit-identical float the per-pair
    # spelling would — so dot/(a_nrm*b_nrm) in the pair joins is
    # value-identical to the oracle's per-pair
    # SQRT(SUM(av*av))*SQRT(SUM(bv*bv)), while the dominance join evaluates
    # ONE 64-element fold per pair instead of three (higher-order-function
    # folds are interpreted, not codegen'd: measured 6.5 s -> ~2 s at sf0.1).
    # Two-step select so the 64-element interpreted fold behind nrm runs
    # ONCE per row and ccos reuses the column (HOF folds are CodegenFallback;
    # same dedup-the-fold rationale as the pair scoring below).
    return (
        emb.join(cells, "vec_id")
        .select(
            "vec_id",
            "e",
            "cell",
            F.sqrt(_dot("e", "e")).alias("nrm"),
            ccos_num.alias("_ccos_num"),
            ce_norm.alias("_ce_norm"),
        )
        .select(
            "vec_id",
            "e",
            "cell",
            "nrm",
            F.round(
                F.col("_ccos_num") / (F.col("nrm") * F.col("_ce_norm")), 6
            ).alias("ccos"),
        )
    )


def _member_side(members: DataFrame, p: str) -> DataFrame:
    """One side of the dominance join: members as (<p>_id, <p>e, <p>_nrm,
    cell, <p>_ccos)."""
    return members.select(
        F.col("vec_id").alias(f"{p}_id"),
        F.col("e").alias(f"{p}e"),
        F.col("nrm").alias(f"{p}_nrm"),
        "cell",
        F.col("ccos").alias(f"{p}_ccos"),
    )


def _dominates():
    """a outranks b in the keep order: lower ccos, ties on vec_id."""
    return (F.col("a_ccos") < F.col("b_ccos")) | (
        (F.col("a_ccos") == F.col("b_ccos")) & (F.col("a_id") < F.col("b_id"))
    )


def _dup_counts(dups: DataFrame) -> DataFrame:
    """Per dominated vector: its dominator count and best cosine."""
    return (
        dups.groupBy(F.col("b_id").alias("vec_id"), "cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dominators"),
            F.max("cos_ab").alias("best_dup_cos"),
        )
        .orderBy("vec_id")
    )


def _semdedup_frames(
    spark: SparkSession, sf_dir: str, tau: float = _SEMDEDUP_TAU
) -> DataFrame:
    # Same one-derivation move as _semdedup_capped_frames (distinct slot:
    # the differential suite holds frames from both variants at once).
    members = slot_local_checkpoint(
        "sim_semdedup_members_uncapped", _semdedup_members(spark, sf_dir)
    )
    a = _member_side(members, "a")
    b = _member_side(members, "b")
    # The probe side of the cell join carries the O(sum |cell|^2)
    # pair-scoring work; a small corpus arrives as ONE scan split, which
    # would run every pair's cosine on a single core. Conditional fan-out on
    # both sides (no-op once the scan is already well-split) keeps the probe
    # parallel whichever side Catalyst picks to broadcast — no explicit
    # broadcast hint, so at corpus scale this degrades to a sort-merge join
    # on cell instead of pinning a corpus-sized broadcast.
    pairs = _fan_out(b).join(_fan_out(a), "cell").where(_dominates())
    dups = pairs.select("b_id", "cell", pair_cos().alias("cos_ab")).where(
        F.col("cos_ab") >= tau
    )
    return _dup_counts(dups)


# ---------------------------------------------------------------------------
# Capped-dominator semantic dedup: the scale-bounded variant. With K fixed,
# the within-cell pair count grows O(N^2/K) — fine when K tracks the corpus
# (SemDeDup fits K ~ N/target_cell_size), but a degenerate/fixed clustering
# must not quadratically explode (the exact hazard capped_band_pairs bounds
# for LSH buckets). Here only each cell's _SEMDEDUP_CAP highest-priority
# members (the most-atypical exemplars the keep-rule would retain first)
# act as DOMINATORS; every member is still checked, so pair count is
# <= cap * N — linear in the corpus at ANY K. The cap window is rank-only,
# so WindowGroupLimit prunes each map partition to cap rows per cell before
# the shuffle. Missed dups (dominated only by a sub-cap-priority member)
# are the documented approximation — the same recall trade the LSH cap
# makes for degenerate buckets.
# ---------------------------------------------------------------------------

_SEMDEDUP_CAP = 32


def _semdedup_capped_oracle(
    tau: float = _SEMDEDUP_TAU, cap: int = _SEMDEDUP_CAP
) -> str:
    base = _semdedup_oracle(tau)
    head, _, tail = base.partition("pflat AS (")
    return f"""{head}dominators AS (
  SELECT vec_id, cell, ccos FROM (
    SELECT vec_id, cell, ccos,
           ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ccos, vec_id) AS rn
    FROM members
  ) WHERE rn <= {cap}
),
pflat AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, b.cell,
         unnest(ea.e) AS av, unnest(eb.e) AS bv
  FROM dominators a
  JOIN members b ON a.cell = b.cell
    AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
  JOIN emb ea ON ea.vec_id = a.vec_id
  JOIN emb eb ON eb.vec_id = b.vec_id
),
{tail.partition("),")[2].lstrip()}"""


@query(
    "sim_semantic_dedup",
    oracle=_semdedup_capped_oracle(),
    tags=("similarity", "dedup", "semdedup", "scale"),
    order_by="vec_id",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered default = the cap-bounded dominance join (pair count
    <= cap * N, linear at ANY clustering granularity; 10x-replica probe
    measured 0.88x). The unbounded spelling (_semdedup_frames) is O(N^2/K)
    when K is fixed — it measured 4.85x at the 10x probe with the synthetic
    K=8 stand-in centroids — so it is NOT registered; it remains the
    tau-swept differential-family reference in
    tests/test_random_differential.py, the same role the uncapped
    _band_pairs plays for dd_minhash_lsh_pairs_capped.

    Bench-variance note (r8 watch item, pinned r9): the 1.8-2.4 s spread
    across identical-code runs is NOT AQE skew replanning or window spill —
    a 10-run instrumented probe at sf0.1 measured 0 spilled bytes, no
    AQEShuffleReadExec in the final plan, and flat GC. The wall time is
    dominated by a handful of SEQUENTIAL single-task stages (the two
    members branches and the dominance join over the 8-cell key, which AQE
    legitimately coalesces to 1 task at fixture scale); their per-task
    durations fluctuate 1.2-1.5x with JVM JIT/allocation state because the
    64-element HOF folds are CodegenFallback (interpreted, allocation-
    heavy). Isolated p95/p50 = 1.15; the wider bench spread adds ambient
    GC from neighboring queries plus, on whichever sim_* query runs first,
    the one-time centroid fit (~8 s, once per SparkContext — _centroids).
    A/B'd fix attempts: fanning out the embeddings scan moved p50 2.1 ->
    2.1 s (the added repartition stage cancels the parallelism gain at
    fixture scale) — not adopted. At 100 TB the cells are large enough
    that AQE keeps them parallel and the fold cost amortizes per task."""
    return _semdedup_capped_frames(spark, sf_dir)


def _semdedup_capped_frames(
    spark: SparkSession,
    sf_dir: str,
    tau: float = _SEMDEDUP_TAU,
    cap: int = _SEMDEDUP_CAP,
) -> DataFrame:
    # Materialize the members frame ONCE: it is consumed by BOTH sides of
    # the dominance join (the capped dominator window and the full member
    # side), and its lineage embeds the _cell_dists posexplode aggregate —
    # lazily re-derived per consumer that doubled the plan's exchanges
    # (r12 mid-bench regression: 10 -> 18 Exchange, 4.40 -> 5.77 s). The
    # slot-checkpoint cuts it to one derivation, the same §B/§F move as
    # the ingest and tfidf frames. In production this IS the cluster-
    # assignment table a SemDeDup pipeline materializes before scoring.
    members = slot_local_checkpoint(
        "sim_semdedup_members", _semdedup_members(spark, sf_dir)
    )
    w = Window.partitionBy("cell").orderBy(F.asc("ccos"), F.asc("vec_id"))
    dominators = _member_side(
        members.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= cap),
        "a",
    )
    b = _member_side(members, "b")
    pairs = _fan_out(b).join(dominators, "cell").where(_dominates())
    # Pair scoring via the pair-grain posexplode reshape (r12: the
    # _cell_dists move applied AFTER the join): explode the dominator
    # vector, one codegen product per (pair, dim) row against
    # element_at(be, pos+1), ONE map-side-combinable (a_id, b_id)
    # aggregate. Each pair's dim rows are contiguous in its join task, so
    # the partial sum accumulates in d=0..63 order — the identical
    # sequential sum pair_cos()'s fold computes — before the same round6.
    # Replaces one interpreted 64-element HOF fold per pair
    # (CodegenFallback; measured 1.13 -> 0.74 s for the scoring stage).
    ex = pairs.select(
        "a_id", "b_id", "cell", "a_nrm", "b_nrm",
        F.posexplode("ae").alias("pos", "av"),
        "be",
    )
    dots = (
        ex.select(
            "a_id", "b_id", "cell", "a_nrm", "b_nrm",
            (F.col("av") * F.element_at("be", F.col("pos") + 1)).alias("prod"),
        )
        .groupBy("a_id", "b_id", "cell", "a_nrm", "b_nrm")
        .agg(F.sum("prod").alias("dot"))
    )
    dups = dots.select(
        "b_id",
        "cell",
        F.round(F.col("dot") / (F.col("a_nrm") * F.col("b_nrm")), 6).alias(
            "cos_ab"
        ),
    ).where(F.col("cos_ab") >= tau)
    return _dup_counts(dups)


# ---------------------------------------------------------------------------
# Per-label centroid drift monitor: how far each label's embedding centroid
# sits from the GLOBAL corpus centroid (cosine + centroid L2 norm). The
# embedding-space twin of text_source_drift: a training-data pipeline
# watches this to catch a source/label whose representation distribution
# shifted (bad ingest, encoder regression, poisoned slice). The 100 TB
# shape: one explode to (label, dim, value), two map-side-combinable hash
# aggregates onto |labels| x 64 and 64 groups — the shuffle carries
# centroid-scale rows regardless of corpus size — then centroid-scale
# joins. Portability: component sums are exact integers (round(v * 1e6) as
# BIGINT, the sim_kmeans_step trick) promoted to DECIMAL(38,0)/HUGEINT for
# the quadratic forms, so dot products and norms are EXACT in both engines;
# the only float ops are the final correctly-rounded casts, sqrts, one
# multiply, one divide — spelled identically on both sides.
# ---------------------------------------------------------------------------

_CENTROID_DRIFT_ORACLE = f"""
WITH {_emb_cte("label")},
ex AS (
  SELECT label, unnest(e) AS val, unnest(generate_series(1, 64)) AS dim
  FROM emb
),
s AS (
  SELECT label, dim,
         SUM(CAST(ROUND(val * 1000000) AS BIGINT)) AS sld
  FROM ex GROUP BY label, dim
),
nl AS (SELECT label, COUNT(*) AS n_vecs FROM emb GROUP BY label),
g AS (SELECT dim, CAST(SUM(sld) AS HUGEINT) AS td FROM s GROUP BY dim),
q AS (
  SELECT s.label,
         SUM(CAST(s.sld AS HUGEINT) * g.td) AS dot,
         SUM(CAST(s.sld AS HUGEINT) * CAST(s.sld AS HUGEINT)) AS na,
         SUM(g.td * g.td) AS nb
  FROM s JOIN g USING (dim) GROUP BY s.label
)
SELECT q.label,
       nl.n_vecs,
       CAST(q.dot AS DOUBLE)
         / (sqrt(CAST(q.na AS DOUBLE)) * sqrt(CAST(q.nb AS DOUBLE)))
         AS cos_to_global,
       sqrt(CAST(q.na AS DOUBLE)) / (1000000.0 * nl.n_vecs) AS centroid_l2
FROM q JOIN nl ON q.label = nl.label
ORDER BY q.label
"""


@query(
    "sim_centroid_drift",
    oracle=_CENTROID_DRIFT_ORACLE,
    tags=("similarity", "monitoring", "drift"),
    order_by="label",
)
def centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir, "label")
    ex = emb.select("label", F.posexplode("e").alias("pos", "val"))
    s = ex.groupBy("label", (F.col("pos") + 1).alias("dim")).agg(
        # Cast each rounded component to DECIMAL BEFORE the sum: Spark widens
        # decimal sums (decimal(28,0) terms -> decimal(38,0) sum), so the
        # per-(label,dim) sum is exact at any n_vecs, matching DuckDB's
        # SUM(BIGINT)->HUGEINT promotion. A long-typed sum would silently
        # wrap in non-ANSI mode at extreme scale (r8 ADVICE).
        F.sum(F.round(F.col("val") * 1000000, 0).cast("long").cast("decimal(28,0)"))
        .cast("decimal(38,0)")
        .alias("sld")
    )
    nl = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    g = s.groupBy("dim").agg(F.sum("sld").cast("decimal(38,0)").alias("td"))
    q = (
        s.join(g, "dim")
        .groupBy("label")
        .agg(
            F.sum(F.col("sld") * F.col("td")).alias("dot"),
            F.sum(F.col("sld") * F.col("sld")).alias("na"),
            F.sum(F.col("td") * F.col("td")).alias("nb"),
        )
    )
    return (
        q.join(nl, "label")
        .select(
            "label",
            "n_vecs",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cos_to_global"),
            (
                F.sqrt(F.col("na").cast("double"))
                / (F.lit(1000000.0) * F.col("n_vecs"))
            ).alias("centroid_l2"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) top-k — the vector
# compression every 100 TB ANN stack runs (IVF-PQ): split the 64-dim vector
# into M=4 subspaces of 16 dims, encode each subvector as the index of its
# nearest codeword (the K=8 seed vectors' subvectors — same fixed codebook
# discipline as the IVF centroids; a real fit trains them with
# sim_kmeans_step per subspace), and score query-to-vector distance as the
# SUM of M table lookups instead of a 64-dim float computation.
#
# Scale design: encoding is a per-row literal-codebook expression — scan
# speed, zero shuffles, and the corpus representation shrinks 32x (64 x 8 B
# doubles -> 4 small ints). The ADC scoring joins the whole ENCODED corpus
# against the Q-bounded broadcast query tables at 4 integer adds per pair —
# the classic PQ trade: touch every vector, but at lookup cost, with the
# full-precision vectors never leaving the scan. All distances are integer
# MICROS (round(d2 * 1e6)): argmin and ADC sums are exact integer
# arithmetic in both engines, so ranking is portable bit-for-bit (the one
# rounding per (vector, codeword, subspace) is the repo's established
# round-6 pattern).
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_D = 16  # dims per subspace (4 x 16 = 64)
_PQ_K = 8  # codewords per subspace (the seed vectors' subvectors)
_PQ_TOPK = 5


def _pq_subspace_dists(emb: DataFrame, codewords: list[list[float]]) -> DataFrame:
    """(vec_id, m [1-based], d2u array<long>[K]): integer-micro L2^2 of each
    row's m-th subvector against every codeword, one (vec, m) aggregate of
    _sq_dists shared by the encode / query-table / training lanes — M small
    rows per vector cross the shuffle. Replaced the K*M*D-per-row
    interpreted HOF encode (measured sim_pq_adc_topk 7.6 s,
    sim_pq_train_convergence 8.7 s at sf0.1 on the r12 baseline box)."""
    per_sub, d2u = _sq_dists(
        emb,
        ["vec_id"],
        [("", codewords)],
        "pq_subspace_dists",
        lambda ts: F.expr(f"array({_micros(ts[0])})").alias("d2u"),
        sub="m0",
    )
    return per_sub.select(
        "vec_id", (F.col("m0") + 1).cast("int").alias("m"), d2u
    )


def _pq_code():
    """1-based argmin code over a d2u array (tie -> lowest code) — the
    encoder's array_position-of-min contract."""
    return F.array_position(F.col("d2u"), F.array_min("d2u")).cast("int")


def _first_m(m: int, col):
    """The (vec_id, m)-grain frame pivoted wide: exactly one row per
    (vec_id, m), so first(ignorenulls) is deterministic."""
    return F.first(F.when(F.col("m") == m, col), ignorenulls=True)


def _pq_codes(sub: DataFrame) -> DataFrame:
    """(vec_id, code_1..code_M): each vector's subspace codes, pivoted wide
    from a _pq_subspace_dists frame."""
    return sub.groupBy("vec_id").agg(
        *[_first_m(m + 1, _pq_code()).alias(f"code_{m + 1}") for m in range(_PQ_M)]
    )


def _pq_cte_prefix() -> str:
    """Shared oracle CTEs through ``adc`` (the ALL-pairs ADC distances) —
    the top-k and the recall oracles both rank from this frame."""
    k0 = _IVF_FIRST_CENTROID
    return f"""
WITH {_EMB_CTE},
cw AS (SELECT vec_id - {k0} + 1 AS c, e AS ce FROM emb
       WHERE vec_id BETWEEN {k0} AND {k0 + _PQ_K - 1}),
sq AS (
  SELECT v.vec_id, w.c, CAST((d - 1) // {_PQ_D} AS INTEGER) + 1 AS m,
         (v.e[d] - w.ce[d]) * (v.e[d] - w.ce[d]) AS s
  FROM emb v CROSS JOIN cw w
  CROSS JOIN unnest(generate_series(1, {_PQ_M * _PQ_D})) AS g(d)
),
{_sub_cte("")},
{_codes_cte("")},
{_adc_ctes("", "")}"""


# PQ oracle CTEs by suffix s: the per-(vector, codeword, subspace)
# micro-distances of the squared terms sq<s> (sub<s>), each corpus
# subvector's nearest code (codes<s>), the query distance tables and the
# ADC sums over codes<s> (qtab<n>, adc<n>), and one Lloyd step's exact
# member means (tcw<s>).
def _grid_sq_cte(s: str, grid: str) -> str:
    return f"""sq{s} AS (
  SELECT v.vec_id, cg.c, cg.m,
         (v.e[(cg.m - 1) * {_PQ_D} + cg.d] - cg.val)
         * (v.e[(cg.m - 1) * {_PQ_D} + cg.d] - cg.val) AS s
  FROM emb v CROSS JOIN {grid} cg
)"""


def _sub_cte(s: str) -> str:
    return f"""sub{s} AS (
  SELECT vec_id, c, m, CAST(ROUND(SUM(s) * 1000000.0, 0) AS BIGINT) AS d2u
  FROM sq{s} GROUP BY vec_id, c, m
)"""


def _codes_cte(s: str) -> str:
    return f"""codes{s} AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2u, c) AS rn
    FROM sub{s} WHERE vec_id >= {_N_QUERIES}
  ) WHERE rn = 1
)"""


def _adc_ctes(n: str, s: str) -> str:
    return f"""qtab{n} AS (SELECT vec_id AS q_id, m, c, d2u FROM sub{s} WHERE vec_id < {_N_QUERIES}),
adc{n} AS (
  SELECT t.q_id, cd.vec_id AS neighbor_id,
         CAST(SUM(t.d2u) AS BIGINT) AS adc_micro
  FROM codes{s} cd JOIN qtab{n} t ON t.m = cd.m AND t.c = cd.code
  GROUP BY t.q_id, cd.vec_id
)"""


def _tcw_cte(s: str) -> str:
    return f"""tcw{s} AS (
  SELECT cd.m, cd.code, g.d AS dim,
         COUNT(*) AS n_members,
         CAST(SUM(CAST(ROUND(v.e[(cd.m - 1) * {_PQ_D} + g.d] * 1000000)
                       AS BIGINT)) AS DOUBLE)
           / (1000000.0 * COUNT(*)) AS mean_val
  FROM codes{s} cd JOIN emb v ON v.vec_id = cd.vec_id
  CROSS JOIN unnest(generate_series(1, {_PQ_D})) AS g(d)
  GROUP BY cd.m, cd.code, g.d
)"""


def _recall_tail(adc: str, topk: int) -> str:
    """recall@topk of the ``adc`` ranking against the exact L2 ranking."""
    return f"""tru AS (
  SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
         CAST(ROUND(SUM((q.e[d] - v.e[d]) * (q.e[d] - v.e[d]))
                    * 1000000.0, 0) AS BIGINT) AS true_micro
  FROM emb q CROSS JOIN emb v
  CROSS JOIN unnest(generate_series(1, {_PQ_M * _PQ_D})) AS g(d)
  WHERE q.vec_id < {_N_QUERIES} AND v.vec_id >= {_N_QUERIES}
  GROUP BY q_id, neighbor_id
),
rk AS (
  SELECT p.q_id, p.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY p.q_id
                            ORDER BY t.true_micro, p.neighbor_id) AS rt,
         ROW_NUMBER() OVER (PARTITION BY p.q_id
                            ORDER BY p.adc_micro, p.neighbor_id) AS ra
  FROM {adc} p JOIN tru t
    ON t.q_id = p.q_id AND t.neighbor_id = p.neighbor_id
)
SELECT q_id, COUNT(*) AS n_exact,
       CAST(SUM(CASE WHEN ra <= {topk} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(SUM(CASE WHEN ra <= {topk} THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS recall_at_k
FROM rk WHERE rt <= {topk} GROUP BY q_id
"""


def _pq_oracle(topk: int = _PQ_TOPK) -> str:
    return f"""{_pq_cte_prefix()}
SELECT q_id, neighbor_id, adc_micro FROM (
  SELECT q_id, neighbor_id, adc_micro,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY adc_micro, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {topk}
"""


@query(
    "sim_pq_adc_topk",
    oracle=_pq_oracle(),
    tags=("similarity", "ann", "pq", "quantization"),
    order_by="q_id, adc_micro, neighbor_id",
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the corpus (M=4 subspace codes against the seed codebook)
    and answer each query's top-k by asymmetric distance: the sum of the
    query's per-subspace distance-table entries at the vector's codes."""
    pairs = _pq_adc_pairs(spark, sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("q_id").orderBy("adc_micro", "neighbor_id")
    )
    return (
        pairs.select("q_id", "neighbor_id", "adc_micro", rn.alias("rn"))
        .where(F.col("rn") <= _PQ_TOPK)
        .drop("rn")
        # Presentation order IS part of the declared contract (order_by):
        # without the final sort the returned order is partition order,
        # which happens to be globally sorted only when AQE coalesces the
        # tiny shuffle to one partition — the AQE-OFF sweep caught exactly
        # that (k·Q rows, so the sort is output-bounded).
        .orderBy("q_id", "adc_micro", "neighbor_id")
    )


def _pq_adc_pairs(
    spark: SparkSession,
    sf_dir: str,
    with_vectors: bool = False,
    codewords: list[list[float]] | None = None,
) -> DataFrame:
    """All (query, corpus-vector) ADC micro-distances; with_vectors keeps
    the full-precision vectors on both sides so a caller can also score the
    TRUE distance from the same pair frame (the recall gate). ``codewords``
    overrides the codebook (default: the seed vectors; the trained lane
    passes the one-Lloyd-step codebook from _trained_codewords)."""
    emb = _emb(spark, sf_dir)
    if codewords is None:
        codewords = _centroids(spark, emb, sf_dir)[:_PQ_K]
    # Encode via the shared posexplode+codegen subspace-distance frame
    # (_pq_subspace_dists): per subspace, argmin over the K micro-distances
    # (tie -> lowest code, the array_position-of-min contract the IVF cell
    # expr uses); the query side keeps the K-entry arrays as its distance
    # tables. Pivoting the (vec, m) grain wide is a tiny second aggregate
    # over M rows per vector.
    sub = _pq_subspace_dists(emb, codewords)
    corpus = _pq_codes(sub.filter(F.col("vec_id") >= _N_QUERIES))
    q = (
        sub.filter(F.col("vec_id") < _N_QUERIES)
        .groupBy("vec_id")
        .agg(
            *[
                _first_m(m + 1, F.col("d2u")).alias(f"qt_{m + 1}")
                for m in range(_PQ_M)
            ]
        )
        .withColumnRenamed("vec_id", "q_id")
    )
    if with_vectors:
        corpus = corpus.join(
            emb.filter(F.col("vec_id") >= _N_QUERIES).select("vec_id", "e"),
            "vec_id",
        )
        q = q.join(
            emb.filter(F.col("vec_id") < _N_QUERIES).select(
                F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
            ),
            "q_id",
        )
    adc = sum(
        F.element_at(F.col(f"qt_{m + 1}"), F.col(f"code_{m + 1}"))
        for m in range(_PQ_M)
    )
    extra = []
    if with_vectors:
        true_micro = F.round(
            F.aggregate(
                F.zip_with(
                    F.col("e"), F.col("qe"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * 1000000.0,
            0,
        ).cast("long")
        extra = [true_micro.alias("true_micro")]
    return corpus.crossJoin(F.broadcast(q)).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        adc.cast("long").alias("adc_micro"),
        *extra,
    )


def _pq_recall_oracle(topk: int = _PQ_TOPK) -> str:
    return f"""{_pq_cte_prefix()},
{_recall_tail("adc", topk)}"""


@query(
    "sim_pq_recall",
    oracle=_pq_recall_oracle(),
    tags=("similarity", "pq", "evaluation"),
)
def pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the PQ/ADC ranking vs the exact full-precision L2
    ranking, per query — the acceptance gate a pipeline runs before
    swapping full vectors for codes. One fused pair frame scores BOTH
    distances (true L2^2 micro from the vectors, ADC micro from the
    codes), so the two rankings derive from identical pairs; both
    row_numbers are rank-only windows over the same q_id partition (one
    shuffle, two sorts, map-side group-limit prunable)."""
    return _recall_from_pairs(_pq_adc_pairs(spark, sf_dir, with_vectors=True))


def _recall_from_pairs(pairs: DataFrame) -> DataFrame:
    """recall@k aggregation over a fused (true_micro, adc_micro) pair frame
    — shared by the seed-codebook and trained-codebook recall gates."""
    by_q = Window.partitionBy("q_id")
    rt = F.row_number().over(by_q.orderBy("true_micro", "neighbor_id"))
    ra = F.row_number().over(by_q.orderBy("adc_micro", "neighbor_id"))
    ranked = pairs.select(
        "q_id", rt.alias("rt"), ra.alias("ra")
    ).where(F.col("rt") <= _PQ_TOPK)
    n_matched = F.sum(F.when(F.col("ra") <= _PQ_TOPK, 1).otherwise(0))
    return ranked.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        n_matched.cast("long").alias("n_matched"),
        (n_matched.cast("double") / F.count(F.lit(1))).alias("recall_at_k"),
    )


def _pq_distortion_oracle() -> str:
    return f"""{_pq_cte_prefix()},
dist AS (
  SELECT vec_id, CAST(SUM(md) AS BIGINT) AS dist_micro FROM (
    SELECT vec_id, m, MIN(d2u) AS md
    FROM sub WHERE vec_id >= {_N_QUERIES} GROUP BY vec_id, m
  ) GROUP BY vec_id
),
lab AS (SELECT vec_id, label FROM embeddings)
SELECT l.label, COUNT(*) AS n_vecs,
       CAST(SUM(d.dist_micro) AS BIGINT) AS total_distortion_micro,
       CAST(SUM(d.dist_micro) AS DOUBLE) / COUNT(*) AS avg_distortion_micro
FROM dist d JOIN lab l ON l.vec_id = d.vec_id
GROUP BY l.label
"""


@query(
    "sim_pq_distortion",
    oracle=_pq_distortion_oracle(),
    tags=("similarity", "pq", "quantization", "evaluation"),
)
def pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label PQ quantization distortion: each vector's reconstruction
    error is the SUM over subspaces of its distance to the NEAREST
    codeword — the encode argmin's minimum itself. The vector-level
    quality twin of sim_pq_recall's ranking-level gate.

    Formulation note: this deliberately does NOT reuse the HOF encode
    expression — 512 interpreted CodegenFallback lambda evaluations per
    row blew the per-row cost lint (606 µs/row). Instead it takes the
    sim_kmeans_step shape: posexplode to (vec, dim, val), K codegen'd
    squared diffs per dim row (element_at into literal codeword arrays —
    whole-stage codegen, no lambdas), and a map-side-combinable aggregate
    that collapses each vector's 64 dim rows to M rows of K partial sums
    BEFORE the shuffle — so the one corpus-scale shuffle carries
    M small rows per vector, and everything per-row stays in codegen.
    Integer micros keep the min/sum arithmetic exact in both engines;
    the avg is one final double division. Boundary assumption: the
    per-subspace double sums are accumulated in shuffle-group order here
    and in DuckDB's scan order there BEFORE the round-to-micro, so a sum
    landing within ~1 ulp of a .5-micro boundary could round to different
    longs — the same exposure as every d2u rounding in this module
    (fixture values sit far from boundaries; a boundary hit would surface
    as a deterministic off-by-one differential)."""
    emb = _emb(spark, sf_dir, "vec_id", "label")
    codewords = _centroids(spark, emb.select("vec_id", "e"), sf_dir)[:_PQ_K]
    per_sub, md = _sq_dists(
        emb.filter(F.col("vec_id") >= _N_QUERIES),
        ["vec_id", "label"],
        [("", codewords)],
        "pq_distortion",
        lambda ts: F.expr(f"least({_micros(ts[0])})"),
        sub="m",
    )
    per_vec = (
        per_sub.select("vec_id", "label", md.alias("md"))
        .groupBy("vec_id", "label")
        .agg(F.sum("md").alias("dist_micro"))
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("dist_micro").cast("long").alias("total_distortion_micro"),
        (F.sum("dist_micro").cast("double") / F.count(F.lit(1))).alias(
            "avg_distortion_micro"
        ),
    )


# ---------------------------------------------------------------------------
# PQ codebook TRAINING (one exact Lloyd step per subspace) + the trained
# recall gate. The seed-codebook PQ family above proves the encode/ADC
# machinery; this lane makes the codebook itself real: each subspace's K
# codewords are recomputed as the per-dimension mean of the corpus
# subvectors assigned to them (assignment = the same argmin the encoder
# uses), which is exactly one k-means iteration in the 16-dim subspace —
# how production PQ codebooks are actually fit (Jegou et al., "Product
# Quantization for Nearest Neighbor Search"). Lloyd monotonicity guarantees
# the trained codebook's total quantization distortion is <= the seed
# codebook's (the mean minimizes within-cell SSE), pinned in
# tests/test_pq_training.py.
#
# Portability: the mean is (exact int64 sum of round(v*1e6)) / (1e6 * n) —
# the sim_kmeans_step discipline — so both engines derive bit-identical
# codeword doubles, and every downstream distance/rounding sees identical
# inputs. Empty cells (a codeword that attracts no members) fall back to
# the seed subvector in BOTH engines via the same left-join/coalesce.
#
# Scale shape: training is one corpus scan (encode argmin runs in
# whole-stage codegen against literal seed codewords — zero joins), a
# posexplode to 64 (m, code, dim, val) rows per vector, and ONE map-side-
# combinable aggregate onto M*K*D = 512 groups — the shuffle carries 512
# partial rows per map task regardless of corpus size. The collected
# codebook is 512 doubles: metadata-scale, the same class as the K x 64
# centroid fetch (a real fit broadcasts this).
# ---------------------------------------------------------------------------


def _pq_train_oracle() -> str:
    # One Lloyd step over the seed assignment (`codes` from the prefix).
    return f"""{_pq_cte_prefix()},
{_tcw_cte("")}
SELECT m, code, dim, mean_val, n_members FROM tcw
"""


def _trained_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-codebook statistics frame: (m, code, dim) -> exact mean
    of member subvector values + member count. One scan, one 512-group
    map-combinable aggregate."""
    seed = _centroids(spark, _emb(spark, sf_dir), sf_dir)[:_PQ_K]
    return _lloyd_stats(spark, sf_dir, seed)


@query(
    "sim_pq_train_codebook",
    oracle=_pq_train_oracle(),
    tags=("similarity", "pq", "kmeans", "training"),
)
def pq_train_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd step per PQ subspace: assign every corpus subvector
    to its nearest seed codeword (the encoder's own argmin), then emit each
    (subspace, code, dim) cell's exact member mean — the trained codebook
    the ADC lane consumes via _trained_codewords."""
    return _trained_stats(spark, sf_dir).select(
        "m", "code", "dim", "mean_val", "n_members"
    )


# ---------------------------------------------------------------------------
# Lloyd training to convergence (r10 VERDICT item 5): the one-step fit
# above is kept as the minimal training entry; the TRAINED lane below runs
# a FIXED _PQ_TRAIN_STEPS-step Lloyd chain (fixed so the DuckDB oracle can
# unroll the identical iterations as chained CTEs — a dynamic stopping rule
# cannot be mirrored in one static SQL text). Convergence itself is proven
# two ways: the registered sim_pq_train_convergence entry OUTPUTS the
# per-step assignment distortion (Lloyd guarantees the sequence is
# monotone non-increasing — visible in the gated result), and
# tests/test_pq_training.py iterates past the fixed horizon until the
# relative improvement drops under epsilon, pinning that the chain
# converges on the fixture within a small step budget.
#
# K now SCALES with corpus size instead of being fixture-fixed: K =
# 8 / 16 / 32 at corpus >= 0 / 1024 / 16384 (a capped power-of-2 ~n^(1/2)
# ladder; production PQ fixes K=256 and scales M — this exercises the
# codebook machinery at multiple K across the fixtures: 8 at sf0.001/0.01,
# 16 at sf0.1, 32 on the 10x probe layout). Both engines derive K from
# the SAME corpus count: Spark counts then inlines literals; the oracle
# derives it in a scalar CTE, so the codeword sets match by construction.
#
# Scale shape per step: one corpus scan encoding against K*M*D literal
# codewords in whole-stage codegen (zero joins), one 512-3072-group
# map-combinable aggregate, one metadata-scale (K*64 doubles) collect for
# the next step's literals — T steps = T linear scans, no quadratic term.
# ---------------------------------------------------------------------------

_PQ_TRAIN_STEPS = 3


_pq_k_for = _ivf_k_for
_PQ_K_SQL = _IVF_K_SQL


def _pq_chain_ctes(steps: int) -> str:
    """Oracle CTE chain: grid_0 = seed codebook (K scaled by corpus count),
    then per step t: micro-distance encode vs grid_{t-1} (sub_t), per-cell
    argmin assignment (codes_t), exact member means (tcw_t), and the next
    codebook grid_t = means coalesced onto grid_{t-1} (empty cells keep
    their previous centroid, the Spark side's fallback)."""
    k0 = _IVF_FIRST_CENTROID
    parts = [f"""
WITH {_EMB_CTE},
kk AS (SELECT {_PQ_K_SQL} AS k FROM emb WHERE vec_id >= {_N_QUERIES}),
grid_0 AS (
  SELECT w.vec_id - {k0} + 1 AS c, g.m, g.d,
         w.e[(g.m - 1) * {_PQ_D} + g.d] AS val
  FROM emb w, kk
  CROSS JOIN (SELECT mm.m, dd.d
              FROM unnest(generate_series(1, {_PQ_M})) AS mm(m)
              CROSS JOIN unnest(generate_series(1, {_PQ_D})) AS dd(d)) g
  WHERE w.vec_id BETWEEN {k0} AND {k0} + kk.k - 1
)"""]
    for step in range(1, steps + 1):
        prev = step - 1
        parts.append(f""",
{_grid_sq_cte(f"_{step}", f"grid_{prev}")},
{_sub_cte(f"_{step}")},
best_{step} AS (
  SELECT vec_id, m, MIN(d2u) AS bd FROM sub_{step}
  WHERE vec_id >= {_N_QUERIES} GROUP BY vec_id, m
),
{_codes_cte(f"_{step}")},
{_tcw_cte(f"_{step}")},
grid_{step} AS (
  SELECT g.c, g.m, g.d, COALESCE(t.mean_val, g.val) AS val
  FROM grid_{prev} g
  LEFT JOIN tcw_{step} t ON t.m = g.m AND t.code = g.c AND t.dim = g.d
)""")
    return "".join(parts)


def _pq_convergence_oracle(steps: int = _PQ_TRAIN_STEPS) -> str:
    selects = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS step, "
        f"CAST(SUM(bd) AS BIGINT) AS distortion_micro, "
        f"COUNT(*) AS n_subvectors FROM best_{t}"
        for t in range(1, steps + 1)
    )
    return f"{_pq_chain_ctes(steps)}\nSELECT * FROM ({selects})"


def _lloyd_stats(
    spark: SparkSession, sf_dir: str, codewords: list[list[float]]
) -> DataFrame:
    """(m, code, dim) -> exact member mean + count of the corpus assignment
    against ``codewords`` — _trained_stats generalized to an arbitrary
    codebook (the chain feeds each step's collected means back in)."""
    emb = _emb(spark, sf_dir)
    # Assignment codes from the shared posexplode+codegen frame (see
    # _pq_subspace_dists — replaces the per-row interpreted HOF encode),
    # attached back to the exploded dim rows by a broadcast-scale join
    # (codes are one row per corpus vector).
    codes_w = _pq_codes(
        _pq_subspace_dists(emb, codewords).filter(F.col("vec_id") >= _N_QUERIES)
    )
    m_of = (F.col("pos") / _PQ_D).cast("int") + 1
    ex = (
        emb.filter(F.col("vec_id") >= _N_QUERIES)
        .select("vec_id", F.posexplode("e").alias("pos", "val"))
        .join(codes_w, "vec_id")
        .select(
            m_of.cast("int").alias("m"),
            F.element_at(
                F.array(*[F.col(f"code_{m + 1}") for m in range(_PQ_M)]),
                m_of,
            ).alias("code"),
            (F.pmod(F.col("pos"), F.lit(_PQ_D)) + 1).cast("int").alias("dim"),
            "val",
        )
    )
    return ex.groupBy("m", "code", "dim").agg(*_exact_mean())


def _lloyd_codebooks(
    spark: SparkSession, sf_dir: str, steps: int = _PQ_TRAIN_STEPS
) -> list[list[list[float]]]:
    """[C_0 .. C_steps]: the seed codebook and each Lloyd update, K scaled
    by corpus count; cached per (SparkContext, sf_dir, steps) — each
    codebook is K x 64 doubles, metadata-scale."""
    chains = memo(spark.sparkContext, "lloyd_codebooks")
    cache_key = (sf_dir.rstrip("/"), steps)
    hit = chains.get(cache_key)
    if hit is not None:
        return hit
    emb = _emb(spark, sf_dir)
    n_corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).count()
    k = _pq_k_for(n_corpus)
    k0 = _IVF_FIRST_CENTROID
    seed_rows = (
        emb.filter(F.col("vec_id").between(k0, k0 + k - 1))
        .orderBy("vec_id")
        .collect()
    )
    chain = [[list(r.e) for r in seed_rows]]
    for _ in range(steps):
        nxt = [list(c) for c in chain[-1]]  # empty cells keep prev centroid
        for r in _lloyd_stats(spark, sf_dir, chain[-1]).collect():
            nxt[r.code - 1][(r.m - 1) * _PQ_D + (r.dim - 1)] = float(r.mean_val)
        chain.append(nxt)
    chains[cache_key] = chain
    return chain


def _chain_distortion_frame(
    spark: SparkSession, sf_dir: str, chain: list[list[list[float]]]
) -> DataFrame:
    """T-row frame (step, distortion_micro, n_subvectors): per-step corpus
    assignment distortion of the Lloyd chain — step t against chain[t-1] —
    computed in ONE scan/posexplode/aggregate pass (r12 §F: the per-step
    union re-ran the identical explode + (vec, m) shuffle T times; every
    step shares the exploded corpus, only the K codegen squared-diff terms
    differ, so all T*K sums ride one map-side-combinable aggregate). Each
    step's per-(vec, m) double sums accumulate in the same partial-agg
    order as the single-step frame (same grouping, same input order) before
    the round-to-micro; the per-step totals are then exact int64 micro sums
    of array minima — order-independent, identical to the per-row
    sum-of-subspace-minima, with n_subvectors = the (vec, m) row count =
    n_corpus * M exactly as before."""
    n_steps = len(chain)
    # All T*K squared-difference terms ride one _sq_dists aggregate.
    per_sub, mins = _sq_dists(
        _emb(spark, sf_dir).filter(F.col("vec_id") >= _N_QUERIES),
        ["vec_id"],
        [(f"{ti}_", cb) for ti, cb in enumerate(chain)],
        "chain_distortion",
        lambda ts: [
            F.expr(f"array_min(array({_micros(names)}))").alias(f"min{ti}")
            for ti, names in enumerate(ts)
        ],
        sub="m0",
    )
    glob = per_sub.select(*mins).agg(
        *[F.sum(f"min{ti}").alias(f"dist{ti}") for ti in range(n_steps)],
        F.count(F.lit(1)).alias("n_sub"),
    )
    stack_args = ", ".join(
        f"CAST({ti + 1} AS BIGINT), dist{ti}, n_sub" for ti in range(n_steps)
    )
    return glob.selectExpr(
        f"stack({n_steps}, {stack_args})"
        " AS (step, distortion_micro, n_subvectors)"
    )


@query(
    "sim_pq_train_convergence",
    oracle=_pq_convergence_oracle(),
    tags=("similarity", "pq", "kmeans", "training", "convergence"),
    order_by="step",
)
def pq_train_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step assignment distortion of the _PQ_TRAIN_STEPS-step Lloyd
    chain (step t scores the corpus against codebook C_{t-1}) — Lloyd
    guarantees the gated sequence is monotone non-increasing, so the
    convergence trajectory itself is behind the bit-exact hash gate."""
    chain = _lloyd_codebooks(spark, sf_dir)
    return _chain_distortion_frame(
        spark, sf_dir, chain[: _PQ_TRAIN_STEPS]
    )


def _trained_codewords(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The CONVERGED codebook: the final entry of the Lloyd chain (r10
    shipped one step from seeds; the chain now runs _PQ_TRAIN_STEPS exact
    mean updates with corpus-scaled K)."""
    return _lloyd_codebooks(spark, sf_dir)[-1]


def _pq_trained_recall_oracle(topk: int = _PQ_TOPK) -> str:
    # The full Lloyd chain (grid_{steps} = the converged codebook), then a
    # fresh encode / query-table / ADC / recall pipeline against it.
    T = _PQ_TRAIN_STEPS
    return f"""{_pq_chain_ctes(T)},
{_grid_sq_cte("_f", f"grid_{T}")},
{_sub_cte("_f")},
{_codes_cte("_f")},
{_adc_ctes("2", "_f")},
{_recall_tail("adc2", topk)}"""


@query(
    "sim_pq_trained_recall",
    oracle=_pq_trained_recall_oracle(),
    tags=("similarity", "pq", "kmeans", "training", "evaluation"),
)
def pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the TRAINED-codebook PQ/ADC ranking vs the exact
    full-precision ranking — the acceptance gate run after fitting, before
    swapping the trained codebook in. Identical machinery to sim_pq_recall
    (one fused pair frame scores both distances) with the CONVERGED
    _PQ_TRAIN_STEPS-step Lloyd codebook (corpus-scaled K) substituted for
    the seed slices."""
    codewords = _trained_codewords(spark, sf_dir)
    return _recall_from_pairs(
        _pq_adc_pairs(spark, sf_dir, with_vectors=True, codewords=codewords)
    )


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation: MRR and AP@k of the exact cosine ranking
# against label-match relevance — the metrics every RAG/retrieval pipeline
# reports before shipping an index (complements the recall@k gates, which
# grade an APPROXIMATE index against the exact ranking; this grades the
# RANKING itself against ground truth). Relevance is deterministic ground
# truth on the fixture: a corpus vector is relevant to a query iff their
# `label` columns match.
#
# Exact-rational discipline (what makes the metrics hash-portable):
# - reciprocal rank = 1.0 / first_rel_rank — ONE double division of an
#   exact integer, identical in both engines;
# - AP@10 is summed as INTEGERS scaled by lcm(1..10) = 2520: each relevant
#   row at rank r <= 10 with running relevant-count i contributes
#   i * (2520 / r) exactly (2520/r is an integer for every r in 1..10), so
#   the sum is order-independent int64 arithmetic and the final
#   ap_scaled / (2520 * min(k, n_rel_total)) is one correctly-rounded
#   division. A naive Sum(i/r) of doubles would be summation-order-dependent.
#   The denominator is the STANDARD AP@k normalizer min(k, total relevant
#   for the query) — r10 shipped n_rel_topk (relevant found in top-k),
#   which scores a 1-of-20-relevant-in-top-10 query the same as 1-of-1
#   (ADVICE r10); queries with zero relevant candidates anywhere drop out
#   of both engines alike (the relevance join is inner), so the
#   denominator is always >= 1.
#
# Scale shape: the same Q-bounded broadcast-queries x corpus pass as the
# brute-force family (Q fixed, corpus-linear); the ranking window is
# rank-only per q_id. Output is Q rows.
# ---------------------------------------------------------------------------

_AP_K = 10
_AP_LCM = 2520  # lcm(1..10)


def _mrr_ap_oracle() -> str:
    return f"""
WITH {_emb_cte("vec_id, label")},
q AS (SELECT vec_id AS q_id, label AS q_label, e AS qe FROM emb
      WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id, label, e FROM emb WHERE vec_id >= {_N_QUERIES}),
flat AS (
  SELECT q.q_id, q.q_label, c.vec_id, c.label,
         unnest(q.qe) AS qv, unnest(c.e) AS cv
  FROM q CROSS JOIN c
),
dots AS (
  SELECT q_id, q_label, vec_id, label,
         SUM(qv * cv) AS dot, SUM(qv * qv) AS qq, SUM(cv * cv) AS cc
  FROM flat GROUP BY q_id, q_label, vec_id, label
),
ranked AS (
  SELECT q_id, vec_id, (label = q_label) AS rel,
         ROW_NUMBER() OVER (
           PARTITION BY q_id
           ORDER BY {_COS6} DESC, vec_id
         ) AS rnk
  FROM dots
),
rel_ranked AS (
  SELECT q_id, rnk,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rnk) AS rel_i
  FROM ranked WHERE rel
),
per_q AS (
  SELECT q_id,
         MIN(rnk) AS first_rel_rank,
         CAST(SUM(CASE WHEN rnk <= {_AP_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_topk,
         COUNT(*) AS n_rel_total,
         CAST(SUM(CASE WHEN rnk <= {_AP_K}
                       THEN rel_i * ({_AP_LCM} // rnk) ELSE 0 END) AS BIGINT)
           AS ap_scaled
  FROM rel_ranked GROUP BY q_id
)
SELECT q_id,
       CAST(first_rel_rank AS BIGINT) AS first_rel_rank,
       1.0 / first_rel_rank AS reciprocal_rank,
       n_rel_topk,
       CAST(ap_scaled AS DOUBLE)
         / ({_AP_LCM}.0 * LEAST({_AP_K}, n_rel_total)) AS ap_at_k
FROM per_q
"""


@query(
    "sim_retrieval_mrr_ap",
    oracle=_mrr_ap_oracle(),
    tags=("similarity", "evaluation", "retrieval"),
)
def retrieval_mrr_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _cross_pairs(
        _emb(spark, sf_dir, "vec_id", "label"), F.col("label").alias("q_label")
    )
    scored = pairs.select(
        "q_id",
        "vec_id",
        (F.col("label") == F.col("q_label")).alias("rel"),
        pair_cos("e", "qe", "nrm", "qnrm").alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    ranked = scored.select(
        "q_id", "rel", F.row_number().over(w).alias("rnk")
    ).where(F.col("rel"))
    w_rel = Window.partitionBy("q_id").orderBy("rnk")
    rel_ranked = ranked.select(
        "q_id", "rnk", F.row_number().over(w_rel).alias("rel_i")
    )
    in_k = F.col("rnk") <= _AP_K
    per_q = rel_ranked.groupBy("q_id").agg(
        F.min("rnk").cast("long").alias("first_rel_rank"),
        F.sum(F.when(in_k, 1).otherwise(0)).cast("long").alias("n_rel_topk"),
        F.count(F.lit(1)).alias("n_rel_total"),
        F.sum(
            F.when(
                in_k,
                F.col("rel_i") * (F.lit(_AP_LCM) / F.col("rnk")).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("ap_scaled"),
    )
    return per_q.select(
        "q_id",
        "first_rel_rank",
        (F.lit(1.0) / F.col("first_rel_rank")).alias("reciprocal_rank"),
        "n_rel_topk",
        (
            F.col("ap_scaled").cast("double")
            / (
                F.lit(float(_AP_LCM))
                * F.least(F.lit(_AP_K), F.col("n_rel_total"))
            )
        ).alias("ap_at_k"),
    )


# ---------------------------------------------------------------------------
# PCA power-iteration step (r11): the whitening / dimensionality-reduction
# fit that production vector pipelines run BEFORE building an ANN index
# (OPQ-style rotation fits, covariance whitening) — as one distributed
# matrix-vector step. u = X^T (X v0) for the deterministic seed direction
# v0 = all-ones: each row contributes (x . v0) * x, so the step is a pure
# per-row computation into a 64-group map-side-combinable aggregate (zero
# joins, one shuffle carrying 64 partial rows per task — the Lloyd-chain
# shape). Repeated application converges to the top principal direction of
# the UNCENTERED second-moment matrix; one step is registered (the same
# fixed-horizon reasoning as the PQ chain), with the exact components
# driver-gated.
#
# Exact-arithmetic discipline: components quantize to round(x * 1e6)
# BIGINTs; the row dot and the per-dimension contribution products are
# integer; sums accumulate in DECIMAL(38,0) (the text_tfidf dot
# discipline — products reach ~2.6e14 per row, beyond safe int64 headroom
# at probe scale), so every emitted value is an exact integer identical
# in both engines regardless of partitioning or summation order.
# ---------------------------------------------------------------------------

_PCA_SCALE = 1000000


def _pca_power_oracle() -> str:
    corpus = f"\n  WHERE vec_id >= {_N_QUERIES}"
    return f"""
WITH {_emb_cte(where=corpus)},
q AS (
  SELECT vec_id, g.d AS dim,
         CAST(ROUND(e[g.d] * {_PCA_SCALE}) AS BIGINT) AS xq
  FROM emb CROSS JOIN unnest(generate_series(1, {_PQ_M * _PQ_D})) AS g(d)
),
dots AS (
  SELECT vec_id, CAST(SUM(xq) AS BIGINT) AS dotq FROM q GROUP BY vec_id
)
SELECT q.dim,
       CAST(SUM(CAST(q.xq AS DECIMAL(38,0)) * d.dotq) AS DECIMAL(38,0))
         AS component_q,
       COUNT(*) AS n_vecs
FROM q JOIN dots d ON d.vec_id = q.vec_id
GROUP BY q.dim
"""


@query(
    "sim_pca_power_step",
    oracle=_pca_power_oracle(),
    tags=("similarity", "pca", "training", "linear-algebra"),
)
def pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact power-iteration step u = X^T (X v0), v0 = all-ones, over
    the corpus embeddings: 64 rows of integer-exact (quantized) component
    sums. Per-row dot in whole-stage codegen, one 64-group aggregate."""
    corpus = _emb(spark, sf_dir).filter(F.col("vec_id") >= _N_QUERIES)
    xq = F.expr(
        f"transform(e, x -> cast(round(x * {_PCA_SCALE}) as bigint))"
    )
    dotq = F.expr(
        "aggregate(xq, cast(0 as bigint), (acc, v) -> acc + v)"
    )
    rows = corpus.select(xq.alias("xq")).select("xq", dotq.alias("dotq"))
    ex = rows.select(
        F.posexplode("xq").alias("pos", "x"), F.col("dotq")
    ).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        (F.col("x").cast("decimal(38,0)") * F.col("dotq")).alias("contrib"),
    )
    return ex.groupBy("dim").agg(
        F.sum("contrib").cast("decimal(38,0)").alias("component_q"),
        F.count(F.lit(1)).alias("n_vecs"),
    )
