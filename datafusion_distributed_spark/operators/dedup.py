"""Deduplication operators over the ``documents`` table.

These are the BASELINE.json extensions beyond reference parity (SURVEY.md §0c,
§7 Phase 3): exact dedup, normalized-fingerprint dedup, MinHash+LSH candidate
pairs, and SimHash bucketing — the core of a 100 TB training-data pipeline.

Scale design:
- Exact/normalized dedup: one hash-shuffle on the content hash; map-side
  partial aggregation shrinks the shuffle (same effect as the reference's
  PartialReduce pass, /root/reference/src/distributed_planner/
  partial_reduce_below_network_shuffles.rs:14-96).
- MinHash/SimHash/Jaccard: shingles and tokens live as per-row DISTINCT
  arrays; signatures (array_min), votes (aggregate) and set intersection
  (array_intersect) are all narrow whole-stage-codegen transforms. The ONLY
  shuffles in the whole dedup family are the tiny band-bucket self-join and
  the candidate-pair joins — never an exploded corpus.
- All hashes are md5-based so the DuckDB oracle reproduces them bit-for-bit
  (portable across engines, unlike murmur3/xxhash).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ._util import (
    _fan_out,
    const_exprs,
    kgram_concat_sql,
    release_local_checkpoint,
    slot_local_checkpoint,
    slot_rebuild,
    t,
)
from .registry import query

# MinHash parameters: 8 bands x 2 rows = 16 hash functions.
_N_HASHES = 16
_N_BANDS = 8
_ROWS_PER_BAND = 2

# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on md5(text), keep the minimum doc_id per group.
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
FROM (SELECT doc_id, md5(text) AS content_hash FROM documents) h
GROUP BY content_hash
"""


@query("dd_dedup_exact", oracle=_EXACT_ORACLE, tags=("dedup",))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    return (
        docs.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Normalized-fingerprint dedup (case/punctuation/whitespace-insensitive).
# ---------------------------------------------------------------------------

# NB: DuckDB regexp_replace needs the 'g' flag; Spark replaces all by default.
_NORM_ORACLE = """
SELECT norm_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS norm_hash
  FROM documents
) h
GROUP BY norm_hash
"""


@query("dd_dedup_normalized", oracle=_NORM_ORACLE, tags=("dedup",))
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        docs.select("doc_id", F.md5(norm).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs.
# Pipeline: words → 3-gram shingles (distinct) → 16 portable min-hashes →
# 8 band hashes → self-join on (band_idx, band_hash) → distinct pairs.
# ---------------------------------------------------------------------------


def _shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, sh_arr): the distinct word-3-gram shingle SET as a per-row
    array — zero shuffles (split/transform/array_distinct are all narrow,
    whole-stage-codegen transforms).

    This representation is the scale design: the exploded alternative
    (explode → distinct → groupBy) shuffles the entire shingled corpus —
    round-1 profiling showed that lineage dominating the dedup battery, and
    at 100 TB it is corpus-sized network traffic. Per-row arrays keep
    signature extraction and set intersection local to the row.
    trim() first so the word split never yields empty tokens (keeps
    Spark/DuckDB tokenization equal)."""
    words = _fan_out(docs.select("doc_id", "text"), src=docs).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), " +").alias("w")
    )
    sh_arr = F.expr(
        "array_distinct(transform(sequence(1, size(w) - 2),"
        f" i -> {kgram_concat_sql('w', 'i', 3)}))"
    )
    return words.filter(F.size("w") >= 3).select("doc_id", sh_arr.alias("sh_arr"))


# 16 hash functions from only 4 md5 evaluations per shingle: each salted md5
# yields 32 hex chars, split into 4 disjoint 8-hex (32-bit) sub-hashes.
# Minima over disjoint substrings are still per-function minima (one-
# permutation-hashing style); 4x less hash CPU — the dominant cost of the
# whole dedup family at corpus scale.
_N_SALTS = 4
_SUBS_PER_MD5 = _N_HASHES // _N_SALTS  # 4 sub-hashes x 8 hex chars

_MD5_CONCAT_SQL = " || ".join(f"md5('{j}:' || sh)" for j in range(_N_SALTS))


def _signatures_from_arrays(arrs: DataFrame, n_hashes: int = _N_HASHES) -> DataFrame:
    """Per-doc MinHash signature from a (doc_id, sh_arr) frame:
    sig_i = array_min(substring(concat_of_salted_md5s, 8i+1, 8)).

    Pure per-row computation — NO shuffle (the groupBy-MIN formulation needs
    a corpus-wide hash shuffle; array_min over the per-row shingle set is
    algebraically identical and free). Hex-string minima are portable across
    engines (lowercase hex ⇒ byte order == lexicographic order). The md5
    concat is materialized once per shingle in its own transform so the 16
    substring minima never re-hash."""
    # Constant expressions built ONCE per (SparkContext, n_hashes): the 16
    # array_min(transform(...)) Columns cost ~0.15 s of py4j per frame
    # build, re-paid by every minhash-family invocation (r12 floor probe;
    # the const_exprs note in _util).
    def build():
        salted = " || ".join(
            f"md5(concat('{j}:', s))" for j in range(_N_SALTS)
        )
        mh = F.expr(f"transform(sh_arr, s -> {salted})").alias("mh")

        def sub(i: int):
            # NB: ONE-arg lambda — a second parameter would get the index.
            return lambda m: F.substring(m, 8 * i + 1, 8)

        cols = [
            F.array_min(F.transform(F.col("mh"), sub(i))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
        return mh, cols

    mh, cols = const_exprs(
        arrs.sparkSession, ("minhash_sigs", _N_SALTS, n_hashes), build
    )
    withm = arrs.select("doc_id", mh)
    return withm.select("doc_id", *cols)


def minhash_signatures(docs: DataFrame, n_hashes: int = _N_HASHES) -> DataFrame:
    """Per-doc MinHash signature straight from documents."""
    return _signatures_from_arrays(_shingle_arrays(docs), n_hashes)


def lsh_bands(sigs: DataFrame, n_bands: int = _N_BANDS, rows: int = _ROWS_PER_BAND) -> DataFrame:
    """Explode signatures into (doc_id, band_idx, band_hash) rows."""
    # Constant expression built ONCE per (SparkContext, layout) — the
    # _signatures_from_arrays memoization note.
    band_structs = const_exprs(
        sigs.sparkSession,
        ("lsh_band_structs", n_bands, rows),
        lambda: F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[F.col(f"h{b * rows + r}") for r in range(rows)],
                        )
                    ).alias("band_hash"),
                )
                for b in range(n_bands)
            ]
        ),
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash")
    )


def _minhash_oracle() -> str:
    sig_cols = ",\n    ".join(
        f"MIN(substring(m, {8 * i + 1}, 8)) AS h{i}" for i in range(_N_HASHES)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, md5(h{b * _ROWS_PER_BAND} || '|' || h{b * _ROWS_PER_BAND + 1}) AS band_hash FROM sigs"
        for b in range(_N_BANDS)
    )
    return f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
  FROM words WHERE len(w) >= 3
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM idx
),
mh AS (
  SELECT doc_id, {_MD5_CONCAT_SQL} AS m FROM shingles
),
sigs AS (
  SELECT doc_id,
    {sig_cols}
  FROM mh GROUP BY doc_id
),
bands AS (
{band_selects}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
"""


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs from a (doc_id, band_idx, band_hash) frame:
    equi self-join on the band bucket — shuffles tiny band rows, never the
    corpus (the reference's "only shuffle what co-locates" discipline)."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query("dd_minhash_lsh_pairs", oracle=_minhash_oracle(), tags=("dedup", "minhash"))
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    # Signatures are narrow per-row work (no shuffle), so the self-join's two
    # identical sides cost two pruned scans — and Catalyst's ReuseExchange
    # collapses their identical shuffle subplans into one at execution time.
    # (Persisting the band table was measured SLOWER: it materializes the
    # lineage to the block manager and blocks AQE through the cache.)
    return _band_pairs(lsh_bands(minhash_signatures(docs)))


# ---------------------------------------------------------------------------
# Capped MinHash-LSH: bounded-bucket variant for hostile corpora. A web-scale
# corpus has degenerate band buckets (mass-duplicated boilerplate): an uncapped
# bucket of n docs emits O(n^2) pairs on ONE shuffle key — the classic LSH
# scale-killer. Cap each (band_idx, band_hash) bucket to its first
# _BUCKET_CAP doc_ids (deterministic: ordered by doc_id) so pair output is
# bounded by cap^2/2 per bucket. Duplicates that overflow a bucket are still
# caught by exact dedup (identical docs share md5) — LSH is for NEAR-dups.
# ---------------------------------------------------------------------------

_BUCKET_CAP = 16


def capped_band_pairs(bands: DataFrame, cap: int = _BUCKET_CAP) -> DataFrame:
    """Candidate pairs with a per-bucket membership cap. The row_number window
    shuffles by the same (band_idx, band_hash) key the join uses, so AQE can
    reuse the exchange; output per bucket is <= cap*(cap-1)/2 pairs."""
    w = Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")
    capped = (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    return _band_pairs(capped)


def _minhash_capped_oracle() -> str:
    base = _minhash_oracle()
    head, _, _tail = base.rpartition("SELECT DISTINCT")
    return f"""{head}, ranked AS (
  SELECT doc_id, band_idx, band_hash,
         ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash ORDER BY doc_id) AS rn
  FROM bands
),
capped AS (SELECT doc_id, band_idx, band_hash FROM ranked WHERE rn <= {_BUCKET_CAP})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM capped a
JOIN capped b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
"""


@query(
    "dd_minhash_lsh_pairs_capped",
    oracle=_minhash_capped_oracle(),
    tags=("dedup", "minhash", "scale"),
)
def minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    return capped_band_pairs(lsh_bands(minhash_signatures(docs)))


# ---------------------------------------------------------------------------
# N-gram Jaccard verification of LSH candidates: for each candidate pair,
# exact Jaccard over the same 3-gram shingle sets (integer set sizes =>
# exact double division — engine-portable).
# ---------------------------------------------------------------------------


def _jaccard_oracle() -> str:
    return f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
  FROM words WHERE len(w) >= 3
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM idx
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
mh AS (
  SELECT doc_id, {_MD5_CONCAT_SQL} AS m FROM shingles
),
sigs AS (
  SELECT doc_id,
    {",".join(f"MIN(substring(m, {8 * i + 1}, 8)) AS h{i}" for i in range(_N_HASHES))}
  FROM mh GROUP BY doc_id
),
bands AS (
{chr(10).join(f"  SELECT doc_id, {b} AS band_idx, md5(h{b * _ROWS_PER_BAND} || '|' || h{b * _ROWS_PER_BAND + 1}) AS band_hash FROM sigs" + (" UNION ALL" if b < _N_BANDS - 1 else "") for b in range(_N_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_common) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_common) >= 0.5
"""


@query("dd_ngram_jaccard", oracle=_jaccard_oracle(), tags=("dedup", "jaccard"))
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact Jaccard as per-row SET arithmetic: candidate pairs pull each
    # side's shingle array and intersect locally (array_intersect), so the
    # only shuffled data is the tiny (band bucket) and (pair, array) joins —
    # never an exploded corpus. n_common/sizes over DISTINCT arrays are
    # identical to the oracle's explode+join+count formulation.
    docs = t(spark, sf_dir)["documents"]
    # ONE canonical shingle-array subplan feeds sizes, both intersection
    # sides, and the signatures — Catalyst's ReuseExchange collapses the
    # identical fan-out shuffles into a single materialization.
    arrs = _shingle_arrays(docs)
    cand = _band_pairs(lsh_bands(_signatures_from_arrays(arrs)))
    a = arrs.select(
        F.col("doc_id").alias("_ka"),
        F.col("sh_arr").alias("sa"),
        F.size("sh_arr").alias("n_a"),
    )
    b = arrs.select(
        F.col("doc_id").alias("_kb"),
        F.col("sh_arr").alias("sb"),
        F.size("sh_arr").alias("n_b"),
    )
    n_common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = (
        cand.join(a, F.col("doc_a") == F.col("_ka"))
        .join(b, F.col("doc_b") == F.col("_kb"))
        .select(
            "doc_a",
            "doc_b",
            (
                n_common.cast("double")
                / (F.col("n_a") + F.col("n_b") - n_common)
            ).alias("jaccard"),
        )
    )
    # coalesce() blocks InferFiltersFromConstraints from deriving
    # isnotnull(<whole shingle-array expression>) and pushing that derived
    # filter below the fan-out exchange into the (single-split) scan, where
    # it re-evaluates the entire array pipeline on one core — measured 3x
    # slower. jaccard is never NULL here (inner joins, n_sh >= 1), so the
    # predicate is semantically identical.
    return jac.filter(F.coalesce(F.col("jaccard"), F.lit(-1.0)) >= 0.5).select(
        "doc_a", "doc_b", "jaccard"
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster connected components: near-dup candidate pairs form an
# undirected graph; a dedup pipeline keeps ONE representative per connected
# component (the cluster), not per pair. Spark side: iterative min-label
# propagation (the Pregel/GraphX pattern — Spark has no native transitive
# closure); oracle side: DuckDB WITH RECURSIVE transitive reachability.
#
# Scale design: the loop operates on the PAIR graph, which at 100 TB is
# orders of magnitude smaller than the corpus (only near-dup docs appear).
# Each iteration is one small hash-shuffle join + groupBy-min; lineage is cut
# per iteration with persist() so plans stay constant-size, and convergence
# is detected by a monotone label-sum fixpoint (labels only ever decrease,
# so sum-unchanged <=> converged) — one tiny scalar action per iteration,
# never a data collect. Near-dup clusters from LSH are near-cliques, so
# convergence is typically 2-3 iterations regardless of corpus size.
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 25
# Rounds of plain neighbor-min propagation before the pointer jump engages
# (see the loop comment): > the 2-5 rounds ordinary LSH dup graphs need, so
# the common case never pays the jump join.
_CC_JUMP_AFTER = 6


def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected edge list (doc_a, doc_b).

    Returns (doc_id, cluster_id) for every vertex that appears in an edge,
    where cluster_id = MIN(doc_id) over the vertex's connected component.
    Iterative driver loop with per-iteration persist — the standard Spark
    formulation of an iterative graph algorithm (the reference has no
    iterative operators; this is additive training-pipeline scope)."""
    # localCheckpoint (not persist): each iteration's plan must be CUT, not
    # just cached — Catalyst re-analyzes the full logical tree per iteration,
    # and a persisted-but-uncut lineage doubles the tree every round
    # (measured: iteration time 1.4s -> 19s by iteration 4 at sf0.1 with
    # persist; flat ~0.3s with checkpoint). The checkpointed frames are the
    # PAIR GRAPH (thousands of rows), never the corpus.
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    # Join strategy note (measured): broadcasting the tiny label frames per
    # iteration (turning 3 shuffles into 1) is SLOWER in practice — each
    # broadcast is a driver collect + rebuild on every iteration (A/B at
    # sf0.1: 4.6-5.5s broadcast vs 3.1-3.4s shuffle), while AQE coalesces
    # the tiny shuffles to near-free. Plain shuffle joins also scale
    # unchanged when the pair graph IS huge, so there is no small-graph
    # special case here.
    prev_sum = None
    for it in range(_CC_MAX_ITERS):
        nbr_min = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        lowered = labels.join(
            nbr_min, labels["node"] == nbr_min["dst"], "left"
        ).select(
            labels["node"],
            F.least(labels["lbl"], F.coalesce("nbr_lbl", labels["lbl"])).alias(
                "lbl"
            ),
        )
        # Pointer jump (r8), ADAPTIVE: from round _CC_JUMP_AFTER on, each
        # node also adopts its LABEL's label — label-of-label doubles the
        # propagation horizon every round, so a long-chain graph converges
        # in O(log diameter) rounds instead of O(diameter) (a 300-long
        # near-dup chain — the shape web corpora actually produce —
        # converges in ~13 rounds instead of blowing the 25-round cap at
        # 100 TB; pinned in tests/test_cc_convergence.py). Every label IS
        # a node id, so the jump is a left self-join on the SAME
        # checkpointed frame. The gate exists because the jump join costs
        # ~25 % per round and ordinary LSH dup graphs reach fixpoint in
        # 2-5 plain rounds (measured at sf0.01/sf0.1) — the common case
        # pays nothing, only genuinely deep graphs engage it. Both the
        # plain and combined operators are per-element non-increasing, so
        # the unchanged-sum test certifies a fixpoint in either regime
        # (and a fixpoint of neighbor-min+jump is in particular a
        # neighbor-min fixpoint = min-reachable labels).
        if it >= _CC_JUMP_AFTER:
            ptr = labels.select(
                F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl")
            )
            lowered = lowered.join(
                ptr, lowered["lbl"] == F.col("p_node"), "left"
            ).select(
                lowered["node"],
                F.least(
                    lowered["lbl"], F.coalesce("p_lbl", lowered["lbl"])
                ).alias("lbl"),
            )
        new_labels = lowered.localCheckpoint(eager=True)
        cur_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        # new_labels is materialized (eager checkpoint + the sum action):
        # iteration N-1's blocks are dead state from here — free them now.
        release_local_checkpoint(labels)
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # Diameter > _CC_MAX_ITERS (a long near-dup chain at scale): labels
        # are NOT a fixpoint — returning them silently would mislabel
        # clusters, so fail loudly and let the caller raise the cap.
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge "
            f"within {_CC_MAX_ITERS} iterations (pair graph diameter exceeds "
            f"the cap); raise _CC_MAX_ITERS for this graph"
        )
    # The symmetric edge list is loop-only state; the returned frame depends
    # solely on the final labels checkpoint (which stays cached as the
    # result's backing store — the one block this function's caller owns).
    release_local_checkpoint(sym)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _cc_oracle() -> str:
    """Recursive-CTE transitive closure over the SAME capped candidate pairs:
    every node's cluster_id is the minimum doc_id it can reach."""
    base = _minhash_capped_oracle()
    head, _, _tail = base.rpartition("SELECT DISTINCT")
    head = head.replace("WITH words AS", "WITH RECURSIVE words AS", 1)
    return f"""{head}, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a
  JOIN capped b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
"""


def near_dup_cluster_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared near-dup cluster table (doc_id, cluster_id): minhash ->
    LSH bands -> capped candidate pairs -> connected components,
    re-materialized on EVERY call (consumers: dd_dup_clusters,
    dd_cluster_representatives, ds_leakage_safe_split).

    r13 (VERDICT item 3): this was a build-once slot — first caller built,
    every later same-session call replayed cached blocks, so the consumers'
    bench runs timed a cache read (dd_dup_clusters 0.017 s), not the
    declared computation. A production pipeline DOES materialize this table
    once and fan consumers off it, but the bench contract is that every
    invocation computes from the parquet inputs — so the slot now rebuilds
    per invocation (releasing the previous table's blocks, bounded at one
    block-set). The returned frame is backed by connected_components' final
    eager localCheckpoint, so a consumer referencing it twice in one plan
    replays blocks WITHIN its own invocation only."""

    def build() -> DataFrame:
        docs = t(spark, sf_dir)["documents"]
        pairs = capped_band_pairs(lsh_bands(minhash_signatures(docs))).persist()
        out = connected_components(pairs)
        pairs.unpersist(blocking=False)
        return out

    return slot_rebuild("near_dup_clusters", spark, build)


@query("dd_dup_clusters", oracle=_cc_oracle(), tags=("dedup", "graph", "iterative"))
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the capped MinHash-LSH
    candidate-pair graph. Output (doc_id, cluster_id) lets a pipeline keep
    one representative per cluster (e.g. doc_id == cluster_id)."""
    return near_dup_cluster_table(spark, sf_dir)


# ---------------------------------------------------------------------------
# SimHash (16-bit, portable): per distinct token, md5 hex nibble k votes
# (2*nibble - 15) on bit k; bit set iff the integer vote sum > 0.
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _simhash_oracle() -> str:
    vote_cols = ",\n    ".join(
        f"CAST(SUM(2 * (instr('{_HEX}', substring(md5(tok), {k + 1}, 1)) - 1) - 15) AS BIGINT) AS v{k}"
        for k in range(16)
    )
    bit_expr = " + ".join(f"(CASE WHEN v{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(16))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
  FROM documents
),
votes AS (
  SELECT doc_id,
    {vote_cols}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({bit_expr} AS BIGINT) AS simhash FROM votes
"""


@query("dd_simhash", oracle=_simhash_oracle(), tags=("dedup", "simhash"))
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row formulation: distinct-token array → md5 prefix array → 16
    # integer vote folds, all inside whole-stage codegen with ZERO shuffles
    # (the explode+distinct+groupBy alternative shuffles every token in the
    # corpus). Bit-identical to the oracle's grouped SUM: integer votes over
    # the same distinct token set. Only the first 16 hex digits of each md5
    # vote, so each token keeps them as ONE signed 64-bit integer (conv with
    # a negative target base reads the digits as two's complement) and vote
    # k reads nibble k with a shift and a mask: the folds are interpreted
    # lambdas, and an integer shift per element costs less than the
    # substring + instr string lookup the oracle spells.
    docs = t(spark, sf_dir)["documents"]
    md = _fan_out(docs.select("doc_id", "text"), src=docs).select(
        "doc_id",
        F.expr(
            "transform(array_distinct(split(trim(lower(text)), ' +')),"
            " tok -> cast(conv(substring(md5(tok), 1, 16), 16, -10) AS BIGINT))"
        ).alias("hx"),
    )
    votes = [
        F.expr(
            f"aggregate(hx, 0L, (acc, x) -> acc"
            f" + (2 * ((x >> {4 * (15 - k)}) & 15) - 15))"
        ).alias(f"v{k}")
        for k in range(16)
    ]
    per_doc = md.select("doc_id", *votes)
    bits = None
    for k in range(16):
        term = F.when(F.col(f"v{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    return per_doc.select("doc_id", bits.cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training documents sharing any word-5-gram
# with a held-out eval set (here the deterministic doc_id % 20 == 0 slice).
# The standard pre-training hygiene pass (GPT-3 appendix C / Gopher sec. A.3
# style n-gram overlap decontamination).
#
# Scale design: the eval set is tiny relative to the corpus, so its distinct
# shingle set is the BROADCAST side of both joins — the training corpus is
# never shuffled. The exploded train shingles stream through a broadcast
# hash semi-count, and only the matched (doc_id, shingle) rows — bounded by
# actual contamination — reach the groupBy shuffle. The final join-back of
# per-doc hit counts onto the corpus broadcasts the (small) hits side.
# ---------------------------------------------------------------------------

_DECON_ORACLE = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i
  FROM words WHERE len(w) >= 5
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh FROM idx
),
eval_sh AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0
),
hits AS (
  SELECT s.doc_id, COUNT(*) AS n_eval_shingle_hits
  FROM sh s JOIN eval_sh e USING (sh)
  WHERE s.doc_id % 20 <> 0
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_eval_shingle_hits, 0) AS n_eval_shingle_hits,
       CAST(CASE WHEN COALESCE(h.n_eval_shingle_hits, 0) > 0 THEN 1 ELSE 0 END
            AS INTEGER) AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 20 <> 0
"""


def _shingle5(docs: DataFrame) -> DataFrame:
    """(doc_id, sh_arr) with DISTINCT word-5-gram shingles per row — same
    zero-shuffle per-row-array design as _shingle_arrays, longer n-gram
    (decontamination wants high-precision overlap, dedup wants recall)."""
    words = _fan_out(docs.select("doc_id", "text"), src=docs).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), " +").alias("w")
    )
    sh_arr = F.expr(
        "array_distinct(transform(sequence(1, size(w) - 4),"
        f" i -> {kgram_concat_sql('w', 'i', 5)}))"
    )
    return words.filter(F.size("w") >= 5).select("doc_id", sh_arr.alias("sh_arr"))


@query("dd_decontaminate", oracle=_DECON_ORACLE, tags=("dedup", "decontamination"))
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    is_eval = F.col("doc_id") % 20 == 0
    sh = _shingle5(docs)
    # explode_OUTER, deliberately: plain explode lets Catalyst infer
    # `isnotnull(sh_arr) AND size(sh_arr) > 0`, substitute the whole 5-gram
    # pipeline through the projection aliases, and push that predicate below
    # the fan-out Exchange — re-running the shingle transform (twice) on the
    # single scan split. Measured 3.3s -> 0.8s at sf0.1. outer-explode is
    # semantically identical here: size(w) >= 5 guarantees non-empty arrays.
    eval_sh = (
        sh.filter(is_eval).select(F.explode_outer("sh_arr").alias("sh")).distinct()
    )
    train_sh = sh.filter(~is_eval).select(
        "doc_id", F.explode_outer("sh_arr").alias("sh")
    )
    # Per-row shingle arrays are already distinct, so COUNT(*) of matched
    # exploded rows == number of distinct shared shingles per doc.
    hits = (
        train_sh.join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_eval_shingle_hits"))
    )
    n_hits = F.coalesce(F.col("n_eval_shingle_hits"), F.lit(0).cast("long"))
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            n_hits.alias("n_eval_shingle_hits"),
            F.when(n_hits > 0, F.lit(1)).otherwise(F.lit(0))
            .cast("int")
            .alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Cluster-representative selection: after clustering near-dups, a training
# pipeline keeps ONE document per cluster — the "best" one, not an arbitrary
# one. Representative = greatest n_chars (most content preserved), doc_id as
# the exact tiebreak; both keys are integers, so the choice is bit-portable
# (no double score whose summation order could flip a boundary doc).
#
# Scale shape: the cluster labels come from the pair graph (LSH candidates
# only — a small fraction of the corpus), so the members frame is tiny
# relative to the scan. The labels join carries NO broadcast hint: AQE
# broadcasts it when the label frame is actually small, but at corpus scale
# (billions of near-dup docs) a forced broadcast would be the anti-pattern,
# and the fallback hash join keys only (doc_id, n_chars) — never the text.
# Per-cluster window partitions are near-clique-sized, and nothing here
# touches unclustered docs (singletons keep themselves by definition).
# ---------------------------------------------------------------------------


def _cluster_reps_oracle() -> str:
    base = _cc_oracle()
    head, _, final = base.rpartition("\nSELECT node AS doc_id")
    return f"""{head},
clusters AS (
  SELECT node AS doc_id{final}
),
members AS (
  SELECT d.doc_id, c.cluster_id, d.n_chars
  FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
),
rep_ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM members
)
SELECT cluster_id, doc_id AS rep_doc_id, n_members, n_chars AS rep_chars
FROM rep_ranked WHERE rk = 1
"""


@query(
    "dd_cluster_representatives",
    oracle=_cluster_reps_oracle(),
    tags=("dedup", "graph", "pipeline"),
)
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster: near-dup clusters (capped LSH pairs ->
    connected components) joined back to `documents`, one representative per
    cluster chosen by (n_chars DESC, doc_id). Every cluster here has >= 2
    members (labels only exist for docs that appear in a candidate pair)."""
    docs = t(spark, sf_dir)["documents"]
    clusters = near_dup_cluster_table(spark, sf_dir)
    members = docs.select("doc_id", "n_chars").join(clusters, "doc_id")
    # Cluster size via a map-combinable groupBy, NOT count().over(cluster):
    # a non-rank window function sharing the rank's partition spec would
    # block Spark's WindowGroupLimit rewrite, forcing EVERY member of a
    # cluster through one window task. Split out, the rk == 1 filter plans
    # as Partial+Final WindowGroupLimit — each map task forwards one row
    # per cluster, so a 10^8-member duplicate cluster shuffles
    # #map-partitions rows, not 10^8 (pinned in tests/test_explain.py).
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = members.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("rk"),
    )
    return ranked.where(F.col("rk") == 1).join(sizes, "cluster_id").select(
        "cluster_id",
        F.col("doc_id").alias("rep_doc_id"),
        "n_members",
        F.col("n_chars").alias("rep_chars"),
    )


# ---------------------------------------------------------------------------
# Corpus-wide block-level dedup with document reassembly (the C4 /
# RefinedWeb "remove duplicated lines across the whole corpus" filter —
# a different class from doc-level dedup: the unit is an 8-word block and
# every document is REBUILT from its surviving blocks). The synthetic docs
# carry no newline structure, so the paragraph analogue is a fixed 8-word
# non-overlapping block grid — the operator shape (global first-occurrence
# per block + order-preserving reassembly) is identical to the newline case.
#
# Scale shape: this op is inherently a corpus-wide shuffle on the block hash
# — there is no per-row shortcut, the whole point is cross-document
# structure. The design keeps exactly three shuffles at any scale:
#   blocks --groupBy(block_hash: partial agg map-side)--> keeper table
#   blocks --hash join on block_hash (no broadcast: keeper table is
#           distinct-blocks-sized, corpus-scale)--> kept rows
#   kept   --groupBy(doc_id)--> reassembled docs
# Deliberately groupBy+join, NOT Window.partitionBy(block_hash): a
# boilerplate block repeated 10^8 times (cookie banners) would make one fat
# window partition = one straggler task; the aggregate path partial-
# aggregates those rows map-side, so the skewed key arrives at the reducer
# as near-singleton partials, and AQE skew-join handles the join side.
# First-occurrence = min (doc_id, block_idx) lexicographically, encoded as
# one integer key doc_id*1e6+idx so both engines order identically. The
# encoding caps a single document at 1e6 blocks (8M words, ~40 MB of text)
# before idx bleeds into the doc_id digits — beyond any sane pretraining
# document; widen the multiplier (DECIMAL in both engines) to lift it.
# ---------------------------------------------------------------------------

_BLOCK_W = 8  # words per block


def _block_dedup_oracle(width: int = _BLOCK_W, where: str = "") -> str:
    return f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS w
  FROM documents {where}
),
blocks AS (
  SELECT doc_id, i AS b_idx,
         array_to_string(w[(i*{width}+1):(i*{width}+{width})], ' ') AS block
  FROM words, unnest(generate_series(0, (len(w)-1)//{width})) AS g(i)
  WHERE len(w) >= 1
),
keepers AS (
  SELECT md5(block) AS bh, MIN(doc_id*1000000 + b_idx) AS keep_key
  FROM blocks GROUP BY md5(block)
),
kept AS (
  SELECT b.doc_id, b.b_idx, b.block
  FROM blocks b JOIN keepers k
    ON md5(b.block) = k.bh AND b.doc_id*1000000 + b.b_idx = k.keep_key
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(block, ' ' ORDER BY b_idx)) AS dedup_hash,
         SUM(len(block)) + COUNT(*) - 1 AS dedup_len
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_blocks FROM blocks GROUP BY doc_id
)
SELECT t.doc_id, CAST(t.n_blocks AS BIGINT) AS n_blocks,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(r.dedup_hash, md5('')) AS dedup_hash,
       CAST(COALESCE(r.dedup_len, 0) AS BIGINT) AS dedup_len
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


def block_dedup_frames(docs: DataFrame, width: int = _BLOCK_W) -> DataFrame:
    """Parameterized core of dd_block_dedup (width varies in the randomized
    differential family, tests/test_random_differential.py)."""
    words = _fan_out(docs.select("doc_id", "text"), src=docs).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), " +").alias("w")
    )
    blocks = (
        words.filter(F.size("w") >= 1)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, (size(w)-1) div {width}),"
                    f" b -> concat_ws(' ', slice(w, b*{width}+1, {width})))"
                )
            ).alias("b_idx", "block"),
        )
        .withColumn("bh", F.md5("block"))
        .withColumn(
            "ord_key", F.col("doc_id") * F.lit(1000000) + F.col("b_idx")
        )
    )
    keepers = blocks.groupBy("bh").agg(F.min("ord_key").alias("keep_key"))
    # Every block row survives the join (every bh has a keeper); kept is a
    # flag, not a filter, so ONE doc_id aggregate produces both the
    # before/after counts and the reassembly — no second corpus groupBy +
    # join-back branch.
    flagged = (
        blocks.join(keepers, "bh")
        .withColumn("kept", F.col("ord_key") == F.col("keep_key"))
    )
    kept_blocks = F.expr(
        "transform(array_sort(collect_list(CASE WHEN kept"
        " THEN struct(b_idx, block) END)), s -> s.block)"
    )
    n_kept = F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        n_kept.alias("n_kept"),
        F.md5(F.concat_ws(" ", kept_blocks)).alias("dedup_hash"),
        F.greatest(
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.length("block"))) + n_kept - 1,
                F.lit(0),
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("dedup_len"),
    )


@query("dd_block_dedup", oracle=_block_dedup_oracle(), tags=("dedup", "block", "pipeline"))
def block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global block-level dedup + reassembly: every 8-word block that appears
    anywhere in the corpus survives only at its first occurrence
    (min (doc_id, idx)); each document is rebuilt from its surviving blocks
    in original order. Output per doc: block counts before/after and the
    md5 + length of the rebuilt text (proves the reassembly byte-exactly
    without shipping full texts through the comparator)."""
    return block_dedup_frames(t(spark, sf_dir)["documents"], _BLOCK_W)


# ---------------------------------------------------------------------------
# Cross-modality ensemble verification: MinHash-LSH text candidates scored
# in EMBEDDING space. Production dedup pipelines (e.g. the FineWeb /
# SemDeDup-style stacks) run cheap text LSH for recall, then confirm
# candidates with a semantic signal before dropping documents — the two
# modalities fail differently (LSH catches token-level templates, the
# embedding catches paraphrase). The corpus' doc_id aligns with the
# embedding table's vec_id, so the composition is: band-bucket self-join
# (tiny band rows) -> candidate pairs -> TWO row-lookup joins into the
# embeddings table -> per-pair cosine, all without ever shuffling document
# text or more than |cand| embedding rows. At 100 TB the candidate set is
# LSH-bounded (see capped_band_pairs), so the embedding joins stay
# pair-proportional.
# ---------------------------------------------------------------------------

_ENSEMBLE_TAU = 0.2


def _ensemble_oracle(tau: float = _ENSEMBLE_TAU, cap: int = _BUCKET_CAP) -> str:
    base = _minhash_oracle()
    head, _, _tail = base.rpartition("SELECT DISTINCT")
    return f"""{head}, ranked AS (
  SELECT doc_id, band_idx, band_hash,
         ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash ORDER BY doc_id) AS rn
  FROM bands
),
capped AS (SELECT doc_id, band_idx, band_hash FROM ranked WHERE rn <= {cap}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a
  JOIN capped b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
eflat AS (
  SELECT c.doc_a, c.doc_b, unnest(ea.e) AS av, unnest(eb.e) AS bv
  FROM cand c
  JOIN emb ea ON ea.vec_id = c.doc_a
  JOIN emb eb ON eb.vec_id = c.doc_b
),
scored AS (
  SELECT doc_a, doc_b,
         ROUND(SUM(av * bv) / (SQRT(SUM(av * av)) * SQRT(SUM(bv * bv))), 6)
           AS cos_sim
  FROM eflat GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, cos_sim,
       cos_sim >= {tau} AS semantic_confirmed
FROM scored
ORDER BY doc_a, doc_b
"""


@query(
    "dd_ensemble_semantic_verify",
    oracle=_ensemble_oracle(),
    tags=("dedup", "minhash", "similarity", "ensemble"),
    order_by="doc_a, doc_b",
)
def ensemble_semantic_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ensemble_frames(spark, sf_dir)


def _ensemble_frames(
    spark: SparkSession,
    sf_dir: str,
    tau: float = _ENSEMBLE_TAU,
    cap: int = _BUCKET_CAP,
) -> DataFrame:
    from .similarity import _dot, pair_cos

    docs = t(spark, sf_dir)["documents"]
    emb = t(spark, sf_dir)["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # Capped candidate generation, matching the scale claim in the block
    # comment above: degenerate band buckets are bounded to cap members, so
    # pair output — and therefore the two embedding lookup joins — stays
    # <= cap^2/2 per bucket even on boilerplate-heavy corpora (round-6 fix:
    # this previously used the uncapped _band_pairs while claiming the
    # bound).
    cand = capped_band_pairs(lsh_bands(minhash_signatures(docs)), cap=cap)
    # Per-vector norm computed once at embedding grain (same fold, same
    # order -> bit-identical float to the oracle's per-pair spelling), so
    # pair scoring runs ONE interpreted HOF fold instead of three.
    norm = emb.select("vec_id", "e", F.sqrt(_dot("e", "e")).alias("nrm"))
    a = norm.select(
        F.col("vec_id").alias("doc_a"),
        F.col("e").alias("ae"),
        F.col("nrm").alias("a_nrm"),
    )
    b = norm.select(
        F.col("vec_id").alias("doc_b"),
        F.col("e").alias("be"),
        F.col("nrm").alias("b_nrm"),
    )
    j = cand.join(a, "doc_a").join(b, "doc_b")
    cos = pair_cos()
    return (
        j.select(
            "doc_a",
            "doc_b",
            cos.alias("cos_sim"),
            (cos >= tau).alias("semantic_confirmed"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup spans (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): find every maximal region of a document
# built from k-token windows that occur MORE THAN ONCE anywhere in the
# corpus. Unlike dd_block_dedup's fixed non-overlapping grid, the windows
# here SLIDE one token at a time, so a duplicated passage is detected at any
# alignment, and overlapping duplicated windows are merged into one span per
# contiguous region (the gaps-and-islands interval merge).
#
# Scale design (100 TB): the exploded window set is corpus-sized x doc
# length, so the global duplicate count runs over xxhash64(window) — an
# 8-byte shuffle key with map-side partial aggregation — never the window
# text. Window TEXT is shuffled only for the hash-duplicate CANDIDATES
# (output-bounded: the duplicated fraction of the corpus), where a second
# group-by-text pass eliminates hash collisions exactly — the same
# hash-for-recall / verify-for-precision split as the MinHash->Jaccard
# family above. The interval merge shuffles only candidate spans keyed by
# doc_id. The oracle skips the hash prefilter (groups by text directly) —
# legal because the verify pass makes the hashed plan text-exact.
# ---------------------------------------------------------------------------

_SPAN_W = 8  # window length in tokens


def _substring_spans_oracle(k: int = _SPAN_W, where: str = "") -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS ts
  FROM documents {where}
),
wins AS (
  SELECT doc_id, i AS pos, array_to_string(ts[i:i+{k - 1}], ' ') AS win
  FROM toks, unnest(range(1, greatest(len(ts) - {k - 2}, 1))) AS g(i)
),
dup AS (SELECT win FROM wins GROUP BY win HAVING COUNT(*) > 1),
spans AS (
  SELECT doc_id, pos AS s, pos + {k - 1} AS e
  FROM wins WHERE win IN (SELECT win FROM dup)
),
marked AS (
  SELECT doc_id, s, e,
         CASE WHEN s <= COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 0 ELSE 1 END AS newgrp
  FROM spans
),
grp AS (
  SELECT doc_id, s, e,
         SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY s
             ROWS UNBOUNDED PRECEDING) AS gid
  FROM marked
)
SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
       CAST(MAX(e) AS BIGINT) AS span_end,
       CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, gid
"""


def substring_spans_frames(
    docs: DataFrame, k: int = _SPAN_W, ck_key: str | None = None
) -> DataFrame:
    # r12: conditional fan-out BEFORE the window explode — the bench-scale
    # documents scan is ONE split, so the corpus-scale tokenize + k-window
    # concat + xxhash64 pass ran on a single core (wins noop measured
    # 1.08 s single-task vs ~0.3 s fanned). No-op at corpus scale (scan
    # already well-split); shuffles only (doc_id, text).
    toks = _fan_out(docs.select("doc_id", "text"), src=docs).select(
        "doc_id", F.split(F.trim(F.lower("text")), " +").alias("ts")
    )
    # One row per k-token sliding window; positions are 1-based like the
    # oracle's array slice. All narrow whole-stage-codegen HOFs.
    wins = (
        toks.where(F.size("ts") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(ts) - {k}),"
                    f" i -> {kgram_concat_sql('ts', 'i', k, base=0)})"
                )
            ).alias("pos0", "win"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            "win",
            F.xxhash64("win").alias("wh"),
        )
    )
    # Pass 1 — recall: duplicate counts over the 8-byte hash only.
    dup_h = (
        wins.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("wh")
    )
    cand = wins.join(dup_h, "wh").select("doc_id", "pos", "win")
    # r12: `cand` is consumed TWICE below (the dup_w text-regroup AND the
    # spans join), and each lazy consumption re-derived the ENTIRE window
    # explode — the committed plan ran the corpus-scale
    # tokenize+posexplode+concat pass 4x per invocation. The entries pass a
    # slot key to materialize the CANDIDATE set once (localCheckpoint, not
    # persist — §B plan-pollution note); cand is the output-bounded frame
    # (only windows whose hash duplicates anywhere), i.e. exactly the
    # intermediate the scale comment above already bounds — the full window
    # set `wins` is never materialized. ck_key=None (the differential
    # harness) keeps the pure-lazy lineage.
    if ck_key is not None:
        from ._util import slot_local_checkpoint

        cand = slot_local_checkpoint(ck_key, cand)
    # Pass 2 — precision: regroup the (output-bounded) candidates by TEXT,
    # so an xxhash64 collision can never fabricate a duplicate.
    dup_w = (
        cand.groupBy("win")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("win")
    )
    spans = cand.join(dup_w, "win").select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + k - 1).alias("e"),
    )
    # Gaps-and-islands merge: a window starting inside-or-adjacent-to the
    # running max end extends the current span. Positions are unique per
    # doc, so the ordering is total and the islands deterministic.
    by_pos = Window.partitionBy("doc_id").orderBy("s")
    w_prev = by_pos.rowsBetween(Window.unboundedPreceding, -1)
    w_run = by_pos.rowsBetween(Window.unboundedPreceding, 0)
    marked = spans.select(
        "doc_id",
        "s",
        "e",
        F.when(
            F.col("s") <= F.coalesce(F.max("e").over(w_prev), F.lit(-1)) + 1, 0
        )
        .otherwise(1)
        .alias("newgrp"),
    )
    grp = marked.select(
        "doc_id", "s", "e", F.sum("newgrp").over(w_run).alias("gid")
    )
    return (
        grp.groupBy("doc_id", "gid")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
            (F.max("e") - F.min("s") + 1).cast("long").alias("span_tokens"),
        )
        .drop("gid")
    )


@query(
    "dd_substring_spans",
    oracle=_substring_spans_oracle(),
    tags=("dedup", "substring", "spans"),
)
def substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-document spans of corpus-duplicated k-token windows —
    the exact-substring dedup primitive: a cleaning pipeline cuts these
    spans out (or drops docs whose duplicated fraction is high) instead of
    discarding whole near-dup documents."""
    return substring_spans_frames(
        t(spark, sf_dir)["documents"], _SPAN_W, ck_key="dd_substring_spans_cand"
    )


# ---------------------------------------------------------------------------
# Duplicated-fraction document filter: the decision layer a cleaning
# pipeline applies over the substring spans — per document, what fraction
# of its tokens sits inside corpus-duplicated spans, and does the doc
# survive a threshold policy (RefinedWeb/FineWeb drop heavily-duplicated
# pages rather than surgically cutting them). Docs with NO duplicated span
# must appear with fraction 0 and kept=true, hence the left join.
#
# Scale: inherits substring_spans' design (hash-shuffled window counts,
# output-bounded candidates); the only additions are a doc-keyed rollup of
# the (tiny) span set and a left join against the per-row token counts —
# one corpus-scale shuffle on doc_id, skew-free (doc_id is unique).
# ---------------------------------------------------------------------------

_DUP_DOC_TAU = 0.5


def _dup_doc_filter_oracle(k: int = _SPAN_W, tau: float = _DUP_DOC_TAU) -> str:
    return f"""
WITH spans AS ({_substring_spans_oracle(k)}),
tot AS (
  SELECT doc_id,
         len(string_split_regex(trim(lower(text)), ' +')) AS n_tokens
  FROM documents
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(span_tokens) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / t.n_tokens, 6)
         AS dup_fraction,
       (CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / t.n_tokens) < {tau}
         AS kept
FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


def dup_doc_filter_frames(
    docs: DataFrame,
    k: int = _SPAN_W,
    tau: float = _DUP_DOC_TAU,
    ck_key: str | None = None,
) -> DataFrame:
    spans = substring_spans_frames(docs, k, ck_key=ck_key)
    # Non-null text contract: split('') yields [''] (size 1) so empty text
    # is safe, but a NULL text row would produce NULL n_tokens in Spark vs
    # a NULL len() in DuckDB — a silently dropped/NULL row instead of an
    # explicit division guard. The fixture schema declares text NOT NULL;
    # coalesce text to '' in BOTH engines before lifting that contract.
    tot = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), " +"))
        .cast("long")
        .alias("n_tokens"),
    )
    agg = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
    )
    dup = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    # The keep decision compares the UNROUNDED double in both engines (one
    # IEEE division each) — the rounded column is display-grade only.
    frac = dup.cast("double") / F.col("n_tokens")
    return tot.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        dup.alias("dup_tokens"),
        F.round(frac, 6).alias("dup_fraction"),
        (frac < tau).alias("kept"),
    )


@query(
    "dd_dup_doc_filter",
    oracle=_dup_doc_filter_oracle(),
    tags=("dedup", "substring", "filter"),
)
def dup_doc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token fraction over the merged substring
    spans, with the threshold keep/drop verdict a cleaning pipeline
    actually enforces. One row per document, zero-span docs included."""
    return dup_doc_filter_frames(
        t(spark, sf_dir)["documents"], _SPAN_W, ck_key="dd_dup_doc_filter_cand"
    )


# ---------------------------------------------------------------------------
# Incremental-ingest dedup (r11): the PRODUCTION shape the batch-global
# family above doesn't cover — a NEW shard arrives and must be deduplicated
# AGAINST THE EXISTING CORPUS without re-pairing the corpus with itself.
# The new side's bands join the corpus band table (in production a
# maintained index); cost is |new| x bucket-overlap, never corpus x corpus.
# Corpus-side bucket membership is capped (the dd_minhash_lsh_pairs_capped
# bound, deterministic lowest-doc_id members) so one hot band can never
# quadratically explode a batch. Candidates verify with EXACT Jaccard over
# the per-row shingle sets; every arriving doc gets a verdict row (keep
# when its best corpus match is below the 0.5 near-dup threshold),
# including docs with zero candidates.
# ---------------------------------------------------------------------------

_INGEST_MOD = 10   # doc_id % 10 == 0 -> the arriving shard (a 10% "day")
_INGEST_CAP = 128  # corpus-side band-bucket cap


def _ingest_cte_prefix() -> str:
    """Shared WITH-body prefix (words .. bands) for the ingest oracles."""
    sig_cols = ",\n    ".join(
        f"MIN(substring(m, {8 * i + 1}, 8)) AS h{i}" for i in range(_N_HASHES)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, "
        f"md5(h{b * _ROWS_PER_BAND} || '|' || h{b * _ROWS_PER_BAND + 1}) "
        f"AS band_hash FROM sigs"
        for b in range(_N_BANDS)
    )
    return f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
  FROM words WHERE len(w) >= 3
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM idx
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
mh AS (
  SELECT doc_id, {_MD5_CONCAT_SQL} AS m FROM shingles
),
sigs AS (
  SELECT doc_id,
    {sig_cols}
  FROM mh GROUP BY doc_id
),
bands AS (
{band_selects}
)"""


def _ingest_step_ctes(tag: str, new_src: str, index_src: str) -> str:
    """One ingest step as suffixed CTEs: candidates (new x index), exact
    Jaccard, best match, candidate counts."""
    return f"""
cand{tag} AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM {new_src} n JOIN {index_src} o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
),
inter{tag} AS (
  SELECT c.new_id, c.old_id, COUNT(*) AS n_common
  FROM cand{tag} c
  JOIN shingles sn ON sn.doc_id = c.new_id
  JOIN shingles so ON so.doc_id = c.old_id AND so.sh = sn.sh
  GROUP BY c.new_id, c.old_id
),
jac{tag} AS (
  SELECT i.new_id, i.old_id,
         CAST(i.n_common AS DOUBLE)
           / (zn.n_sh + zo.n_sh - i.n_common) AS jaccard
  FROM inter{tag} i
  JOIN sizes zn ON zn.doc_id = i.new_id
  JOIN sizes zo ON zo.doc_id = i.old_id
),
best{tag} AS (
  SELECT new_id, old_id, jaccard FROM (
    SELECT new_id, old_id, jaccard,
           ROW_NUMBER() OVER (PARTITION BY new_id
                              ORDER BY jaccard DESC, old_id) AS rn
    FROM jac{tag}
  ) WHERE rn = 1
),
counts{tag} AS (SELECT new_id, COUNT(*) AS n_candidates FROM jac{tag} GROUP BY new_id)"""


def _ingest_oracle() -> str:
    return f"""{_ingest_cte_prefix()},
new_bands AS (SELECT * FROM bands WHERE doc_id % {_INGEST_MOD} = 0),
old_capped AS (
  SELECT doc_id, band_idx, band_hash FROM (
    SELECT doc_id, band_idx, band_hash,
           ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
                              ORDER BY doc_id) AS rn
    FROM bands WHERE doc_id % {_INGEST_MOD} <> 0
  ) WHERE rn <= {_INGEST_CAP}
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM new_bands n JOIN old_capped o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
),
inter AS (
  SELECT c.new_id, c.old_id, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles sn ON sn.doc_id = c.new_id
  JOIN shingles so ON so.doc_id = c.old_id AND so.sh = sn.sh
  GROUP BY c.new_id, c.old_id
),
jac AS (
  SELECT i.new_id, i.old_id,
         CAST(i.n_common AS DOUBLE)
           / (zn.n_sh + zo.n_sh - i.n_common) AS jaccard
  FROM inter i
  JOIN sizes zn ON zn.doc_id = i.new_id
  JOIN sizes zo ON zo.doc_id = i.old_id
),
best AS (
  SELECT new_id, old_id, jaccard FROM (
    SELECT new_id, old_id, jaccard,
           ROW_NUMBER() OVER (PARTITION BY new_id
                              ORDER BY jaccard DESC, old_id) AS rn
    FROM jac
  ) WHERE rn = 1
),
counts AS (SELECT new_id, COUNT(*) AS n_candidates FROM jac GROUP BY new_id)
SELECT s.doc_id,
       COALESCE(c.n_candidates, 0) AS n_candidates,
       b.old_id AS best_match_id,
       b.jaccard AS best_jaccard,
       CAST(CASE WHEN COALESCE(b.jaccard, 0) >= 0.5 THEN 0 ELSE 1 END
            AS INTEGER) AS keep
FROM sizes s
LEFT JOIN counts c ON c.new_id = s.doc_id
LEFT JOIN best b ON b.new_id = s.doc_id
WHERE s.doc_id % {_INGEST_MOD} = 0
"""


@query(
    "dd_incremental_ingest",
    oracle=_ingest_oracle(),
    tags=("dedup", "minhash", "incremental"),
)
def incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup verdicts for an arriving shard against the existing corpus:
    new-side LSH bands join the (capped) corpus band table, candidates
    verify with exact per-row-set Jaccard, and every arriving document
    (with >= 3 words — the shingling floor both engines share) gets a
    keep/drop row."""
    docs = t(spark, sf_dir)["documents"]
    # Materialize the shingle-set frame and the band table ONCE per
    # invocation (guide §5: reuse beats recompute when the lineage is the
    # md5-signature pipeline): the verdict pipeline consumes arrs three
    # times (both Jaccard sides + the verdict row source) and bands twice
    # (new/old shard filters) — unmaterialized, each consumer re-ran the
    # 16-salted-md5 signature pass (no shared exchange for filters, so
    # ReuseExchange never fires here; measured 5.2 s -> 2.8 s at sf0.1).
    # localCheckpoint, NOT persist: a persisted frame registers with the
    # session CacheManager and silently substitutes into any OTHER query
    # whose plan embeds the same lineage (order-dependent plan pollution —
    # caught by the plan-snapshot suite); checkpoint blocks are invisible
    # to plan matching. In production these ARE materialized tables: the
    # corpus band index is the maintained artifact and the shingle sets
    # ride with the shard.
    arrs = slot_local_checkpoint("dd_ingest_arrs", _shingle_arrays(docs))
    # r13 negative result, recorded: materializing bands pre-partitioned on
    # (band_idx, band_hash) — so the cap window and candidate joins could
    # reuse one exchange (guide §2.4) — does NOT work on Spark 4.1:
    # Dataset.localCheckpoint drops the physical outputPartitioning
    # (LogicalRDD reports UnknownPartitioning(0), verified empirically), so
    # every consumer re-shuffled anyway and the added repartition was a
    # pure extra pass (measured 1.23 -> 1.53 s; reverted). persist() would
    # preserve partitioning but re-introduces the CacheManager plan
    # pollution documented above.
    bands = slot_local_checkpoint(
        "dd_ingest_bands", lsh_bands(_signatures_from_arrays(arrs))
    )
    is_new = F.col("doc_id") % _INGEST_MOD == 0
    new_bands = bands.filter(is_new)
    old_capped = _capped_band_index(bands.filter(~is_new))
    return _ingest_verdicts(
        arrs, new_bands, old_capped, arrs.filter(is_new).select("doc_id")
    )


def _capped_band_index(bands: DataFrame, cap: int = _INGEST_CAP) -> DataFrame:
    """Corpus-side band index with the per-bucket membership cap (ordered
    by doc_id — deterministic in both engines)."""
    w = Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")
    return (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )


def _ingest_verdicts(
    arrs: DataFrame,
    new_bands: DataFrame,
    index_bands: DataFrame,
    new_docs: DataFrame,
) -> DataFrame:
    """Shared ingest-verdict pipeline (r12 refactor, shared by the
    recompute and maintained-index entries): new-side bands x the band
    index -> distinct candidates -> exact-Jaccard verification -> one
    keep/drop row per arriving doc."""
    cand = (
        new_bands.alias("n")
        .join(
            index_bands.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_hash") == F.col("o.band_hash")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("o.doc_id").alias("old_id")
        )
        .distinct()
    )
    an = arrs.select(
        F.col("doc_id").alias("_kn"),
        F.col("sh_arr").alias("sn"),
        F.size("sh_arr").alias("n_n"),
    )
    ao = arrs.select(
        F.col("doc_id").alias("_ko"),
        F.col("sh_arr").alias("so"),
        F.size("sh_arr").alias("n_o"),
    )
    n_common = F.size(F.array_intersect(F.col("sn"), F.col("so")))
    jac = (
        cand.join(an, F.col("new_id") == F.col("_kn"))
        .join(ao, F.col("old_id") == F.col("_ko"))
        .select(
            "new_id",
            "old_id",
            (
                n_common.cast("double")
                / (F.col("n_n") + F.col("n_o") - n_common)
            ).alias("jaccard"),
        )
    )
    # best match AND candidate count from ONE window pass over jac (r12 §F):
    # the separate best-window + counts-groupBy consumed jac twice, re-running
    # the whole candidate+verification lineage per consumer (and, in the
    # maintained entry, the embedded day-1 chain with it). A full-partition
    # COUNT rides the same new_id shuffle the row_number already pays; every
    # new_id in jac has exactly one rn=1 row, so the fused frame carries the
    # identical (best_match_id, best_jaccard, n_candidates) triple.
    wb = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("old_id"))
    wc = Window.partitionBy("new_id")
    best = (
        jac.select(
            "new_id",
            "old_id",
            "jaccard",
            F.row_number().over(wb).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_cand"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "new_id",
            F.col("old_id").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
            F.col("n_cand").alias("n_candidates"),
        )
    )
    return (
        new_docs.join(best, new_docs.doc_id == best.new_id, "left")
        .drop("new_id")
        .select(
            "doc_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
            "best_match_id",
            "best_jaccard",
            F.when(F.coalesce(F.col("best_jaccard"), F.lit(0.0)) >= 0.5, 0)
            .otherwise(1)
            .cast("int")
            .alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# MAINTAINED incremental-ingest index (r12, VERDICT item 6 — the full
# production ingestion loop): dd_incremental_ingest recomputes the corpus
# band table per run; this entry runs TWO arriving shards where the second
# joins the MAINTAINED index — the base band table with shard 1's KEEPERS
# already folded in (exactly what a sinks.merge_upsert of the keeper bands
# onto the persisted index produces; tests/test_maintained_ingest.py proves
# the merge_upsert-persisted index equals the from-scratch rebuild).
# Shards: doc_id % 10 == 1 is day 1, % 10 == 0 is day 2, the rest is the
# standing corpus. A day-2 doc can therefore match a day-1 KEEPER (its
# near-dup was admitted yesterday), and a day-1 near-dup that was DROPPED
# never pollutes the index — the two behaviors a recompute-per-run design
# cannot express.
#
# 100 TB shape: identical to dd_incremental_ingest per step (|new| x
# bucket-overlap candidates, capped index buckets, candidate-proportional
# verification); the index update adds ONE band-table append of keeper
# bands (merge_upsert's key-hash join at persistence time), never a corpus
# x corpus pass. The in-plan composition here re-derives day 1's keepers
# from the same frame — at production scale that arm is the previous run's
# persisted output, which is what the test pins.
# ---------------------------------------------------------------------------


def _maintained_oracle() -> str:
    cap_sql = """
  SELECT doc_id, band_idx, band_hash FROM (
    SELECT doc_id, band_idx, band_hash,
           ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
                              ORDER BY doc_id) AS rn
    FROM {src}
  ) WHERE rn <= {cap}"""
    return f"""{_ingest_cte_prefix()},
base_bands AS (SELECT * FROM bands WHERE doc_id % {_INGEST_MOD} NOT IN (0, 1)),
s1_bands AS (SELECT * FROM bands WHERE doc_id % {_INGEST_MOD} = 1),
s2_bands AS (SELECT * FROM bands WHERE doc_id % {_INGEST_MOD} = 0),
i0 AS ({cap_sql.format(src="base_bands", cap=_INGEST_CAP)}
),{_ingest_step_ctes("1", "s1_bands", "i0")},
keep1 AS (
  SELECT s.doc_id FROM sizes s
  LEFT JOIN best1 b ON b.new_id = s.doc_id
  WHERE s.doc_id % {_INGEST_MOD} = 1 AND COALESCE(b.jaccard, 0) < 0.5
),
i1_src AS (
  SELECT * FROM base_bands
  UNION ALL
  SELECT sb.* FROM s1_bands sb JOIN keep1 k ON k.doc_id = sb.doc_id
),
i1 AS ({cap_sql.format(src="i1_src", cap=_INGEST_CAP)}
),{_ingest_step_ctes("2", "s2_bands", "i1")}
SELECT s.doc_id,
       COALESCE(c.n_candidates, 0) AS n_candidates,
       b.old_id AS best_match_id,
       b.jaccard AS best_jaccard,
       CAST(CASE WHEN COALESCE(b.jaccard, 0) >= 0.5 THEN 0 ELSE 1 END
            AS INTEGER) AS keep,
       CAST(CASE WHEN b.old_id % {_INGEST_MOD} = 1 THEN 1 ELSE 0 END
            AS INTEGER) AS matched_day1
FROM sizes s
LEFT JOIN counts2 c ON c.new_id = s.doc_id
LEFT JOIN best2 b ON b.new_id = s.doc_id
WHERE s.doc_id % {_INGEST_MOD} = 0
"""


def _maintained_index_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(arrs, base_bands, shard1_bands, shard2_bands) for the maintained
    loop — shared by the entry and the merge_upsert equivalence test."""
    docs = t(spark, sf_dir)["documents"]
    arrs = _shingle_arrays(docs)
    bands = lsh_bands(_signatures_from_arrays(arrs))
    m = F.col("doc_id") % _INGEST_MOD
    # Same materialize-once rationale (and same checkpoint-not-persist
    # cache-pollution rule) as dd_incremental_ingest, amplified: the
    # maintained loop consumes bands via FIVE distinct sub-frames (base x2
    # for the two index builds, shard1 x2, shard2) and arrs via five more —
    # unmaterialized, the md5 signature pass ran ~6x per invocation
    # (measured 14.8 s -> 5.7 s at sf0.1; the index/keeper arms are
    # persisted tables in the production loop this entry models).
    arrs = slot_local_checkpoint("dd_maint_arrs", arrs)
    bands = slot_local_checkpoint("dd_maint_bands", bands)
    return (
        arrs,
        bands.filter(~m.isin(0, 1)),
        bands.filter(m == 1),
        bands.filter(m == 0),
    )


def _day1_keeper_bands(
    arrs: DataFrame, base_bands: DataFrame, s1_bands: DataFrame
) -> DataFrame:
    """Shard 1's keeper bands: day 1 verdicts against the base index, near
    dups dropped."""
    v1 = _ingest_verdicts(
        arrs,
        s1_bands,
        _capped_band_index(base_bands),
        arrs.filter(F.col("doc_id") % _INGEST_MOD == 1).select("doc_id"),
    )
    keep1 = v1.filter(F.col("keep") == 1).select("doc_id")
    return s1_bands.join(keep1, "doc_id", "left_semi")


@query(
    "dd_maintained_ingest",
    oracle=_maintained_oracle(),
    tags=("dedup", "minhash", "incremental", "maintained-index"),
)
def maintained_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 near-dup verdicts against the MAINTAINED band index (base
    corpus + day-1 keepers): each arriving doc reports its candidate
    count, best match (which may be a day-1 keeper — matched_day1), and
    keep/drop verdict."""
    arrs, base_bands, s1_bands, s2_bands = _maintained_index_frames(
        spark, sf_dir
    )
    i1 = _capped_band_index(
        base_bands.unionByName(_day1_keeper_bands(arrs, base_bands, s1_bands))
    )
    v2 = _ingest_verdicts(
        arrs,
        s2_bands,
        i1,
        arrs.filter(F.col("doc_id") % _INGEST_MOD == 0).select("doc_id"),
    )
    return v2.withColumn(
        "matched_day1",
        F.when(F.col("best_match_id") % _INGEST_MOD == 1, 1)
        .otherwise(0)
        .cast("int"),
    )
