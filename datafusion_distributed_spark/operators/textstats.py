"""Text-analysis operators over the ``documents`` table (BASELINE.json
extensions, SURVEY.md §7 Phase 3): token counting, quality scoring,
language-ID heuristics, document fingerprinting.

All hot-path expressions are JVM built-ins (split/regexp/length) — no Python
UDFs — so they stay inside whole-stage codegen and scale linearly with input
(each query is scan → narrow projections → one hash aggregate).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..engine import memo
from ._util import (
    _fan_out,
    dbl,
    kgram_concat_sql,
    slot_local_checkpoint,
    slot_persist,
    t,
)
from .registry import query

# Spark: split(trim(lower(text)), ' +')  <=>  DuckDB: string_split_regex(...)
_TOK_SQL = "string_split_regex(trim(lower(text)), ' +')"


# ---------------------------------------------------------------------------
# Token statistics per (lang, source).
# ---------------------------------------------------------------------------

_TOKENS_ORACLE = f"""
SELECT lang, source, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS chars_per_token
FROM (
  SELECT lang, source, n_chars, CAST(len({_TOK_SQL}) AS INTEGER) AS n_tokens
  FROM documents
) d
GROUP BY lang, source
"""


@query("text_token_stats", oracle=_TOKENS_ORACLE, tags=("text",))
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    n_tokens = F.size(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("n_tokens")
    return (
        docs.select("lang", "source", "n_chars", n_tokens)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (dbl(F.sum("n_chars")) / F.sum("n_tokens")).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# Quality scoring: length score + stopword ratio + long-token ratio, bucketed.
# Ratios are integer/integer divisions in double => engine-portable.
# ---------------------------------------------------------------------------

_STOPWORDS_RE = r"\b(the|and|of|to|a|in|is|it|for|on)\b"

_QUALITY_ORACLE = f"""
SELECT quality_bucket, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT n_chars,
    CAST(FLOOR(
      10.0 * (
        0.5 * LEAST(CAST(len({_TOK_SQL}) AS DOUBLE) / 100.0, 1.0)
      + 0.5 * LEAST(3.0 * CAST(len(regexp_extract_all(lower(text), '{_STOPWORDS_RE}')) AS DOUBLE)
                    / len({_TOK_SQL}), 1.0)
      )) AS INTEGER) AS quality_bucket
  FROM documents
) q
GROUP BY quality_bucket
"""


@query("text_quality_score", oracle=_QUALITY_ORACLE, tags=("text",))
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    n_tokens = F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
    n_stop = F.regexp_count(F.lower(F.col("text")), F.lit(_STOPWORDS_RE))
    length_score = F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
    stop_score = F.least(3.0 * n_stop.cast("double") / n_tokens, F.lit(1.0))
    # floor (not cast) — Spark's double->int cast truncates toward zero while
    # DuckDB's CAST rounds; FLOOR agrees in both engines.
    bucket = F.floor(10.0 * (0.5 * length_score + 0.5 * stop_score)).cast("int")
    return (
        docs.select("n_chars", bucket.alias("quality_bucket"))
        .groupBy("quality_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: marker-token votes with deterministic argmax; the
# confusion matrix vs the labeled ``lang`` column is the output.
# ---------------------------------------------------------------------------

_MARKERS = {
    "en": r"\b(the|and|is|of)\b",
    "de": r"\b(der|die|das|und)\b",
    "es": r"\b(el|la|los|de)\b",
}

_LANGID_ORACLE = f"""
SELECT lang, predicted, COUNT(*) AS n_docs
FROM (
  SELECT lang,
    CASE
      WHEN s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
      WHEN s_de >= s_es AND s_de > 0 THEN 'de'
      WHEN s_es > 0 THEN 'es'
      ELSE 'unknown'
    END AS predicted
  FROM (
    SELECT lang,
      len(regexp_extract_all(lower(text), '{_MARKERS["en"]}')) AS s_en,
      len(regexp_extract_all(lower(text), '{_MARKERS["de"]}')) AS s_de,
      len(regexp_extract_all(lower(text), '{_MARKERS["es"]}')) AS s_es
    FROM documents
  ) scores
) pred
GROUP BY lang, predicted
"""


@query("text_langid_confusion", oracle=_LANGID_ORACLE, tags=("text", "langid"))
def langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    lower = F.lower(F.col("text"))
    s = {k: F.regexp_count(lower, F.lit(v)) for k, v in _MARKERS.items()}
    predicted = (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] > 0), "en")
        .when((s["de"] >= s["es"]) & (s["de"] > 0), "de")
        .when(s["es"] > 0, "es")
        .otherwise("unknown")
    )
    return (
        docs.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Document fingerprint (OpenRefine-style): md5 over the sorted distinct token
# set — whitespace/order/duplication-insensitive canonical identity.
# ---------------------------------------------------------------------------

_FPRINT_ORACLE = f"""
SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct({_TOK_SQL})), ' ')) AS fingerprint
  FROM documents
) f
GROUP BY fingerprint
"""


@query("text_fingerprint_groups", oracle=_FPRINT_ORACLE, tags=("text", "dedup"))
def fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition/quality filters (Rae et al. 2021 §A1.1, public):
# per-doc word count, mean word length, duplicate-3-gram fraction, and
# top-word fraction, each against a fixed threshold; output is the per-lang
# pass/fail breakdown with per-criterion failure counts.
#
# Scale design: every metric is per-row array algebra over the token array
# (size / array_distinct / transform / filter) — whole-stage codegen, zero
# shuffles before the final tiny per-lang aggregate. The double ratios are
# single divisions of exact integers, so both engines compute bit-identical
# IEEE values and the threshold comparisons agree.
# ---------------------------------------------------------------------------

_G_MIN_WORDS = 30
_G_MAX_DUP3 = 0.005  # duplicate-3-gram fraction
_G_MAX_TOPW = 0.11  # most-frequent-word fraction

_GOPHER_ORACLE = f"""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN ok_len AND ok_dup3 AND ok_topw THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
  CAST(SUM(CASE WHEN NOT ok_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
  CAST(SUM(CASE WHEN NOT ok_dup3 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_dup3,
  CAST(SUM(CASE WHEN NOT ok_topw THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_topw
FROM (
  SELECT lang,
    n_words >= {_G_MIN_WORDS} AS ok_len,
    (CASE WHEN n_words >= 3 THEN
       1.0 - CAST(n_dist3 AS DOUBLE) / (n_words - 2)
     ELSE 0.0 END) <= {_G_MAX_DUP3} AS ok_dup3,
    CAST(top_cnt AS DOUBLE) / n_words <= {_G_MAX_TOPW} AS ok_topw
  FROM (
    SELECT lang, len(w) AS n_words,
      CASE WHEN len(w) >= 3 THEN
        len(list_distinct(list_transform(generate_series(1, len(w) - 2),
                                         i -> array_to_string(w[i:i+2], ' '))))
      ELSE 0 END AS n_dist3,
      list_max(list_transform(list_distinct(w),
                              x -> len(list_filter(w, y -> y = x)))) AS top_cnt
    FROM (SELECT lang, {_TOK_SQL} AS w FROM documents) tok
  ) m
) flags
GROUP BY lang
"""


@query("text_gopher_filters", oracle=_GOPHER_ORACLE, tags=("text", "quality"))
def gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    w = F.split(F.trim(F.lower(F.col("text"))), " +")
    # The per-doc metrics are ~100 us/doc of interpreted HOF work, but the
    # fixture corpus arrives as ONE scan split (594 KB parquet) — the whole
    # per-row stage ran on a single core. Conditional fan-out (no-op once
    # the scan is well-split, i.e. at corpus scale) spreads it across the
    # executor: measured 0.79 -> 0.50 s p50 at sf0.1 (r12). Every per-lang
    # aggregate below is an exact integer sum — partition order can't
    # change the result.
    base = _fan_out(docs.select("lang", "text"), src=docs).select(
        "lang", w.alias("w")
    )
    n_words = F.size("w")
    # NB: guard BEFORE building sequence(1, n-2) — Spark's sequence() runs
    # DESCENDING when stop < start (so sequence(1, 0) = [1, 0], not empty).
    n_dist3 = F.when(
        n_words >= 3,
        F.size(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(w) - 2),"
                    f" i -> {kgram_concat_sql('w', 'i', 3)})"
                )
            )
        ),
    ).otherwise(F.lit(0))
    # Most-frequent-word count as a sorted run-length max: sort once
    # (O(n log n)) then a single linear fold tracking the current and best
    # run. The transform(array_distinct(w), x -> size(filter(w, ...)))
    # spelling is O(distinct × length) per row — quadratic on long documents
    # (the same pattern removed from text_vocab_topk in round 3).
    top_cnt = F.expr(
        "aggregate(array_sort(w),"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x <=> acc.prev, acc.run + 1, 1),"
        "   'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))),"
        " acc -> acc.best)"
    )
    m = base.select(
        "lang",
        n_words.alias("n_words"),
        n_dist3.alias("n_dist3"),
        top_cnt.alias("top_cnt"),
    )
    dup3 = F.when(
        F.col("n_words") >= 3,
        F.lit(1.0) - F.col("n_dist3").cast("double") / (F.col("n_words") - 2),
    ).otherwise(F.lit(0.0))
    flags = m.select(
        "lang",
        (F.col("n_words") >= _G_MIN_WORDS).alias("ok_len"),
        (dup3 <= _G_MAX_DUP3).alias("ok_dup3"),
        (F.col("top_cnt").cast("double") / F.col("n_words") <= _G_MAX_TOPW).alias(
            "ok_topw"
        ),
    )
    as_int = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(as_int(F.col("ok_len") & F.col("ok_dup3") & F.col("ok_topw")))
        .cast("bigint")
        .alias("n_pass"),
        F.sum(as_int(~F.col("ok_len"))).cast("bigint").alias("n_fail_len"),
        F.sum(as_int(~F.col("ok_dup3"))).cast("bigint").alias("n_fail_dup3"),
        F.sum(as_int(~F.col("ok_topw"))).cast("bigint").alias("n_fail_topw"),
    )


# ---------------------------------------------------------------------------
# BPE-ish subword token counting: a GPT-2-style pre-tokenizer regex
# (letter runs / digit runs / punctuation runs, each with an optional leading
# space). Counting is a pure regexp_extract_all length — JVM-side in Spark,
# RE2 in DuckDB; the pattern uses only constructs both dialects treat
# identically (no lookaround, no backrefs).
# ---------------------------------------------------------------------------

_BPE_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

_BPE_ORACLE = f"""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
  CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
  CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) AS bpe_per_word
FROM (
  SELECT lang,
    CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS INTEGER) AS n_bpe,
    CAST(len({_TOK_SQL}) AS INTEGER) AS n_ws
  FROM documents
) d
GROUP BY lang
"""


@query("text_bpe_token_stats", oracle=_BPE_ORACLE, tags=("text", "tokenizer"))
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    n_bpe = F.size(
        F.expr(f"regexp_extract_all(lower(text), '{_BPE_RE}', 0)")
    ).alias("n_bpe")
    n_ws = F.size(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("n_ws")
    return (
        docs.select("lang", n_bpe, n_ws)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
            F.sum("n_ws").cast("bigint").alias("total_ws_tokens"),
            (dbl(F.sum("n_bpe")) / F.sum("n_ws")).alias("bpe_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# Training-sequence packing: the "concatenate then chop into fixed-length
# blocks" bookkeeping every LLM pre-training pipeline runs before batching.
# Documents are streamed in deterministic (source, shard, doc_id) order;
# each doc records the token offset where it starts, which training
# sequence (of _PACK_LEN tokens) that offset falls in, and the offset
# within that sequence.
#
# Scale design: the running-sum window partitions by (source, shard) where
# shard = doc_id % _PACK_SHARDS — shard count is a knob that bounds
# per-partition sort size, so at 100 TB you raise _PACK_SHARDS and every
# window partition stays executor-sized (packing semantics are unchanged:
# any deterministic document order is a valid packing order). One shuffle
# total (the window's hash partition + in-partition sort).
# ---------------------------------------------------------------------------

_PACK_LEN = 256
_PACK_SHARDS = 4

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS offset_tokens
  FROM toks
)
SELECT doc_id, source, n_tokens, offset_tokens,
       CAST(FLOOR(CAST(offset_tokens AS DOUBLE) / {_PACK_LEN}.0) AS BIGINT)
         AS seq_id,
       offset_tokens % {_PACK_LEN} AS offset_in_seq
FROM packed
"""


@query("text_pack_sequences", oracle=_PACK_ORACLE, tags=("text", "packing"))
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    packed = toks.select("doc_id", "source", "n_tokens", offset.alias("offset_tokens"))
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        "offset_tokens",
        F.floor(F.col("offset_tokens").cast("double") / float(_PACK_LEN))
        .cast("long")
        .alias("seq_id"),
        (F.col("offset_tokens") % _PACK_LEN).alias("offset_in_seq"),
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate phrase mining: word 3-grams appearing in many
# DISTINCT documents (repeated headers/footers/templates — the phrases an
# LLM-corpus cleaner strips before training). The shingle fan-out is a
# narrow per-row array transform (zero shuffle); the only exchange is the
# final phrase aggregate, and COUNT(DISTINCT doc_id) partial-aggregates
# map-side, so a phrase occurring in billions of docs never concentrates
# raw rows on one reducer beyond its distinct pre-aggregated keys.
# ---------------------------------------------------------------------------

_PHRASE_N = 3  # words per shingle
_PHRASE_MIN_DOCS = 3  # boilerplate threshold
_PHRASE_TOPK = 20

_BOILERPLATE_ORACLE = f"""
WITH words AS (
  SELECT doc_id, {_TOK_SQL} AS w FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(w) - {_PHRASE_N - 2}),
           i -> array_to_string(w[i:i + {_PHRASE_N - 1}], ' ')))) AS phrase
  FROM words
)
SELECT phrase, COUNT(DISTINCT doc_id) AS n_docs
FROM grams
GROUP BY phrase
HAVING COUNT(DISTINCT doc_id) >= {_PHRASE_MIN_DOCS}
ORDER BY n_docs DESC, phrase
LIMIT {_PHRASE_TOPK}
"""


@query(
    "text_boilerplate_phrases",
    oracle=_BOILERPLATE_ORACLE,
    tags=("text", "boilerplate"),
    order_by="n_docs DESC, phrase",
)
def boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    # Materialize the word array in its OWN projection: referencing the raw
    # split(...) expression from inside the transform lambda would inline it
    # into the lambda body, re-splitting the text once per array element
    # (O(n^2) per doc — measured 3.2s -> 0.6s at sf0.1). With `w` an
    # attribute referenced 3x (non-cheap, multi-use), CollapseProject keeps
    # the projection separate and the split runs once per row.
    # r12: conditional fan-out — the O(n^2)-per-doc phrase derivation below
    # ran on ONE core off the single-split bench-scale scan (same move and
    # rationale as gopher_filters above; no-op at corpus scale).
    wordsdf = _fan_out(docs.select("doc_id", "text"), src=docs).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), " +").alias("w")
    )
    w = F.col("w")
    n = F.size(w)
    # sequence(1, n-2) must not be built with start > stop (Spark would step
    # BACKWARDS, yielding [1, 0, ...]); short docs get an empty gram list.
    grams = F.when(
        n >= _PHRASE_N,
        F.expr(
            f"transform(sequence(1, size(w) - {_PHRASE_N - 1}),"
            f" i -> {kgram_concat_sql('w', 'i', _PHRASE_N)})"
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = wordsdf.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("phrase")
    )
    return (
        exploded.groupBy("phrase")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= _PHRASE_MIN_DOCS)
        .orderBy(F.desc("n_docs"), "phrase")
        .limit(_PHRASE_TOPK)
    )


# ---------------------------------------------------------------------------
# Token-window chunking (embedding/pretraining preprocessing): each document
# splits into overlapping windows of _CHUNK_SIZE tokens at _CHUNK_STRIDE
# steps — the standard "chunk for embedding" fan-out. The explode is a
# narrow per-row sequence (no shuffle); chunk count and lengths are pure
# integer arithmetic, so the one aggregate is the only exchange. A 100 TB
# corpus fans out ~size/stride rows per doc with zero data movement
# before the per-source rollup.
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, CAST(len({_TOK_SQL}) AS BIGINT) AS n FROM documents
),
chunks AS (
  SELECT doc_id, source, n,
         unnest(range(0, CAST(FLOOR((n - 1) / {_CHUNK_STRIDE}.0) AS BIGINT) + 1))
           AS cid
  FROM toks
)
SELECT source, COUNT(*) AS n_chunks,
       CAST(SUM(LEAST({_CHUNK_SIZE}, n - cid * {_CHUNK_STRIDE})) AS BIGINT)
         AS chunk_tokens,
       CAST(SUM(LEAST({_CHUNK_SIZE}, n - cid * {_CHUNK_STRIDE})) AS DOUBLE)
         / COUNT(*) AS avg_chunk_len
FROM chunks
GROUP BY source
ORDER BY source
"""


@query(
    "text_chunk_windows",
    oracle=_CHUNK_ORACLE,
    tags=("text", "chunking"),
    order_by="source",
)
def chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.lower(F.col("text"))), " +")).cast("long").alias("n"),
    )
    chunks = toks.select(
        "source",
        "n",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.col("n") - 1) / float(_CHUNK_STRIDE)).cast("long"),
            )
        ).alias("cid"),
    )
    clen = F.least(F.lit(_CHUNK_SIZE).cast("long"), F.col("n") - F.col("cid") * _CHUNK_STRIDE)
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(clen).cast("long").alias("chunk_tokens"),
            (F.sum(clen).cast("double") / F.count(F.lit(1))).alias("avg_chunk_len"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Document-frequency quality score (train-then-score, two passes): pass 1
# aggregates per-token document frequency over the corpus; pass 2 joins the
# (small) df table back onto each document's distinct tokens and scores the
# doc by its MEAN TOKEN DOCUMENT-FREQUENCY — a rarity/commonness filter (the
# IDF-flavored cousin of stopword-ratio quality scoring). The df table is
# vocabulary-sized — and vocabulary GROWS with the corpus under Heaps' law
# (URLs, typos, code identifiers push it to billions of types at web scale),
# so the scoring join deliberately carries NO broadcast hint: it is a plain
# tok-keyed shuffle join and AQE may still broadcast it when the measured df
# table is small (as at test scale). Same discipline as dedup.py's CC labels
# and sampling.py's cluster side. The score is an exact integer sum divided
# once in double (oracle-exact).
# ---------------------------------------------------------------------------

_DF_TOPK = 20

_DOCFREQ_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS tok FROM documents
),
df AS (
  SELECT tok, COUNT(*) AS n_docs FROM toks GROUP BY tok
)
SELECT t.doc_id AS doc_id, COUNT(*) AS n_distinct_toks,
       CAST(SUM(df.n_docs) AS BIGINT) AS df_sum,
       CAST(SUM(df.n_docs) AS DOUBLE) / COUNT(*) AS mean_df
FROM toks t JOIN df ON df.tok = t.tok
GROUP BY t.doc_id
ORDER BY mean_df DESC, doc_id
LIMIT {_DF_TOPK}
"""


@query(
    "text_docfreq_score",
    oracle=_DOCFREQ_ORACLE,
    tags=("text", "quality"),
    order_by="mean_df DESC, doc_id",
)
def docfreq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), " +"))
        ).alias("tok"),
    )
    df_tbl = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_docs"))
    # No broadcast hint: df_tbl is vocabulary-scale (grows with the corpus);
    # AQE decides. See header.
    scored = toks.join(df_tbl, "tok")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_toks"),
            F.sum("n_docs").cast("long").alias("df_sum"),
            (F.sum("n_docs").cast("double") / F.count(F.lit(1))).alias("mean_df"),
        )
        .orderBy(F.desc("mean_df"), "doc_id")
        .limit(_DF_TOPK)
    )


# ---------------------------------------------------------------------------
# PII redaction: scrub emails / IPv4s / phone numbers with built-in regexp
# (JVM codegen — no Python in the row path), reporting per-source counts and
# chars removed. The synthetic corpus carries no PII, so the query INJECTS a
# deterministic email+IP+phone per doc (derived from doc_id, identically in
# both engines) before scrubbing — proving the patterns and the replace
# chain end-to-end. Redaction order (email -> IP -> phone) matters: the
# email's local part contains digits the later patterns must never see.
# At 100 TB this is a pure scan-transform: zero shuffles before the tiny
# per-source aggregate.
# ---------------------------------------------------------------------------

_PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    " || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

_PII_ORACLE = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(aug, '{_PII_EMAIL_RE}'))) AS BIGINT) AS n_emails,
       CAST(SUM(len(regexp_extract_all(aug, '{_PII_IP_RE}'))) AS BIGINT) AS n_ips,
       CAST(SUM(len(regexp_extract_all(aug, '{_PII_PHONE_RE}'))) AS BIGINT) AS n_phones,
       CAST(SUM(len(aug) - len(
         regexp_replace(regexp_replace(regexp_replace(aug,
           '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PII_IP_RE}', '<IP>', 'g'),
           '{_PII_PHONE_RE}', '<PHONE>', 'g'))) AS BIGINT) AS chars_removed
FROM (SELECT source, {_PII_AUG_SQL} AS aug FROM documents) p
GROUP BY source
"""


@query("text_pii_redact", oracle=_PII_ORACLE, tags=("text", "pii"))
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Six regex passes per doc over a one-split scan: same single-core
    # hazard (and same conditional fan-out fix) as gopher_filters above;
    # per-source sums are exact integers, so order is immaterial.
    tbl = t(spark, sf_dir)["documents"]
    docs = _fan_out(tbl.select("source", "doc_id", "text"), src=tbl)
    doc_id = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        doc_id.cast("string"),
        F.lit("@example.com from 10.0."),
        (doc_id % 256).cast("string"),
        F.lit(".7 call 555-"),
        F.lpad((doc_id % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((doc_id % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), _PII_EMAIL_RE, "<EMAIL>"),
            _PII_IP_RE,
            "<IP>",
        ),
        _PII_PHONE_RE,
        "<PHONE>",
    )
    return (
        docs.select("source", aug.alias("aug"))
        .select(
            "source",
            F.regexp_count(F.col("aug"), F.lit(_PII_EMAIL_RE)).alias("e"),
            F.regexp_count(F.col("aug"), F.lit(_PII_IP_RE)).alias("i"),
            F.regexp_count(F.col("aug"), F.lit(_PII_PHONE_RE)).alias("p"),
            (F.length("aug") - F.length(redacted)).alias("removed"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("e").cast("bigint").alias("n_emails"),
            F.sum("i").cast("bigint").alias("n_ips"),
            F.sum("p").cast("bigint").alias("n_phones"),
            F.sum("removed").cast("bigint").alias("chars_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary top-k: global token frequencies, the primitive under
# tokenizer training / vocab pruning. Scale shape: explode + one aggregate
# carrying a distinct measure — occurrence counts collapse map-side (the
# vocabulary is Zipf-distributed, so the head tokens reduce to one partial
# per partition) and the doc-frequency distinct rides Expand at
# (token, doc) granularity. Ordering (count DESC, token ASC) is exact.
# ---------------------------------------------------------------------------

_VOCAB_K = 30

_VOCAB_ORACLE = f"""
SELECT tok, CAST(SUM(c) AS BIGINT) AS n_occurrences,
       COUNT(*) AS n_docs
FROM (
  SELECT doc_id, u.tok AS tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents) u
  GROUP BY doc_id, u.tok
) per_doc
GROUP BY tok
ORDER BY n_occurrences DESC, tok
LIMIT {_VOCAB_K}
"""


@query(
    "text_vocab_topk",
    oracle=_VOCAB_ORACLE,
    tags=("text", "tokenizer"),
    order_by="n_occurrences DESC, tok",
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    # Linear explode + one aggregate with a distinct measure: occurrence
    # counts collapse map-side (Zipf head), doc counts ride the Expand
    # distinct path at (tok, doc_id) granularity. The rejected alternative
    # — per-row size(filter(w, x = tok)) over the distinct set — is
    # QUADRATIC in document length (10k-token docs -> 2e7 comparisons each)
    # and measured 2x slower even on short docs.
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("tok"),
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("tok"))
        .limit(_VOCAB_K)
    )


# ---------------------------------------------------------------------------
# Inverted-index construction: PHRASE (3-token shingle) -> ordered posting
# list of doc_ids, for the RARE tail of the phrase space (document frequency
# in [2, 10] — head phrases' postings are corpus-sized and belong in a
# different storage tier). Posting lists are emitted as comma-joined sorted
# doc_ids, a canonical string both engines produce byte-identically. Shuffle
# granularity is one row per (doc, distinct shingle); the df-band filter
# runs BEFORE list materialization, so only tail postings are built, and
# each kept list is bounded at 10 ids regardless of corpus size.
#
# Keyed on shingles, not unigrams: the synthetic corpus has a 31-token
# unigram vocabulary whose minimum df already exceeds the band at sf0.01
# (min df 25, growing with the corpus), so a unigram [2,10] band is
# STRUCTURALLY empty at every scale — the r9 vacuous-green finding
# (VERDICT "What's wrong" #2). The 3-shingle space has a real df spread
# (df 1..25 across sf0.001..sf0.1; 6.8k-17k shingles inside the band), the
# same reason the MinHash family fingerprints shingles.
# ---------------------------------------------------------------------------

_POSTINGS_ORACLE = f"""
WITH words AS (
  SELECT doc_id, {_TOK_SQL} AS w FROM documents
),
per_doc AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(1, len(w) - 1),
           i -> array_to_string(w[i:i + 2], ' '))) AS tok
  FROM words
  WHERE len(w) >= 3
),
banded AS (
  SELECT tok FROM per_doc GROUP BY tok HAVING COUNT(*) BETWEEN 2 AND 10
)
SELECT p.tok AS tok, COUNT(*) AS df,
       array_to_string(list_sort(list(p.doc_id)), ',') AS postings
FROM per_doc p
JOIN banded b ON b.tok = p.tok
GROUP BY p.tok
"""


@query("text_inverted_index", oracle=_POSTINGS_ORACLE, tags=("text", "index"))
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    # r12: conditional fan-out — the tokenize + 3-gram explode + distinct
    # ran single-core off the one-split scan (no-op at corpus scale).
    words = _fan_out(docs.select("doc_id", "text"), src=docs).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), " +").alias("w")
    ).filter(F.size("w") >= 3)
    per_doc = words.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(w) - 2),"
                    f" i -> {kgram_concat_sql('w', 'i', 3)})"
                )
            )
        ).alias("tok"),
    )
    banded = (
        per_doc.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(2, 10))
    )
    return (
        per_doc.join(banded, "tok")
        .groupBy("tok", "df")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("doc_id"))).alias(
                "postings"
            )
        )
        .select("tok", "df", "postings")
    )


# ---------------------------------------------------------------------------
# Rare-token-fraction quality filter (unigram-LM proxy): flag documents
# whose OCCURRENCE-level fraction of corpus-rare tokens exceeds a bound —
# the cheap stand-in for perplexity filtering (a doc dominated by tokens the
# corpus barely uses is noise/garble under a unigram model; no ln/exp runs,
# so the score stays engine-exact).
#
# Scale design: rarity is decided by joining token occurrences against the
# FREQUENT head (df*5 >= n_docs), not the rare tail — under Zipf the head
# is small and broadcastable at any corpus size while the tail (and its
# df table) grows with the corpus; a token is rare iff it misses the head
# (LEFT JOIN null). The df aggregate itself is the one inherent
# corpus-scale shuffle (distinct (doc, token) pairs). All ratios are exact
# integer sums cross-multiplied; the single double division happens at
# output.
# ---------------------------------------------------------------------------

_RARE_FLAG_PCT = 20  # flag docs with > 20% rare-token occurrences

_RARE_TOK_ORACLE = f"""
WITH dtok AS (
  SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS tok FROM documents
),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
head AS (
  SELECT tok FROM dtok, nd GROUP BY tok, n_docs
  HAVING COUNT(*) * 5 >= n_docs
),
occ AS (
  SELECT d.doc_id, d.lang, o.tok,
         CASE WHEN h.tok IS NULL THEN 1 ELSE 0 END AS is_rare
  FROM (SELECT doc_id, lang, unnest({_TOK_SQL}) AS tok FROM documents) o
  JOIN documents d ON d.doc_id = o.doc_id
  LEFT JOIN head h ON h.tok = o.tok
),
per_doc AS (
  SELECT doc_id, lang, COUNT(*) AS n_toks,
         CAST(SUM(is_rare) AS BIGINT) AS n_rare
  FROM occ GROUP BY doc_id, lang
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_rare * 100 > {_RARE_FLAG_PCT} * n_toks
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(n_rare) AS BIGINT) AS total_rare,
       CAST(SUM(n_toks) AS BIGINT) AS total_toks,
       CAST(SUM(n_rare) AS DOUBLE) / SUM(n_toks) AS rare_fraction
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


@query(
    "text_rare_token_fraction",
    oracle=_RARE_TOK_ORACLE,
    tags=("text", "quality"),
    order_by="lang",
)
def rare_token_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    w = F.split(F.trim(F.lower(F.col("text"))), " +")
    dtok = docs.select("doc_id", F.explode(F.array_distinct(w)).alias("tok"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))  # 1-row frame, no collect
    head = (
        dtok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(nd))
        .where(F.col("df") * 5 >= F.col("n_docs"))
        .select("tok")
    )
    occ = docs.select("doc_id", "lang", F.explode(w).alias("tok"))
    marked = occ.join(F.broadcast(head.withColumn("in_head", F.lit(1))), "tok", "left")
    per_doc = marked.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum(F.when(F.col("in_head").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_rare"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("n_rare") * 100 > _RARE_FLAG_PCT * F.col("n_toks"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_flagged"),
            F.sum("n_rare").cast("long").alias("total_rare"),
            F.sum("n_toks").cast("long").alias("total_toks"),
            (F.sum("n_rare").cast("double") / F.sum("n_toks")).alias(
                "rare_fraction"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Corpus-slice distribution drift: per-source token-distribution divergence
# from the whole corpus, as total-variation distance — the monitoring op a
# training pipeline runs to detect a source whose content shifted (crawl
# regression, contaminated dump) before it pollutes a mixture.
#
# TV(p_s, q) = 1/2 * sum_t |p_s(t) - q(t)| with p_s(t) = c_st/T_s and
# q(t) = c_t/T. Everything stays exact-integer until one final division:
# |c_st*T - c_t*T_s| is an integer (DECIMAL(38,0) — the products overflow
# BIGINT once corpus token counts pass ~3e9, i.e. immediately at 100 TB),
# absent tokens (c_st = 0, q(t) > 0) contribute T_s*(T - C_s) in closed form
# (C_s = corpus counts summed over the tokens PRESENT in s), so the absent
# (source x token) pairs are never materialized. One double division at the
# end — deterministic regardless of partitioning, so the result is
# hash-portable vs the oracle.
#
# Scale shape: explode -> groupBy(source, token) with map-side combine is
# the only corpus-sized shuffle; everything after operates on the
# vocab x sources frame (token-keyed joins, no per-source windows — a
# groupBy max(struct) picks the top-gap token stat in one pass, no
# row_number over a vocab-sized single-source partition).
# ---------------------------------------------------------------------------

def _drift_oracle(where: str = "") -> str:
    return f"""
WITH st AS (
  SELECT source, t AS token, CAST(COUNT(*) AS DECIMAL(38,0)) AS c_st
  FROM (SELECT source, unnest({_TOK_SQL}) AS t FROM documents {where}) x
  GROUP BY source, t
),
tok AS (
  SELECT token, CAST(SUM(c_st) AS DECIMAL(38,0)) AS c_t FROM st GROUP BY token
),
src AS (
  SELECT source, CAST(SUM(c_st) AS DECIMAL(38,0)) AS t_s,
         COUNT(*) AS vocab_size
  FROM st GROUP BY source
),
tot AS (SELECT CAST(SUM(c_t) AS DECIMAL(38,0)) AS t_all FROM tok),
terms AS (
  SELECT st.source,
         ABS(st.c_st * tot.t_all - tok.c_t * src.t_s) AS gap_num
  FROM st JOIN tok USING (token) JOIN src USING (source) CROSS JOIN tot
),
present AS (
  SELECT source, SUM(gap_num) AS present_num, MAX(gap_num) AS top_gap_num
  FROM terms GROUP BY source
),
cov AS (
  SELECT st.source, CAST(SUM(tok.c_t) AS DECIMAL(38,0)) AS c_s
  FROM st JOIN tok USING (token) GROUP BY st.source
)
SELECT s.source,
       CAST(s.t_s AS BIGINT) AS n_tokens,
       CAST(s.vocab_size AS BIGINT) AS vocab_size,
       CAST(CAST(p.present_num + s.t_s * (tot.t_all - c.c_s) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(2 * s.t_s * tot.t_all AS VARCHAR) AS DOUBLE) AS tv_drift,
       CAST(CAST(p.top_gap_num AS VARCHAR) AS DOUBLE)
         / CAST(CAST(s.t_s * tot.t_all AS VARCHAR) AS DOUBLE) AS top_token_gap
FROM src s JOIN present p USING (source) JOIN cov c USING (source) CROSS JOIN tot
"""


def source_drift_frames(docs: DataFrame) -> DataFrame:
    """Parameterized core of text_source_drift (corpus subsets vary in the
    randomized differential family #14)."""
    dec = "decimal(38,0)"
    # st feeds FOUR branches (c_t/src/terms/cov); without materializing it
    # each branch re-derives the corpus-sized explode+groupBy from the scan
    # (audited: 8 parquet scans in the executed plan). The materialized
    # frame is the AGGREGATED vocab x sources table — tiny relative to the
    # corpus — so this pins the one corpus pass; every branch reads the
    # digest.
    # Slot-owned persist (round-6): the un-slotted persist never released,
    # so every bench-loop / sweep invocation left another digest copy in
    # the block manager — the measured drag behind the driver-tail wobble
    # (interleaved A/B: p50 0.85 s accumulating vs 0.61 s slot-released,
    # with the window-c_t below). No _fan_out here: the corpus pass is one
    # cheap split at this size, and at real scale the scan arrives
    # well-split on its own.
    st = slot_persist(
        "text_source_drift_digest",
        docs.select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast(dec).alias("c_st")),
    )
    # Per-token corpus totals as a WINDOW over the digest instead of a
    # groupBy + equi-join back: one shuffle of the digest by token replaces
    # two exchanges (the tok aggregate and the st-x-tok join), and the
    # window partitions are bounded by |sources| rows per token — never a
    # skew hazard at any vocab size (round-6: the query's cost is AQE stage
    # latency on a tiny digest, so fewer exchanges is the real lever).
    from pyspark.sql import Window

    w_tok = Window.partitionBy("token")
    en = st.withColumn("c_t", F.sum("c_st").over(w_tok).cast(dec))
    src = st.groupBy("source").agg(
        F.sum("c_st").cast(dec).alias("t_s"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    tot = st.agg(F.sum("c_st").cast(dec).alias("t_all"))
    # ONE windowed frame feeds both the gap terms AND the present-token
    # corpus coverage (c_s) — a single per-source aggregate, no second join.
    terms = (
        en.join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "c_t",
            F.abs(
                F.col("c_st") * F.col("t_all") - F.col("c_t") * F.col("t_s")
            ).alias("gap_num"),
        )
    )
    present = terms.groupBy("source").agg(
        F.sum("gap_num").alias("present_num"),
        F.max("gap_num").alias("top_gap_num"),
        F.sum("c_t").cast(dec).alias("c_s"),
    )
    out = src.join(present, "source").crossJoin(F.broadcast(tot))
    num = F.col("present_num") + F.col("t_s") * (F.col("t_all") - F.col("c_s"))
    return out.select(
        "source",
        F.col("t_s").cast("long").alias("n_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        (num.cast("double") / (F.lit(2).cast(dec) * F.col("t_s") * F.col("t_all")).cast("double")).alias("tv_drift"),
        (
            F.col("top_gap_num").cast("double")
            / (F.col("t_s") * F.col("t_all")).cast("double")
        ).alias("top_token_gap"),
    )


@query("text_source_drift", oracle=_drift_oracle(), tags=("text", "drift", "monitoring"))
def source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift vs the full corpus (exact total-
    variation distance, integer-exact numerators, one final double division).
    top_token_gap is the largest single-token |p_s(t) - q(t)| — the "what
    moved" scalar next to the "how much moved" TV distance."""
    return source_drift_frames(t(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# Per-source IQR length-outlier filter — the robust-statistics cleaning step
# (drop truncated fragments and concatenation blobs whose token count falls
# outside [q1 - 1.5*IQR, q3 + 1.5*IQR] of ITS OWN source, not a global
# constant: a code source and a chat source have wildly different length
# regimes, so per-group quantile thresholds are the portable spelling).
#
# Exactness: Spark percentile() and DuckDB quantile_cont() both use linear
# interpolation; quartiles of integer token counts land on dyadic fractions
# (k/4), and 1.5*IQR keeps everything dyadic — the bound comparison is
# bit-identical in both engines, no rounding fence needed.
#
# Scale shape: exact percentile state is per-DISTINCT-value counts (token
# lengths, a bounded domain), not per-row buffers, so the per-source
# aggregate is safe however large the source; thresholds broadcast back and
# the outlier test is a narrow per-row predicate. Two shuffles total (the
# quantile agg + the final audit agg).
# ---------------------------------------------------------------------------

_OUTLIER_ORACLE = f"""
WITH toks AS (
  SELECT source, CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens FROM documents
),
thr AS (
  SELECT source,
         quantile_cont(n_tokens, 0.25) AS q1,
         quantile_cont(n_tokens, 0.75) AS q3
  FROM toks GROUP BY source
),
flagged AS (
  SELECT t.source, t.n_tokens,
         CASE WHEN t.n_tokens < thr.q1 - 1.5 * (thr.q3 - thr.q1) THEN 1 ELSE 0 END AS is_short,
         CASE WHEN t.n_tokens > thr.q3 + 1.5 * (thr.q3 - thr.q1) THEN 1 ELSE 0 END AS is_long
  FROM toks t JOIN thr ON t.source = thr.source
)
SELECT f.source,
       COUNT(*) AS n_docs,
       CAST(SUM(is_short) AS BIGINT) AS n_short_outliers,
       CAST(SUM(is_long) AS BIGINT) AS n_long_outliers,
       CAST(SUM(CASE WHEN is_short = 0 AND is_long = 0 THEN n_tokens ELSE 0 END)
            AS BIGINT) AS kept_tokens,
       CAST(MAX(t2.q1) AS DOUBLE) AS q1,
       CAST(MAX(t2.q3) AS DOUBLE) AS q3
FROM flagged f JOIN thr t2 ON f.source = t2.source
GROUP BY f.source
"""


@query(
    "text_length_outliers",
    oracle=_OUTLIER_ORACLE,
    tags=("text", "quality", "quantile"),
)
def length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    toks = docs.select(
        "source",
        F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
        .cast("long")
        .alias("n_tokens"),
    )
    thr = toks.groupBy("source").agg(
        F.percentile("n_tokens", F.lit(0.25)).alias("q1"),
        F.percentile("n_tokens", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    flagged = toks.join(F.broadcast(thr), "source").select(
        "source",
        "n_tokens",
        "q1",
        "q3",
        F.when(F.col("n_tokens") < F.col("q1") - 1.5 * iqr, 1).otherwise(0).alias("is_short"),
        F.when(F.col("n_tokens") > F.col("q3") + 1.5 * iqr, 1).otherwise(0).alias("is_long"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_short").cast("long").alias("n_short_outliers"),
        F.sum("is_long").cast("long").alias("n_long_outliers"),
        F.sum(
            F.when((F.col("is_short") == 0) & (F.col("is_long") == 0), F.col("n_tokens")).otherwise(0)
        )
        .cast("long")
        .alias("kept_tokens"),
        F.max("q1").cast("double").alias("q1"),
        F.max("q3").cast("double").alias("q3"),
    )


# ---------------------------------------------------------------------------
# BM25 keyword retrieval: score every document against a fixed query-term
# set with the Okapi BM25 formula and return the top-k. The retrieval
# backbone of corpus search / RAG candidate generation.
#
# Scale design (100 TB): each token array is filtered to the query terms
# Q BEFORE the explode, so the (doc_id, dl, tok) tf aggregate — the only
# data-scale shuffle — sees just the matching postings. The corpus stats
# (N, total doc length) and the |Q| document frequencies are ONE 1-row
# aggregate of |Q|+2 map-side-combinable counts, broadcast via cross join:
# a second narrow pass over the text column (the q14/q15 scalar-denominator
# shape), no driver-side collect. df is deliberately NOT a |Q|-row
# aggregate OF the tf table: that branch never reads tf's count, so Spark
# prunes it from the branch's copy of the partial aggregate, the two
# exchanges no longer match, and the tokenize/explode/aggregate pass runs
# twice. Counting df as count_if(array_contains(ws, term)) needs doc_id to
# be a key, which it is of documents. Per-term scores are rounded to
# integer micro-units BEFORE the per-doc sum, so the final aggregate is
# exact integer math — immune to float summation order across partitions
# (the same discipline as the cents columns; see _util.cents).
#
# Reference parity: the reference has no IR surface; this extends the
# text-analysis family (SURVEY.md §2 "training-data pipeline" rows) next to
# text_docfreq_score / the inverted index.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "window", "hash", "join", "vector")
_BM25_TOPK = 20
# k1 = 1.2, b = 0.75; (k1+1) = 2.2, (1-b) = 0.25 written as literals so the
# oracle SQL evaluates the byte-identical double expression.

def _bm25_oracle(terms=_BM25_TERMS, topk=_BM25_TOPK, docs="documents") -> str:
    """``docs`` is the documents relation in DuckDB SQL: the table name or a
    parenthesized, aliased subquery over it."""
    return f"""
WITH w AS (
  SELECT doc_id, {_TOK_SQL} AS ws FROM {docs}
),
tok AS (
  SELECT doc_id, len(ws) AS dl, unnest(ws) AS tok FROM w
),
tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf FROM tok
  WHERE tok IN {tuple(terms)!r}
  GROUP BY doc_id, dl, tok
),
df AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(len(ws)) AS BIGINT) AS total_dl FROM w
),
term AS (
  SELECT t.doc_id,
         CAST(ROUND(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 *
               (CAST(t.dl AS DOUBLE) / (CAST(s.total_dl AS DOUBLE) / s.n_docs)))))
           * 1000000.0, 0) AS BIGINT) AS sm
  FROM tf t JOIN df d USING (tok) CROSS JOIN stats s
)
SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(sm) AS BIGINT) AS score_micro
FROM term GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT {topk}
"""


def bm25_frames(docs: DataFrame, terms=_BM25_TERMS, topk=_BM25_TOPK) -> DataFrame:
    """BM25 subplan over an arbitrary documents frame (also driven by the
    randomized differential family over generated term sets).

    Precondition: ``doc_id`` is a key of ``docs`` (as it is of
    ``documents``). The oracle's df counts the (doc_id, dl) tf groups that
    hold a term; on a keyed frame that is the number of rows whose token
    array contains it, which the 1-row corpus-stats aggregate computes."""
    terms = tuple(terms)
    words = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), " +").alias("ws")
    )
    stats = words.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("ws")).cast("long").alias("total_dl"),
        *[
            F.count_if(F.array_contains("ws", term)).alias(f"df{i}")
            for i, term in enumerate(terms)
        ],
    )
    postings = F.explode(F.filter("ws", lambda w: w.isin(*terms))).alias("tok")
    tf = (
        words.select("doc_id", F.size("ws").alias("dl"), postings)
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = F.when(F.col("tok") == terms[0], F.col("df0"))
    for i in range(1, len(terms)):
        df = df.when(F.col("tok") == terms[i], F.col(f"df{i}"))
    joined = tf.crossJoin(F.broadcast(stats)).withColumn("df", df)
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    tfp = (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl").cast("double") / avgdl))
    )
    scored = joined.select(
        "doc_id", F.round(idf * tfp * 1000000.0, 0).cast("long").alias("sm")
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("sm").cast("long").alias("score_micro"))
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(topk)
    )


@query(
    "text_bm25_topk",
    oracle=_bm25_oracle(),
    tags=("text", "retrieval"),
    order_by="score_micro DESC, doc_id",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_frames(t(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# Unigram-LM surprisal scoring (the CCNet/perplexity-bucket quality filter
# shape): fit a unigram model ON the corpus (token counts), score every
# document by its mean token surprisal -log2 P(tok), and report per-source
# quality buckets. The model-scoring sibling of text_bm25_topk's
# query-scoring — same train-then-score backbone, different statistic.
#
# Exactness discipline: per-token surprisal is rounded to integer
# MICRO-BITS once per vocabulary entry (a |vocab|-row computation), then
# every downstream step is exact integer math — tf-weighted doc totals,
# FLOOR-division doc means, per-source sums — with a single final double
# division. Float summation order can never perturb the result.
#
# Scale: explode → one (doc, tok) hash aggregate (map-combinable), vocab
# aggregate OF that table joined back on tok — vocabulary grows with the
# corpus (Heaps' law), so the score join carries no broadcast hint (AQE
# decides; plain shuffle join is the scale-safe shape). Per-doc and
# per-source aggregates follow. No windows, no second corpus scan (total
# tokens = sum of vocab counts — derived from the vocabulary, not
# re-scanned).
# ---------------------------------------------------------------------------

_SURPRISAL_HI_MICRO = 5_500_000  # docs with mean surprisal above ~5.5 bits


_SURPRISAL_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, source, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, source, unnest({_TOK_SQL}) AS tok FROM documents)
  GROUP BY doc_id, source, tok
),
vocab AS (
  SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY tok
),
tot AS (
  SELECT SUM(cnt) AS n_total FROM vocab
),
scored AS (
  SELECT tok, CAST(ROUND(-log2(CAST(cnt AS DOUBLE) / n_total) * 1000000.0, 0)
              AS BIGINT) AS sbits_micro
  FROM vocab CROSS JOIN tot
),
per_doc AS (
  SELECT t.doc_id, t.source,
         CAST(SUM(t.tf * s.sbits_micro) AS BIGINT) // CAST(SUM(t.tf) AS BIGINT)
           AS mean_micro
  FROM tf t JOIN scored s ON s.tok = t.tok
  GROUP BY t.doc_id, t.source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(mean_micro) AS BIGINT) AS sum_mean_micro,
       CAST(MAX(mean_micro) AS BIGINT) AS max_mean_micro,
       CAST(SUM(CASE WHEN mean_micro > {_SURPRISAL_HI_MICRO} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high_surprisal,
       CAST(SUM(mean_micro) AS DOUBLE) / COUNT(*) AS avg_mean_micro
FROM per_doc
GROUP BY source
ORDER BY source
"""


def _surprisal_doc_frame(docs: DataFrame, group_col: str) -> DataFrame:
    """(doc_id, <group_col>, mean_micro): per-doc mean unigram surprisal in
    exact integer micro-bits — the shared front half of the surprisal
    operators (corpus-fit vocabulary joined back on tok — no broadcast
    hint, vocabulary is corpus-growing — floor-division mean)."""
    # r12: deliberately NOT fanned out (unlike the shingle/spans heads):
    # this frame is consumed multiple times downstream (vocab fit + the
    # per-doc join; perplexity_buckets adds the percentile pass), so an
    # explicit repartition re-runs per consumer, and the bare split+explode
    # is cheap per row. Interleaved entry-level A/B measured the fan-out
    # LOSING: ds_perplexity_buckets 1.28 -> 2.35 s, text_unigram_surprisal
    # 0.93 -> 1.20 s.
    tf = (
        docs.select(
            "doc_id",
            group_col,
            F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("tok"),
        )
        .groupBy("doc_id", group_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("n_total"))
    scored = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(-F.log2(F.col("cnt").cast("double") / F.col("n_total")) * 1000000.0, 0)
        .cast("long")
        .alias("sbits_micro"),
    )
    return (
        # scored is the full unigram vocabulary (corpus-growing); no pinned
        # broadcast — AQE decides.
        tf.join(scored, "tok")
        .groupBy("doc_id", group_col)
        .agg(
            # `div` = exact integer floor division on longs, matching the
            # oracle's `//` bit-for-bit (Spark `/` would be double true
            # division + truncation — double rounding that can flip across
            # an integer boundary once per-doc sums approach 2^31).
            F.expr("sum(tf * sbits_micro) div sum(tf)").alias("mean_micro")
        )
    )


@query(
    "text_unigram_surprisal",
    oracle=_SURPRISAL_ORACLE,
    tags=("text", "quality", "language-model"),
    order_by="source",
)
def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _surprisal_doc_frame(t(spark, sf_dir)["documents"], "source")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("mean_micro").cast("long").alias("sum_mean_micro"),
            F.max("mean_micro").cast("long").alias("max_mean_micro"),
            F.sum(
                F.when(F.col("mean_micro") > _SURPRISAL_HI_MICRO, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_high_surprisal"),
            (F.sum("mean_micro").cast("double") / F.count(F.lit(1))).alias(
                "avg_mean_micro"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Bigram conditional surprisal: fit a bigram LM on the corpus and score
# every document by its mean conditional surprisal -log2 P(w2 | w1). The
# hierarchical sibling of text_unigram_surprisal: the vocabulary aggregate
# feeds TWO statistics — the pair count AND the first-token marginal
# (SUM of pair counts grouped by first token, so the model is exactly
# normalized: sum_w2 P(w2|w1) = 1) — joined back into one scored table.
#
# Exactness discipline (same as unigram): per-bigram surprisal rounded to
# integer MICRO-BITS once per vocabulary entry; every downstream step is
# exact integer math (tf-weighted doc totals, floor-division doc means,
# per-source sums) with one final double division. Docs with fewer than 2
# tokens have no bigrams and drop out of the per-doc table by construction
# on both engines.
#
# Scale: one (doc, bigram) hash aggregate (map-combinable) from an
# array-level zip (no positional self-join); bigram vocab + its first-token
# marginal are vocab-sized aggregates joined back WITHOUT broadcast hints
# (bigram vocabulary grows faster than unigrams; AQE decides); no windows,
# no second corpus scan.
# ---------------------------------------------------------------------------

_BIGRAM_HI_MICRO = 2_500_000  # docs with mean conditional surprisal > ~2.5 bits

_BIGRAM_SQL_DUCK = (
    f"list_transform(range(1, len({_TOK_SQL})), "
    f"i -> {_TOK_SQL}[i] || ' ' || {_TOK_SQL}[i + 1])"
)

_BIGRAM_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, source, bg, COUNT(*) AS tf
  FROM (SELECT doc_id, source, unnest({_BIGRAM_SQL_DUCK}) AS bg FROM documents)
  GROUP BY doc_id, source, bg
),
vocab AS (
  SELECT bg, SUM(tf) AS cnt FROM tf GROUP BY bg
),
firsts AS (
  SELECT split_part(bg, ' ', 1) AS w1, SUM(cnt) AS first_cnt
  FROM vocab GROUP BY 1
),
scored AS (
  SELECT v.bg,
         CAST(ROUND(-log2(CAST(v.cnt AS DOUBLE) / f.first_cnt) * 1000000.0, 0)
              AS BIGINT) AS sbits_micro
  FROM vocab v JOIN firsts f ON f.w1 = split_part(v.bg, ' ', 1)
),
per_doc AS (
  SELECT t.doc_id, t.source,
         CAST(SUM(t.tf * s.sbits_micro) AS BIGINT) // CAST(SUM(t.tf) AS BIGINT)
           AS mean_micro
  FROM tf t JOIN scored s ON s.bg = t.bg
  GROUP BY t.doc_id, t.source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(mean_micro) AS BIGINT) AS sum_mean_micro,
       CAST(MAX(mean_micro) AS BIGINT) AS max_mean_micro,
       CAST(SUM(CASE WHEN mean_micro > {_BIGRAM_HI_MICRO} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_predictable_low,
       CAST(SUM(mean_micro) AS DOUBLE) / COUNT(*) AS avg_mean_micro
FROM per_doc
GROUP BY source
ORDER BY source
"""


@query(
    "text_bigram_surprisal",
    oracle=_BIGRAM_ORACLE,
    tags=("text", "quality", "language-model"),
    order_by="source",
)
def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    # Array-level bigram derivation — indexed-concat spelling (see
    # _util.kgram_concat_sql): the zip_with(slice, slice) form re-sliced two
    # arrays and ran an interpreted lambda per element. The size guard keeps
    # 0/1-token docs at an empty list (sequence() would step BACKWARDS for
    # start > stop), exactly like the old clamped slice.
    # r12: conditional fan-out (single-split scan; no-op at corpus scale).
    words = _fan_out(docs.select("doc_id", "source", "text"), src=docs).select(
        "doc_id", "source", toks.alias("w")
    )
    bigrams = F.when(
        F.size("w") >= 2,
        F.expr(
            "transform(sequence(1, size(w) - 1),"
            f" i -> {kgram_concat_sql('w', 'i', 2)})"
        ),
    ).otherwise(F.array().cast("array<string>"))
    tf = (
        words.select("doc_id", "source", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "source", "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("bg").agg(F.sum("tf").alias("cnt"))
    firsts = vocab.groupBy(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1")
    ).agg(F.sum("cnt").alias("first_cnt"))
    # firsts is the first-word unigram vocabulary (corpus-growing); no
    # pinned broadcast on either vocabulary join here — AQE decides.
    scored = vocab.join(
        firsts,
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w1"),
    ).select(
        "bg",
        F.round(
            -F.log2(F.col("cnt").cast("double") / F.col("first_cnt")) * 1000000.0,
            0,
        )
        .cast("long")
        .alias("sbits_micro"),
    )
    per_doc = (
        tf.join(scored, "bg")
        .groupBy("doc_id", "source")
        .agg(F.expr("sum(tf * sbits_micro) div sum(tf)").alias("mean_micro"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("mean_micro").cast("long").alias("sum_mean_micro"),
            F.max("mean_micro").cast("long").alias("max_mean_micro"),
            F.sum(F.when(F.col("mean_micro") > _BIGRAM_HI_MICRO, 1).otherwise(0))
            .cast("long")
            .alias("n_predictable_low"),
            (F.sum("mean_micro").cast("double") / F.count(F.lit(1))).alias(
                "avg_mean_micro"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Perplexity-bucket corpus filter (the CCNet recipe, Wenzek et al. 2020,
# arXiv:1911.00359 — public): score every document with the corpus-fit LM
# (here the unigram surprisal above), split each LANGUAGE at its own
# quality quantiles into head/middle/tail, keep head+middle. Per-language
# thresholds matter: absolute perplexity is not comparable across
# languages, so a global cut would drop whole low-resource languages.
#
# Exactness: per-doc scores are exact integer micro-bits; the p25/p75
# thresholds interpolate at g in {0,.25,.5,.75} — exact binary fractions
# of integer gaps, so Spark's percentile() and DuckDB's quantile_cont()
# produce bit-identical doubles (the agg_exact_percentiles /
# text_length_outliers discipline) and the bucket comparisons can never
# disagree. Scale: thresholds are a |languages|-row aggregate broadcast
# back; the corpus is never re-shuffled after the per-doc score.
# ---------------------------------------------------------------------------

_PPL_BUCKETS_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, lang, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, lang, unnest({_TOK_SQL}) AS tok FROM documents)
  GROUP BY doc_id, lang, tok
),
vocab AS (
  SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY tok
),
tot AS (
  SELECT SUM(cnt) AS n_total FROM vocab
),
scored AS (
  SELECT tok, CAST(ROUND(-log2(CAST(cnt AS DOUBLE) / n_total) * 1000000.0, 0)
              AS BIGINT) AS sbits_micro
  FROM vocab CROSS JOIN tot
),
per_doc AS (
  SELECT t.doc_id, t.lang,
         CAST(SUM(t.tf * s.sbits_micro) AS BIGINT) // CAST(SUM(t.tf) AS BIGINT)
           AS mean_micro
  FROM tf t JOIN scored s ON s.tok = t.tok
  GROUP BY t.doc_id, t.lang
),
thr AS (
  SELECT lang,
         quantile_cont(CAST(mean_micro AS DOUBLE), 0.25) AS p25,
         quantile_cont(CAST(mean_micro AS DOUBLE), 0.75) AS p75
  FROM per_doc GROUP BY lang
),
bucketed AS (
  SELECT d.lang,
         CASE WHEN d.mean_micro < t.p25 THEN 'head'
              WHEN d.mean_micro > t.p75 THEN 'tail'
              ELSE 'middle' END AS bucket,
         d.mean_micro
  FROM per_doc d JOIN thr t ON t.lang = d.lang
)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(mean_micro) AS BIGINT) AS sum_mean_micro,
       bucket <> 'tail' AS kept
FROM bucketed
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


@query(
    "ds_perplexity_buckets",
    oracle=_PPL_BUCKETS_ORACLE,
    tags=("text", "quality", "sampling", "ccnet"),
    order_by="lang, bucket",
)
def ds_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _surprisal_doc_frame(t(spark, sf_dir)["documents"], "lang")
    thr = per_doc.groupBy("lang").agg(
        F.expr("percentile(CAST(mean_micro AS DOUBLE), 0.25)").alias("p25"),
        F.expr("percentile(CAST(mean_micro AS DOUBLE), 0.75)").alias("p75"),
    )
    bucket = (
        F.when(F.col("mean_micro") < F.col("p25"), "head")
        .when(F.col("mean_micro") > F.col("p75"), "tail")
        .otherwise("middle")
    )
    return (
        per_doc.join(F.broadcast(thr), "lang")
        .select("lang", bucket.alias("bucket"), "mean_micro")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("mean_micro").cast("long").alias("sum_mean_micro"),
        )
        .select(
            "lang", "bucket", "n_docs", "sum_mean_micro",
            (F.col("bucket") != "tail").alias("kept"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Exact sparse TF-IDF cosine all-pairs (the threshold-join family of
# Bayardo/Ma/Srikant 2007 "Scaling Up All Pairs Similarity Search" — public):
# the EXACT sibling of MinHash-LSH — candidate pairs come from a posting
# self-join restricted to DISCRIMINATIVE terms (2 <= df <= maxdf), so the
# fanout per term is bounded by maxdf^2 and boilerplate terms never join.
# Terms are word-3-gram SHINGLES, not unigrams: this corpus's unigram
# vocabulary is ~31 near-uniform-df tokens (no discriminative unigrams —
# measured: one token under any reasonable df ceiling, making every vector
# 1-dimensional), while the shingle space has a real df spread (16k+
# shingles, df 1..7 at sf0.01) — the same reason the MinHash family
# fingerprints shingles. Cosine is computed over the pruned term space on
# BOTH engines (consistent semantics): dot products and norms accumulate
# EXACT integers (micro-scaled idf weights; squares in DECIMAL(38,0) since
# w^2 can top int64), with one final double division per pair.
#
# Scale: explode -> (doc,shingle) aggregate (map-combinable), df/idf is a
# term-grain broadcast, the postings join only touches rare-term rows (at
# web scale the df ceiling is the standard inverted-index prune), and the
# pair aggregate is map-combinable on (doc_a, doc_b).
# ---------------------------------------------------------------------------

_TFIDF_MAX_DF = 20
_TFIDF_TAU = 0.5


def _tfidf_oracle(maxdf: int = _TFIDF_MAX_DF, tau: float = _TFIDF_TAU) -> str:
    return f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
  FROM words WHERE len(w) >= 3
),
tf AS (
  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS tok, COUNT(*) AS tf
  FROM idx GROUP BY doc_id, tok
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
df AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
),
idf AS (
  SELECT tok,
         CAST(ROUND(log2(CAST(n_docs AS DOUBLE) / df) * 1000000.0, 0) AS BIGINT)
           AS idf_micro
  FROM df CROSS JOIN n
  WHERE df BETWEEN 2 AND {maxdf}
),
w AS (
  SELECT t.doc_id, t.tok, CAST(t.tf * i.idf_micro AS BIGINT) AS w
  FROM tf t JOIN idf i ON i.tok = t.tok
),
norms AS (
  SELECT doc_id, SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS n2
  FROM w GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         SUM(CAST(a.w AS DECIMAL(38,0)) * CAST(b.w AS DECIMAL(38,0))) AS dot,
         COUNT(*) AS n_shared
  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT d.doc_a, d.doc_b, d.n_shared,
         ROUND(CAST(d.dot AS DOUBLE)
               / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))), 6)
           AS cos_sim
  FROM dots d
  JOIN norms na ON na.doc_id = d.doc_a
  JOIN norms nb ON nb.doc_id = d.doc_b
)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared, cos_sim
FROM scored
WHERE cos_sim >= {tau}
ORDER BY doc_a, doc_b
"""


@query(
    "text_tfidf_cosine_pairs",
    oracle=_tfidf_oracle(),
    tags=("text", "similarity", "all-pairs", "tfidf"),
    order_by="doc_a, doc_b",
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tfidf_pairs_frames(spark, sf_dir)


def _tfidf_pairs_frames(
    spark: SparkSession,
    sf_dir: str,
    maxdf: int = _TFIDF_MAX_DF,
    tau: float = _TFIDF_TAU,
) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    # r12: conditional fan-out — tokenize + 3-gram shingle explode ran
    # single-core off the one-split scan (no-op at corpus scale).
    words = _fan_out(docs.select("doc_id", "text"), src=docs).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), " +").alias("w")
    ).filter(F.size("w") >= 3)
    shingle = F.expr(
        "explode(transform(sequence(1, size(w) - 2),"
        f" i -> {kgram_concat_sql('w', 'i', 3)}))"
    )
    tf = (
        words.select("doc_id", shingle.alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(2, maxdf))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            F.round(
                F.log2(F.col("n_docs").cast("double") / F.col("df")) * 1000000.0, 0
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    # idf covers every shingle with df in [2, maxdf] — the rare TAIL, the
    # largest vocabulary slice of a real corpus. No pinned broadcast; the
    # tok-keyed shuffle join is the scale-safe shape and AQE may still
    # broadcast at small scale.
    # Materialize the pruned postings ONCE per invocation (r12 §F, the §B
    # slot-checkpoint move): `w` is consumed by THREE sub-frames (norms +
    # both self-join sides) and `tf` by two (idf + w), so the lazy lineage
    # re-ran the scan->explode->tf aggregate 12x per run (12 parquet scans
    # in the pre-change plan; ReuseExchange cannot unify them across the
    # join/agg boundaries). The checkpointed frame is the tiny rare-term
    # postings list (df<=maxdf rows per term) — in production this IS the
    # materialized inverted-index slice the Bayardo family builds first.
    # localCheckpoint, not persist: CacheManager substitution would leak
    # this lineage into other queries' plans (the §B order-dependence note).
    w = slot_local_checkpoint(
        "tfidf_w",
        tf.join(idf, "tok").select(
            "doc_id", "tok", (F.col("tf") * F.col("idf_micro")).alias("w")
        ),
    )
    wd = F.col("w").cast("decimal(38,0)")
    norms = w.groupBy("doc_id").agg(F.sum(wd * wd).alias("n2"))
    a = w.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.col("wa").cast("decimal(38,0)") * F.col("wb").cast("decimal(38,0)")
            ).alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cos = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))),
        6,
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "n_shared", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= tau)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# BPE merge learning (r10 VERDICT item 7): the tokenizer-TRAINING loop —
# iteratively find the corpus's most frequent adjacent symbol pair and merge
# it — as a distributed operator. text_bpe_token_stats above only counts
# tokens under a FIXED regex tokenization; this learns the merge table
# itself (Sennrich et al. 2016, the subword-tokenizer training step every
# LLM data pipeline runs).
#
# Scale design (the shape real distributed BPE trainers use): the corpus
# scan happens ONCE, into a (word, freq) VOCABULARY table — at 100 TB the
# vocab is ~1e7 rows while the corpus is ~1e12, so the T merge iterations
# run over the small table. Each step is one map-side-combinable pair-count
# aggregate over the vocab plus a 1-row argmax collect (the merge decision
# is a scalar, the same driver-state class as sim_kmeans_step's centroid
# fetch and the Lloyd chain's codebook).
#
# Symbolization is a SPACE-separated string (' h e l l o ' -> after
# merging (l,l) -> ' h e ll o '); words are restricted to 2-16 chars of
# [a-z] so the separator can never collide. A merge (L, R) is applied as
# replace(sym, ' L R ', ' LR ') repeated _BPE_PASSES times: a single
# left-to-right replace consumes the shared trailing separator, so
# adjacent chains (e.g. 'a a a a' merging (a,a)) merge one pair per pass
# — 8 passes cover the worst chain a 16-char word can hold. NB (ADVICE
# r11): the multipass fixpoint is NOT canonical greedy leftmost-first BPE
# on every input — an odd run of >= 5 identical symbols diverges
# (' a a a a a ' -> 'aa a aa' here vs greedy's 'aa aa a'), which can
# shift later pair counts and thus learned merges vs reference Sennrich
# BPE on long same-char runs. What the gate proves is Spark/DuckDB
# BIT-PARITY: both engines evaluate the identical replace chain, so
# symbolizations and merge decisions match by construction.
#
# The oracle replays the SAME loop as chained CTEs: each step's argmax is
# a 1-row CTE (ORDER BY cnt DESC, l, r LIMIT 1 — the deterministic
# tiebreak both sides use) cross-joined into the next re-symbolization,
# so the data-dependent merge decisions flow through one static SQL text.
# ---------------------------------------------------------------------------

_BPE_STEPS = 6
_BPE_PASSES = 8
_BPE_WORD_RE = "^[a-z]{2,16}$"


def _bpe_vocab_sql() -> str:
    """DuckDB vocab CTE: (word, freq, sym) with char-level symbolization."""
    return f"""
words AS (
  SELECT w AS word, COUNT(*) AS freq,
         ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS sym
  FROM (SELECT unnest({_TOK_SQL}) AS w FROM documents)
  WHERE regexp_matches(w, '{_BPE_WORD_RE}')
  GROUP BY w
)"""


def _bpe_pairs_sql(src: str) -> str:
    """Pair-count body over a (word, freq, sym) relation named ``src``."""
    return f"""
  SELECT a[i] AS l, a[i + 1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, string_split(trim(sym), ' ') AS a FROM {src}),
       unnest(generate_series(1, len(a) - 1)) AS g(i)
  GROUP BY a[i], a[i + 1]"""


def _bpe_oracle(steps: int = _BPE_STEPS) -> str:
    parts = [f"WITH {_bpe_vocab_sql()}"]
    prev = "words"
    for st in range(1, steps + 1):
        parts.append(f""",
m{st} AS (
  SELECT l, r, cnt FROM ({_bpe_pairs_sql(prev)})
  ORDER BY cnt DESC, l, r LIMIT 1
)""")
        if st < steps:
            sym = "sym"
            for _ in range(_BPE_PASSES):
                sym = (f"replace({sym}, ' ' || m{st}.l || ' ' || m{st}.r || ' ', "
                       f"' ' || m{st}.l || m{st}.r || ' ')")
            parts.append(f""",
v{st} AS (SELECT word, freq, {sym} AS sym FROM {prev}, m{st})""")
            prev = f"v{st}"
    selects = " UNION ALL ".join(
        f"SELECT CAST({st} AS BIGINT) AS step, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, cnt AS pair_count FROM m{st}"
        for st in range(1, steps + 1)
    )
    return "".join(parts) + f"\nSELECT * FROM ({selects})"


def _bpe_vocab_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    w = F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("w")
    return (
        docs.select(w)
        .where(F.col("w").rlike(_BPE_WORD_RE))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.col("w").alias("word"),
            "freq",
            F.concat(
                F.lit(" "),
                F.trim(F.regexp_replace("w", "(.)", "$1 ")),
                F.lit(" "),
            ).alias("sym"),
        )
    )


def _bpe_apply_merge(sym, left: str, right: str):
    pat = F.lit(f" {left} {right} ")
    rep = F.lit(f" {left}{right} ")
    for _ in range(_BPE_PASSES):
        sym = F.replace(sym, pat, rep)
    return sym


def _bpe_learned_merges(
    spark: SparkSession, sf_dir: str, steps: int = _BPE_STEPS
) -> list[tuple[str, str, int]]:
    """[(left, right, pair_count)] for each learned merge, cached per
    (SparkContext, sf_dir): T aggregate jobs over the vocab table, one
    3-value scalar collect each."""
    learned = memo(spark.sparkContext, "bpe_merges")
    cache_key = sf_dir.rstrip("/")
    hit = learned.get(cache_key)
    if hit is not None and len(hit) >= steps:
        return hit[:steps]
    vocab = _bpe_vocab_frame(spark, sf_dir)
    merges: list[tuple[str, str, int]] = []
    sym = F.col("sym")
    for _ in range(steps):
        a = F.split(F.trim(sym), " ")
        pairs = (
            vocab.select(
                "freq",
                F.posexplode(
                    F.arrays_zip(
                        F.slice(a, 1, F.size(a) - 1),
                        F.slice(a, 2, F.size(a) - 1),
                    )
                ).alias("i", "pr"),
            )
            .select(
                F.col("pr")["0"].alias("l"),
                F.col("pr")["1"].alias("r"),
                "freq",
            )
            .groupBy("l", "r")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()[0]
        merges.append((top.l, top.r, int(top.cnt)))
        sym = _bpe_apply_merge(sym, top.l, top.r)
    learned[cache_key] = merges
    return merges


@query(
    "text_bpe_learn_merges",
    oracle=_bpe_oracle(),
    tags=("text", "tokenizer", "training", "bpe"),
    order_by="step",
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table: _BPE_STEPS iterations of
    count-pairs -> argmax -> merge over the corpus vocabulary. The returned
    frame is assembled from the T collected argmax scalars (each one the
    output of a distributed map-combinable aggregate — the same
    iterative-algorithm driver-state pattern as sim_kmeans_step)."""
    merges = _bpe_learned_merges(spark, sf_dir)
    rows = [
        (st + 1, left, right, left + right, cnt)
        for st, (left, right, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "step: bigint, left_sym: string, right_sym: string, "
        "merged: string, pair_count: bigint",
    )


def _bpe_tokenize_oracle(steps: int = _BPE_STEPS) -> str:
    """Corpus tokenization stats under the LEARNED merges: the same chain
    as _bpe_oracle extended one step so v{steps} carries the symbolization
    after ALL merges, then weighted symbol/char totals over the vocab."""
    parts = [f"WITH {_bpe_vocab_sql()}"]
    prev = "words"
    for st in range(1, steps + 1):
        parts.append(f""",
m{st} AS (
  SELECT l, r, cnt FROM ({_bpe_pairs_sql(prev)})
  ORDER BY cnt DESC, l, r LIMIT 1
)""")
        sym = "sym"
        for _ in range(_BPE_PASSES):
            sym = (f"replace({sym}, ' ' || m{st}.l || ' ' || m{st}.r || ' ', "
                   f"' ' || m{st}.l || m{st}.r || ' ')")
        parts.append(f""",
v{st} AS (SELECT word, freq, {sym} AS sym FROM {prev}, m{st})""")
        prev = f"v{st}"
    return "".join(parts) + f"""
SELECT CAST(SUM(freq) AS BIGINT) AS n_words,
       CAST(SUM(freq * len(word)) AS BIGINT) AS n_chars,
       CAST(SUM(freq * len(string_split(trim(sym), ' '))) AS BIGINT)
         AS n_tokens,
       CAST(SUM(freq * len(string_split(trim(sym), ' '))) AS DOUBLE)
         / SUM(freq * len(word)) AS tokens_per_char,
       CAST(SUM(freq * len(string_split(trim(sym), ' '))) AS DOUBLE)
         / SUM(freq) AS tokens_per_word
FROM {prev}
"""


@query(
    "text_bpe_tokenize_stats",
    oracle=_bpe_tokenize_oracle(),
    tags=("text", "tokenizer", "bpe"),
)
def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization statistics under the LEARNED merge table (the
    application half of the tokenizer-training corner: text_bpe_learn_merges
    learns the merges, this measures the fertility they buy). Weighted over
    the vocabulary table — token totals are exact integers; the fertility
    ratios are single divisions of exact sums."""
    merges = _bpe_learned_merges(spark, sf_dir)
    sym = F.col("sym")
    for left, right, _cnt in merges:
        sym = _bpe_apply_merge(sym, left, right)
    n_syms = F.size(F.split(F.trim(sym), " "))
    vocab = _bpe_vocab_frame(spark, sf_dir)
    return vocab.agg(
        F.sum("freq").cast("long").alias("n_words"),
        F.sum(F.col("freq") * F.length("word")).cast("long").alias("n_chars"),
        F.sum(F.col("freq") * n_syms).cast("long").alias("n_tokens"),
        (
            dbl(F.sum(F.col("freq") * n_syms))
            / F.sum(F.col("freq") * F.length("word"))
        ).alias("tokens_per_char"),
        (dbl(F.sum(F.col("freq") * n_syms)) / F.sum("freq")).alias(
            "tokens_per_word"
        ),
    )
