"""Multimodal column handling: opaque binary payloads + typed metadata.

BASELINE.json extension (SURVEY.md §7 Phase 3). Four formats decode for
REAL through pure-spec stdlib codecs — PNG images (sources/png.py), WAV/PCM
audio (sources/wav.py), Y4M video (sources/y4m.py), baseline JPEG
(sources/jpeg.py) — each proven by an encode→decode roundtrip query whose
DuckDB oracle recomputes every pixel/sample from a doc_id formula. Formats
needing binary libraries this container lacks (webp, compressed video) keep
a deterministic stub behind the same ``mapInPandas`` plumbing, which is
exactly what a production decode would use: binary column in, Arrow-batched
Pandas transform, typed struct out, no driver-side collection,
partition-parallel.

Scale design: ``mapInPandas`` streams Arrow batches through Python one
partition at a time (constant memory); the metadata aggregation afterwards is
an ordinary JVM hash aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.jpeg import BASIS, ZIGZAG, decode_jpeg, encode_jpeg_gray
from ..sources.webp import decode_webp_lossless, encode_webp_lossless
from ..sources.png import PNG_SIGNATURE, decode_png, encode_png
from ..sources.wav import decode_wav, encode_wav
from ..sources.y4m import decode_y4m, encode_y4m
from ._util import _fan_out, t
from .registry import query

# r12 optimization, the REAL-codec roundtrip entries (png/wav/y4m/jpeg/webp):
# 1. _fan_out the doc_id frame feeding the codec stage — but ONLY where the
#    bench-scale single-core codec work clearly exceeds the fan-out's fixed
#    stage cost (~0.5 s on this box: shuffle + 32-task schedule + worker
#    spin-up). The per-doc encode+decode is pure-Python CPU and the
#    bench-scale documents scan arrives as ONE split, so without it the
#    whole codec stage ran on a single core (every mm_ stage showed
#    `(0+1)/1` task counts; mm_jpeg_subsampled's decode alone is 3.3 s
#    single-core). Measured single-core floors: jpeg_sub 3.4 s, webp ~2.0 s
#    each, jpeg_color 1.6 s, jpeg_pixel 1.2 s -> fanned out; png 0.67 s,
#    wav 0.39 s, y4m 0.60 s -> left on scan splits (fan-out measurably
#    LOST there). _fan_out is conditional — a no-op once the scan is
#    already >= defaultParallelism splits, i.e. at corpus scale, where the
#    unfanned entries parallelize by scan splits anyway — and the shuffled
#    rows are bare doc_ids, never encoded blobs.
# 2. Fuse encode+decode into ONE mapInPandas (_roundtrip): the chained
#    two-stage spelling shipped every encoded blob Python->JVM->Python for
#    no reader in between, and ran 2 Python workers per task slot — at 32
#    fanned-out tasks that is 64 busy interpreters, which thrashed (chained
#    32-way measured 1.74 s vs fused 0.88 s for the same work; a no-op
#    boundary function alone costs ~0.5-0.6 s at this task count, so one
#    boundary is the floor). The encoder/decoder functions themselves are
#    unchanged and still produce/parse the REAL container bytes.
# Per-row results are independent of partitioning and every final aggregate
# is an order-free sum/min/max/count, so results are bit-identical
# (oracle-validated at all three scales, r12). The cheap stub-decode
# entries (decode_pipeline/frame_sample/resize_dims/feature_extract) keep
# the unfanned single-boundary shape: their per-doc work is microseconds,
# so the fan-out's fixed stage cost exceeds the win (measured 0.58 -> 1.67 s
# on mm_decode_pipeline before reverting).


def _roundtrip(enc, dec):
    """Compose an encode-batches and a decode/stats-batches generator into
    one mapInPandas function: blobs stay inside the Python worker."""

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from dec(enc(batches))

    return fused


# Pandas dtypes of the Spark field types the codec frames carry.
_PD_DTYPES = {"long": "int64", "integer": "int32"}


def _doc_batches(schema: StructType, fn, payload: str | None = None):
    """The PNG/JPEG/WebP batch adapter: a mapInPandas function emitting one
    ``schema`` row (doc_id, *fn(x)) per input row, where x is the row's
    doc_id as an int (an encoder) or its ``payload`` column's bytes (a
    decoder), typed by the schema's integer fields."""
    dtypes = {
        f.name: _PD_DTYPES[f.dataType.typeName()]
        for f in schema.fields
        if f.dataType.typeName() in _PD_DTYPES
    }

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            xs = pdf["doc_id"] if payload is None else pdf[payload]
            rows = [
                (d, *fn(int(x) if payload is None else bytes(x)))
                for d, x in zip(pdf["doc_id"], xs)
            ]
            yield pd.DataFrame(rows, columns=schema.fieldNames()).astype(dtypes)

    return batches


def _codec_gate(spark: SparkSession, sf_dir: str, enc, dec, schema) -> DataFrame:
    """Per-document stats of an encode-then-decode roundtrip (``enc`` and
    ``dec`` batch functions, ``schema`` rows) over the codec gate slice.

    Fixture-size policy (r11 VERDICT): the codec gate entries run a
    deterministic 1-in-7 doc slice (7 is coprime to every geometry
    modulus, so all width/height classes stay populated); exhaustive
    per-doc coverage lives in the codec unit tests. Mirrored in the
    oracle geo CTEs. Do not regrow this family: encode+decode is pure
    interpreter cost per doc, and full-corpus runs made these entries
    ~14% of the whole battery."""
    tbl = t(spark, sf_dir)["documents"]
    docs = tbl.select("doc_id").filter(F.col("doc_id") % 7 == 0)
    return _fan_out(docs, src=tbl).mapInPandas(_roundtrip(enc, dec), schema=schema)


# The oracle side of _rgb_agg: per-width totals over a per-image stats CTE.
_RGB_TOTALS = """       CAST(SUM(sum_r) AS BIGINT) AS sum_r,
       CAST(SUM(sum_g) AS BIGINT) AS sum_g,
       CAST(SUM(sum_b) AS BIGINT) AS sum_b,
       CAST(MIN(min_px) AS INTEGER) AS min_px,
       CAST(MAX(max_px) AS INTEGER) AS max_px
FROM stats GROUP BY w
"""


def _rgb_agg(stats: DataFrame, *extra) -> DataFrame:
    """Per-width image count, *extra, RGB channel sums and sample extrema."""
    return stats.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_imgs"),
        *extra,
        F.sum("sum_r").cast("bigint").alias("sum_r"),
        F.sum("sum_g").cast("bigint").alias("sum_g"),
        F.sum("sum_b").cast("bigint").alias("sum_b"),
        F.min("min_px").cast("int").alias("min_px"),
        F.max("max_px").cast("int").alias("max_px"),
    )


# ---------------------------------------------------------------------------
# Binary metadata: treat text as an opaque UTF-8 payload; compute byte-level
# stats fully JVM-side. (Real pipelines: payload = image/audio bytes.)
# ---------------------------------------------------------------------------

_META_ORACLE = """
SELECT source, COUNT(*) AS n_blobs,
  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
  CAST(MAX(octet_length(encode(text))) AS INTEGER) AS max_bytes,
  CAST(MIN(octet_length(encode(text))) AS INTEGER) AS min_bytes
FROM documents
GROUP BY source
"""


@query("mm_binary_meta", oracle=_META_ORACLE, tags=("multimodal",))
def binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    payload = F.encode(F.col("text"), "UTF-8")
    nbytes = F.octet_length(payload)
    return (
        docs.select("source", nbytes.alias("nb"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
            F.max("nb").cast("int").alias("max_bytes"),
            F.min("nb").cast("int").alias("min_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Decode pipeline (stub): binary payload -> (width, height, n_frames,
# format) via mapInPandas. Deterministic fake decode derived from payload
# bytes; swap `_fake_decode` for a real codec (PIL/ffmpeg) in production.
# ---------------------------------------------------------------------------

_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("fmt", StringType()),
    ]
)

REAL_DECODE = False  # no lossy-webp/compressed-video codecs in this container


def _real_decode(payload: bytes) -> tuple[int, int, int, str]:
    """Real decode for the formats the repo carries a codec for: PNG via
    the pure-Python spec implementation (sources/png.py, stdlib zlib — the
    Avro-decoder playbook), baseline JPEG (sources/jpeg.py, pure spec),
    and lossless webp / VP8L (sources/webp.py, r11). Only LOSSY webp (the
    VP8 predictive transform codec) and compressed video remain
    environment-gated."""
    if payload[:8] == PNG_SIGNATURE:
        img = decode_png(payload)
        return img.width, img.height, 1, "png"
    if payload[:2] == b"\xff\xd8":
        jimg = decode_jpeg(payload)
        return jimg.width, jimg.height, 1, "jpeg"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        wimg = decode_webp_lossless(payload)  # VP8 (lossy) rejects inside
        return wimg.width, wimg.height, 1, "webp"
    raise NotImplementedError(
        "real decode implemented for PNG, baseline JPEG and lossless webp "
        "(VP8L); lossy-webp and compressed-video codecs are not available "
        "in this container"
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic stand-in for an image/video decode — except PNG/JPEG
    payloads, which take the REAL decode path (signature-dispatched; the
    synthetic payloads here are UTF-8 text bytes, which can never start
    with 0x89PNG, 0xFFD8 or RIFF/WEBP)."""
    if (
        payload[:8] == PNG_SIGNATURE
        or payload[:2] == b"\xff\xd8"
        or (payload[:4] == b"RIFF" and payload[8:12] == b"WEBP")
    ):
        return _real_decode(payload)
    if REAL_DECODE:  # pragma: no cover
        return _real_decode(payload)
    n = len(payload)
    checksum = sum(payload[:64]) if n else 0
    width = 64 + (checksum % 17) * 32
    height = 64 + ((checksum // 17) % 11) * 32
    n_frames = 1 + n % 3
    fmt = ("png", "jpeg", "webp")[checksum % 3]
    return width, height, n_frames, fmt


def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched decode: one pandas frame in, one typed frame out."""
    for pdf in batches:
        payloads = pdf["payload"]
        meta = [_fake_decode(p if isinstance(p, bytes) else bytes(p)) for p in payloads]
        out = pd.DataFrame(
            meta, columns=["width", "height", "n_frames", "fmt"], index=pdf.index
        )
        out.insert(0, "doc_id", pdf["doc_id"])
        out.insert(1, "n_bytes", payloads.map(len).astype("int32"))
        yield out.astype(
            {"width": "int32", "height": "int32", "n_frames": "int32", "n_bytes": "int32"}
        )


def _decoded_cte() -> str:
    """Shared CTE chain reproducing ``_fake_decode`` in SQL (checksum of the
    first 64 payload bytes from hex digits)."""
    hexval = "instr('0123456789abcdef', substring(hx, {pos}, 1)) - 1"
    return f"""
WITH h AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n,
         lower(substring(hex(encode(text)), 1, 128)) AS hx
  FROM documents
),
bytes AS (
  SELECT doc_id, hx, unnest(generate_series(1, CAST(length(hx) / 2 AS INTEGER))) AS i
  FROM h
),
csum0 AS (
  SELECT doc_id,
         SUM(({hexval.format(pos='2*i-1')}) * 16 + ({hexval.format(pos='2*i')})) AS checksum
  FROM bytes GROUP BY doc_id
),
decoded AS (
  SELECT h.doc_id, h.n AS n_bytes,
         CAST(64 + (COALESCE(c.checksum, 0) % 17) * 32 AS INTEGER) AS width,
         CAST(64 + ((COALESCE(c.checksum, 0) // 17) % 11) * 32 AS INTEGER) AS height,
         CAST(1 + (h.n % 3) AS INTEGER) AS n_frames,
         CASE COALESCE(c.checksum, 0) % 3
           WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS fmt
  FROM h LEFT JOIN csum0 c ON c.doc_id = h.doc_id
)"""


def _decode_oracle() -> str:
    """Independent SQL implementation of the decode aggregate (reference
    method: differential vs an independent implementation,
    /root/reference/tests/tpch_correctness_test.rs)."""
    return f"""{_decoded_cte()}
SELECT fmt, COUNT(*) AS n_blobs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(MAX(width) AS INTEGER) AS max_width,
       CAST(MAX(height) AS INTEGER) AS max_height
FROM decoded GROUP BY fmt
"""


@query("mm_decode_pipeline", oracle=_decode_oracle(), tags=("multimodal", "pandas-udf"))
def decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode pipeline, differentially checked: the deterministic
    stub decode is recomputed independently in DuckDB (see _decode_oracle)."""
    docs = t(spark, sf_dir)["documents"]
    with_payload = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    decoded = with_payload.mapInPandas(decode_batches, schema=_DECODE_SCHEMA)
    return decoded.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.max("width").cast("int").alias("max_width"),
        F.max("height").cast("int").alias("max_height"),
    )


# ---------------------------------------------------------------------------
# Frame sampling: second mapInPandas stage over the decoded metadata — emit
# every 2nd frame index per blob (the video frame-sample step of a real
# multimodal pipeline; the actual frame extraction would go where the row is
# produced). Differentially checked end-to-end: the oracle recomputes
# n_frames = 1 + n_bytes % 3 and the sampled count (n_frames + 1) // 2 from
# raw bytes in SQL.
# ---------------------------------------------------------------------------

_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("frame_idx", IntegerType()),
    ]
)

_FRAME_SAMPLE_STRIDE = 2


def sample_frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One output row per sampled frame (indices 0, 2, 4, ... per blob)."""
    for pdf in batches:
        reps = (pdf["n_frames"] + _FRAME_SAMPLE_STRIDE - 1) // _FRAME_SAMPLE_STRIDE
        out = pdf.loc[pdf.index.repeat(reps), ["doc_id", "fmt"]].reset_index(drop=True)
        idx = [
            i * _FRAME_SAMPLE_STRIDE
            for r in reps
            for i in range(int(r))
        ]
        out["frame_idx"] = pd.Series(idx, dtype="int32")
        yield out


def _frame_sample_oracle() -> str:
    return f"""{_decoded_cte()}
SELECT fmt, CAST(SUM((n_frames + 1) // 2) AS BIGINT) AS n_sampled_frames,
       COUNT(*) AS n_blobs,
       CAST(MAX((n_frames + 1) // 2 - 1) * 2 AS INTEGER) AS max_frame_idx
FROM decoded GROUP BY fmt
"""


@query("mm_frame_sample", oracle=_frame_sample_oracle(), tags=("multimodal", "pandas-udf"))
def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode -> frame-sample as two chained mapInPandas stages, aggregated
    per format; the whole Python pipeline is oracle-checked."""
    docs = t(spark, sf_dir)["documents"]
    with_payload = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    decoded = with_payload.mapInPandas(decode_batches, schema=_DECODE_SCHEMA)
    frames = decoded.select("doc_id", "fmt", "n_frames").mapInPandas(
        sample_frame_batches, schema=_FRAME_SCHEMA
    )
    return frames.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_sampled_frames"),
        F.count_distinct("doc_id").alias("n_blobs"),
        F.max("frame_idx").cast("int").alias("max_frame_idx"),
    )


# ---------------------------------------------------------------------------
# Resize planning: fit each decoded blob into a 256x256 box preserving
# aspect ratio. Integer-only arithmetic ((dim * 256) // max_dim) so Spark and
# DuckDB agree exactly — no float rounding at .5 boundaries. The stub stops at
# computing target dims (the real pixel resample would be one more Pandas-UDF
# stage); the aggregation checks the whole decode->resize lineage.
# ---------------------------------------------------------------------------

_RESIZE_BOX = 256


def _resize_oracle() -> str:
    return f"""{_decoded_cte()},
resized AS (
  SELECT fmt,
    CASE WHEN greatest(width, height) <= {_RESIZE_BOX} THEN width
         ELSE CAST((width * {_RESIZE_BOX}) // greatest(width, height) AS INTEGER) END AS rw,
    CASE WHEN greatest(width, height) <= {_RESIZE_BOX} THEN height
         ELSE CAST((height * {_RESIZE_BOX}) // greatest(width, height) AS INTEGER) END AS rh
  FROM decoded
)
SELECT fmt, COUNT(*) AS n_blobs,
       CAST(SUM(rw * rh) AS BIGINT) AS total_pixels,
       CAST(MAX(rw) AS INTEGER) AS max_rw,
       CAST(MAX(rh) AS INTEGER) AS max_rh
FROM resized GROUP BY fmt
"""


@query("mm_resize_dims", oracle=_resize_oracle(), tags=("multimodal", "pandas-udf"))
def resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    with_payload = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    decoded = with_payload.mapInPandas(decode_batches, schema=_DECODE_SCHEMA)
    maxd = F.greatest("width", "height")
    rw = F.when(maxd <= _RESIZE_BOX, F.col("width")).otherwise(
        F.expr(f"CAST((width * {_RESIZE_BOX}) DIV greatest(width, height) AS INT)")
    )
    rh = F.when(maxd <= _RESIZE_BOX, F.col("height")).otherwise(
        F.expr(f"CAST((height * {_RESIZE_BOX}) DIV greatest(width, height) AS INT)")
    )
    return (
        decoded.select("fmt", rw.alias("rw"), rh.alias("rh"))
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum(F.col("rw").cast("long") * F.col("rh")).cast("bigint").alias("total_pixels"),
            F.max("rw").cast("int").alias("max_rw"),
            F.max("rh").cast("int").alias("max_rh"),
        )
    )


# ---------------------------------------------------------------------------
# Feature extraction: a 16-bin byte histogram over each payload's first 64
# bytes (stand-in for an embedding/feature model; same Arrow-batched shape).
# bin(b) = b // 16 == the byte's first hex digit, which is how the oracle
# recomputes the features from hex text in SQL.
# ---------------------------------------------------------------------------

_FEAT_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("fmt", StringType())]
    + [StructField(f"f{k}", IntegerType()) for k in range(16)]
)


def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, fmt, f0..f15): byte-bucket histogram of payload[:64]."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            p = (payload if isinstance(payload, bytes) else bytes(payload))[:64]
            hist = [0] * 16
            for byte in p:
                hist[byte >> 4] += 1
            _, _, _, fmt = _fake_decode(
                payload if isinstance(payload, bytes) else bytes(payload)
            )
            rows.append([doc_id, fmt, *hist])
        out = pd.DataFrame(rows, columns=["doc_id", "fmt"] + [f"f{k}" for k in range(16)])
        yield out.astype({f"f{k}": "int32" for k in range(16)})


def _features_oracle() -> str:
    hexdig = "instr('0123456789abcdef', substring(hx, 2*i-1, 1)) - 1"
    sums = ",\n  ".join(
        f"CAST(SUM(CASE WHEN hi = {k} THEN 1 ELSE 0 END) AS BIGINT) AS f{k}"
        for k in range(16)
    )
    return f"""{_decoded_cte()},
nib AS (
  SELECT b.doc_id, {hexdig} AS hi
  FROM bytes b
),
feats AS (
  SELECT doc_id,
  {sums}
  FROM nib GROUP BY doc_id
)
SELECT d.fmt, COUNT(*) AS n_blobs,
  {",".join(f"CAST(SUM(COALESCE(f.f{k}, 0)) AS BIGINT) AS sum_f{k}" for k in range(16))}
FROM decoded d LEFT JOIN feats f ON f.doc_id = d.doc_id
GROUP BY d.fmt
"""


@query("mm_feature_extract", oracle=_features_oracle(), tags=("multimodal", "pandas-udf"))
def feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    with_payload = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    feats = with_payload.mapInPandas(feature_batches, schema=_FEAT_SCHEMA)
    return feats.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_blobs"),
        *[F.sum(f"f{k}").cast("bigint").alias(f"sum_f{k}") for k in range(16)],
    )


# ---------------------------------------------------------------------------
# Real PNG decode, proven end-to-end: a first mapInPandas stage ENCODES a
# deterministic image per document (geometry and pixel values are pure
# functions of doc_id) into real PNG bytes — cycling through all five PNG
# scanline filters row by row — and a second stage DECODES them back with
# the pure-Python codec (sources/png.py). The oracle recomputes the pixel
# statistics directly from the doc_id formula in SQL, so a single wrong
# byte anywhere in filter/unfilter/inflate/CRC breaks the hash match.
# Distributed shape: payload-per-row, Arrow-batched, zero shuffle until the
# final JVM hash aggregate.
# ---------------------------------------------------------------------------

_PNG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("png", BinaryType()),
    ]
)

_PNG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_px", IntegerType()),
        StructField("px_sum", LongType()),
        StructField("px_min", IntegerType()),
        StructField("px_max", IntegerType()),
    ]
)


def _png_geometry(doc_id: int) -> tuple[int, int, int]:
    """(width, height, channels) as pure functions of doc_id — mirrored in
    the SQL oracle."""
    return 4 + doc_id % 5, 4 + doc_id % 3, 1 + (doc_id % 2) * 2


def _png_sample(doc_id: int, x: int, y: int, c: int) -> int:
    return (doc_id + 3 * x + 7 * y + 11 * c) % 256


def _png_blob(d: int) -> tuple[bytes]:
    """doc_id -> real PNG bytes (gray or RGB, filters cycled per row)."""
    w, h, nch = _png_geometry(d)
    px = bytes(
        _png_sample(d, x, y, c) for y in range(h) for x in range(w) for c in range(nch)
    )
    return (encode_png(w, h, nch, px, filter_type="cycle"),)


def _png_stats(payload: bytes) -> tuple:
    """PNG bytes -> decoded geometry + exact pixel statistics."""
    img = decode_png(payload)
    px = img.pixels
    return img.width, img.height, img.channels, len(px), sum(px), min(px), max(px)


encode_png_batches = _doc_batches(_PNG_SCHEMA, _png_blob)
png_stats_batches = _doc_batches(_PNG_STATS_SCHEMA, _png_stats, "png")


_PNG_STATS_ORACLE = """
WITH geo AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS w,
         CAST(4 + doc_id % 3 AS INTEGER) AS h,
         CAST(1 + (doc_id % 2) * 2 AS INTEGER) AS nch
  FROM documents
),
px AS (
  SELECT g.doc_id, g.w, g.nch,
         (g.doc_id + 3 * xs.x + 7 * ys.y + 11 * cs.c) % 256 AS v
  FROM geo g,
       LATERAL unnest(generate_series(0, g.w - 1)) AS xs(x),
       LATERAL unnest(generate_series(0, g.h - 1)) AS ys(y),
       LATERAL unnest(generate_series(0, g.nch - 1)) AS cs(c)
),
stats AS (
  SELECT doc_id, w, nch, COUNT(*) AS n_px, SUM(v) AS px_sum,
         MIN(v) AS px_min, MAX(v) AS px_max
  FROM px GROUP BY doc_id, w, nch
)
SELECT w AS width, CAST(nch AS INTEGER) AS channels,
       COUNT(*) AS n_imgs,
       CAST(SUM(n_px) AS BIGINT) AS total_samples,
       CAST(SUM(px_sum) AS BIGINT) AS sum_px,
       CAST(MIN(px_min) AS INTEGER) AS min_px,
       CAST(MAX(px_max) AS INTEGER) AS max_px
FROM stats GROUP BY w, nch
"""


@query(
    "mm_png_pixel_stats",
    oracle=_PNG_STATS_ORACLE,
    tags=("multimodal", "pandas-udf", "png"),
)
def png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-then-decode roundtrip through REAL PNG bytes, aggregated per
    (width, channels); the oracle recomputes every pixel from the doc_id
    formula, proving the whole codec (all five filters, CRC, inflate)."""
    docs = t(spark, sf_dir)["documents"].select("doc_id")
    stats = docs.mapInPandas(
        _roundtrip(encode_png_batches, png_stats_batches),
        schema=_PNG_STATS_SCHEMA,
    )
    return stats.groupBy("width", "channels").agg(
        F.count(F.lit(1)).alias("n_imgs"),
        F.sum("n_px").cast("bigint").alias("total_samples"),
        F.sum("px_sum").cast("bigint").alias("sum_px"),
        F.min("px_min").cast("int").alias("min_px"),
        F.max("px_max").cast("int").alias("max_px"),
    )


# ---------------------------------------------------------------------------
# Real WAV/PCM decode, proven the same way as PNG: stage 1 ENCODES a
# deterministic PCM clip per document (rate/channels/frames/samples are
# pure functions of doc_id) into real RIFF/WAVE bytes, stage 2 DECODES
# them back with the pure-Python codec (sources/wav.py) and emits exact
# sample statistics; the oracle recomputes every sample from the doc_id
# formula, so one wrong byte in chunk walk / 16-bit LE packing / frame
# interleave breaks the hash match.
# ---------------------------------------------------------------------------

_WAV_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("wav", BinaryType())]
)

_WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("s_sum", LongType()),
        StructField("s_min", IntegerType()),
        StructField("s_max", IntegerType()),
    ]
)


def _wav_geometry(doc_id: int) -> tuple[int, int, int]:
    """(sample_rate, channels, n_frames) as pure functions of doc_id."""
    return 8000 + (doc_id % 3) * 4000, 1 + doc_id % 2, 40 + doc_id % 25


def _wav_sample(doc_id: int, t: int, c: int) -> int:
    # signed 16-bit range, sign decided by parity so min/max are exercised
    v = (doc_id * 7 + 13 * t + 5 * c) % 2003
    return v - 1001


def encode_wav_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        wavs = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            rate, nch, nf = _wav_geometry(d)
            samples = [
                _wav_sample(d, t, c) for t in range(nf) for c in range(nch)
            ]
            wavs.append(encode_wav(rate, nch, 16, samples))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "wav": wavs})


def wav_stats_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["wav"]):
            au = decode_wav(payload if isinstance(payload, bytes) else bytes(payload))
            rows.append(
                [
                    doc_id, au.sample_rate, au.channels, au.n_frames,
                    sum(au.samples), min(au.samples), max(au.samples),
                ]
            )
        out = pd.DataFrame(
            rows,
            columns=[
                "doc_id", "sample_rate", "channels", "n_frames",
                "s_sum", "s_min", "s_max",
            ],
        )
        yield out.astype(
            {
                "sample_rate": "int32", "channels": "int32",
                "n_frames": "int32", "s_sum": "int64",
                "s_min": "int32", "s_max": "int32",
            }
        )


_WAV_STATS_ORACLE = """
WITH geo AS (
  SELECT doc_id,
         CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS rate,
         CAST(1 + doc_id % 2 AS INTEGER) AS nch,
         CAST(40 + doc_id % 25 AS INTEGER) AS nf
  FROM documents
),
smp AS (
  SELECT g.doc_id, g.rate, g.nch,
         (g.doc_id * 7 + 13 * ts.t + 5 * cs.c) % 2003 - 1001 AS v
  FROM geo g,
       LATERAL unnest(generate_series(0, g.nf - 1)) AS ts(t),
       LATERAL unnest(generate_series(0, g.nch - 1)) AS cs(c)
),
stats AS (
  SELECT doc_id, rate, nch, SUM(v) AS s_sum, MIN(v) AS s_min, MAX(v) AS s_max
  FROM smp GROUP BY doc_id, rate, nch
)
SELECT rate AS sample_rate, nch AS channels,
       COUNT(*) AS n_clips,
       CAST(SUM(s_sum) AS BIGINT) AS sum_samples,
       CAST(MIN(s_min) AS INTEGER) AS min_sample,
       CAST(MAX(s_max) AS INTEGER) AS max_sample
FROM stats GROUP BY rate, nch
"""


@query(
    "mm_wav_sample_stats",
    oracle=_WAV_STATS_ORACLE,
    tags=("multimodal", "pandas-udf", "audio", "wav"),
)
def wav_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-then-decode roundtrip through REAL RIFF/WAVE PCM bytes,
    aggregated per (sample_rate, channels); the audio twin of
    mm_png_pixel_stats."""
    docs = t(spark, sf_dir)["documents"].select("doc_id")
    stats = docs.mapInPandas(
        _roundtrip(encode_wav_batches, wav_stats_batches),
        schema=_WAV_STATS_SCHEMA,
    )
    return stats.groupBy("sample_rate", "channels").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("s_sum").cast("bigint").alias("sum_samples"),
        F.min("s_min").cast("int").alias("min_sample"),
        F.max("s_max").cast("int").alias("max_sample"),
    )


# ---------------------------------------------------------------------------
# Real VIDEO decode + frame sampling via Y4M (YUV4MPEG2) — the third codec
# of the trio (PNG image, WAV audio). Stage 1 ENCODES a deterministic C420
# clip per document (geometry, frame count, and every Y/U/V sample are pure
# functions of doc_id), stage 2 DECODES it and keeps every 2nd frame (the
# REAL frame-sample step mm_frame_sample stubs), emitting exact per-frame
# luma and chroma statistics; the oracle recomputes every sample from the
# formulas, so plane ordering, C420 subsampled sizes, FRAME framing, and
# the sampling stride are all hash-checked.
# ---------------------------------------------------------------------------

_Y4M_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("y4m", BinaryType())]
)

_Y4M_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("frame_idx", IntegerType()),
        StructField("luma_sum", LongType()),
        StructField("luma_max", IntegerType()),
        StructField("chroma_sum", LongType()),
    ]
)

_Y4M_SAMPLE_STRIDE = 2


def _y4m_geometry(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) — even dims (C420) by construction."""
    return 4 + 2 * (doc_id % 3), 4 + 2 * (doc_id % 2), 3 + doc_id % 4


def _y4m_planes(doc_id: int, w: int, h: int, f: int) -> tuple[bytes, bytes, bytes]:
    y = bytes((doc_id + 3 * x + 7 * yy + 11 * f) % 256 for yy in range(h) for x in range(w))
    cw, ch = w // 2, h // 2
    u = bytes((doc_id + 5 * x + 9 * yy + 2 * f) % 256 for yy in range(ch) for x in range(cw))
    v = bytes((doc_id + 4 * x + 6 * yy + 3 * f) % 256 for yy in range(ch) for x in range(cw))
    return y, u, v


def encode_y4m_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        clips = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h, nf = _y4m_geometry(d)
            frames = [_y4m_planes(d, w, h, f) for f in range(nf)]
            clips.append(encode_y4m(w, h, frames, colorspace="C420"))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "y4m": clips})


def y4m_frame_sample_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Decode, keep every _Y4M_SAMPLE_STRIDE-th frame, emit exact stats."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["y4m"]):
            vid = decode_y4m(payload if isinstance(payload, bytes) else bytes(payload))
            for f_idx in range(0, vid.n_frames, _Y4M_SAMPLE_STRIDE):
                y, u, v = vid.frames[f_idx]
                rows.append(
                    [
                        doc_id, vid.width, vid.height, f_idx,
                        sum(y), max(y), sum(u) + sum(v),
                    ]
                )
        out = pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "frame_idx",
                "luma_sum", "luma_max", "chroma_sum",
            ],
        )
        yield out.astype(
            {
                "width": "int32", "height": "int32", "frame_idx": "int32",
                "luma_sum": "int64", "luma_max": "int32", "chroma_sum": "int64",
            }
        )


_Y4M_STATS_ORACLE = """
WITH geo AS (
  SELECT doc_id,
         CAST(4 + 2 * (doc_id % 3) AS INTEGER) AS w,
         CAST(4 + 2 * (doc_id % 2) AS INTEGER) AS h,
         CAST(3 + doc_id % 4 AS INTEGER) AS nf
  FROM documents
),
sampled AS (
  SELECT g.doc_id, g.w, g.h, fs.f
  FROM geo g, LATERAL unnest(generate_series(0, g.nf - 1, 2)) AS fs(f)
),
luma AS (
  SELECT s.doc_id, s.w, s.h, s.f,
         SUM((s.doc_id + 3 * xs.x + 7 * ys.y + 11 * s.f) % 256) AS luma_sum,
         MAX((s.doc_id + 3 * xs.x + 7 * ys.y + 11 * s.f) % 256) AS luma_max
  FROM sampled s,
       LATERAL unnest(generate_series(0, s.w - 1)) AS xs(x),
       LATERAL unnest(generate_series(0, s.h - 1)) AS ys(y)
  GROUP BY s.doc_id, s.w, s.h, s.f
),
chroma AS (
  SELECT s.doc_id, s.f,
         SUM((s.doc_id + 5 * xs.x + 9 * ys.y + 2 * s.f) % 256
             + (s.doc_id + 4 * xs.x + 6 * ys.y + 3 * s.f) % 256) AS chroma_sum
  FROM sampled s,
       LATERAL unnest(generate_series(0, s.w // 2 - 1)) AS xs(x),
       LATERAL unnest(generate_series(0, s.h // 2 - 1)) AS ys(y)
  GROUP BY s.doc_id, s.f
)
SELECT l.w AS width, l.h AS height,
       COUNT(DISTINCT l.doc_id) AS n_videos,
       COUNT(*) AS n_sampled_frames,
       CAST(SUM(l.luma_sum) AS BIGINT) AS total_luma,
       CAST(MAX(l.luma_max) AS INTEGER) AS max_luma,
       CAST(SUM(c.chroma_sum) AS BIGINT) AS total_chroma
FROM luma l JOIN chroma c ON l.doc_id = c.doc_id AND l.f = c.f
GROUP BY l.w, l.h
"""


@query(
    "mm_y4m_frame_sample",
    oracle=_Y4M_STATS_ORACLE,
    tags=("multimodal", "pandas-udf", "video", "y4m"),
)
def y4m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-then-decode roundtrip through REAL Y4M video bytes with a
    REAL every-2nd-frame sample step, aggregated per (width, height)."""
    docs = t(spark, sf_dir)["documents"].select("doc_id")
    stats = docs.mapInPandas(
        _roundtrip(encode_y4m_batches, y4m_frame_sample_batches),
        schema=_Y4M_STATS_SCHEMA,
    )
    return stats.groupBy("width", "height").agg(
        F.count_distinct("doc_id").alias("n_videos"),
        F.count(F.lit(1)).alias("n_sampled_frames"),
        F.sum("luma_sum").cast("bigint").alias("total_luma"),
        F.max("luma_max").cast("int").alias("max_luma"),
        F.sum("chroma_sum").cast("bigint").alias("total_chroma"),
    )


# ---------------------------------------------------------------------------
# Real baseline JPEG decode, proven end-to-end (the last codec behind the
# decode gate; PNG/WAV/Y4M landed earlier via the same playbook): stage 1
# ENCODES a deterministic image per document into real baseline JPEG bytes
# — real canonical Huffman tables (DHT), DC prediction, AC run/size coding
# with EOB and ZRL, 0xFF byte stuffing, zigzag quantization tables (DQT) —
# and stage 2 DECODES them back with the pure-Python codec
# (sources/jpeg.py) and emits exact pixel statistics.
#
# JPEG is lossy only at forward quantization, so the fixture images are
# DEFINED in the frequency domain: per 8x8 block, a quantized DC plus two
# AC coefficients at doc/block-dependent zigzag positions (the spread
# exercises DC size categories, AC run lengths, ZRL chains and EOB). The
# entropy layer round-trips those coefficients exactly, and the decoded
# pixels are the closed-form IDCT of the dequantized values — which the
# oracle recomputes per pixel from the SAME basis constants (repr-exact
# literals) and the same per-term product order. One wrong bit anywhere in
# marker parse / canonical Huffman / EXTEND / dezigzag / dequant / IDCT /
# clamp breaks the hash match. Distributed shape: payload-per-row,
# Arrow-batched mapInPandas, zero shuffle until the final JVM aggregate.
# ---------------------------------------------------------------------------

_JPEG_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("jpeg", BinaryType())]
)

_JPEG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_blocks", IntegerType()),
        StructField("n_px", IntegerType()),
        StructField("px_sum", LongType()),
        StructField("px_min", IntegerType()),
        StructField("px_max", IntegerType()),
    ]
)

#: Quantization table, zigzag order. q[0] = 20 makes the DC range overdrive
#: [0, 255] so clamping is exercised at both ends across the corpus.
_JPEG_QTABLE = [20] + [8 + (k * 3) % 17 for k in range(1, 64)]


def _jpeg_geometry(doc_id: int) -> tuple[int, int]:
    """(width, height) as pure functions of doc_id — mirrored in SQL."""
    return 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)


def _jpeg_block_coeffs(doc_id: int, b: int) -> list:
    """Quantized zigzag coefficients of block b: DC plus two ACs whose
    positions/values vary with (doc, block) — mirrored in SQL."""
    blk = [0] * 64
    blk[0] = ((doc_id * 7 + b * 13) % 128) - 64
    blk[1 + (b % 5)] = ((doc_id + b) % 7) - 3
    blk[20 + (doc_id % 10)] = ((doc_id * 3 + b) % 5) - 2
    return blk


def _jpeg_blob(d: int) -> tuple[bytes]:
    """doc_id -> real baseline JPEG bytes (grayscale, 1-6 blocks)."""
    w, h = _jpeg_geometry(d)
    blocks = [_jpeg_block_coeffs(d, b) for b in range((w // 8) * (h // 8))]
    return (encode_jpeg_gray(w, h, blocks, _JPEG_QTABLE),)


def _jpeg_stats(payload: bytes) -> tuple:
    """JPEG bytes -> decoded geometry + exact pixel statistics."""
    img = decode_jpeg(payload)
    px = img.pixels
    return img.width, img.height, img.n_blocks, len(px), sum(px), min(px), max(px)


encode_jpeg_batches = _doc_batches(_JPEG_SCHEMA, _jpeg_blob)
jpeg_stats_batches = _doc_batches(_JPEG_STATS_SCHEMA, _jpeg_stats, "jpeg")


def _jpeg_tables(qt: str) -> str:
    """The IDCT basis and zigzag->(u,v) map as VALUES CTEs, then ``qt``:
    literals generated from the codec's own Python constants, so the two
    sides can never drift."""
    basis_rows = ", ".join(
        f"({u}, {x}, {BASIS[u][x]!r})" for u in range(8) for x in range(8)
    )
    zig_rows = ", ".join(
        f"({k}, {ZIGZAG[k] % 8}, {ZIGZAG[k] // 8})" for k in range(64)
    )
    return f"""basis(u, x, bv) AS (VALUES {basis_rows}),
zig(z, zu, zv) AS (VALUES {zig_rows}),
{qt}"""


def _jpeg_oracle() -> str:
    """Recompute every decoded pixel in SQL: the coefficient formulas, the
    zigzag->(u,v) map, the quant table and the IDCT basis constants are all
    inlined as literals (_jpeg_tables)."""
    q_rows = ", ".join(f"({k}, {_JPEG_QTABLE[k]})" for k in range(64))
    return f"""
WITH {_jpeg_tables(f"qt(z, q) AS (VALUES {q_rows})")},
geo AS (
  SELECT doc_id,
         CAST(8 * (1 + doc_id % 3) AS INTEGER) AS w,
         CAST(8 * (1 + doc_id % 2) AS INTEGER) AS h
  FROM documents WHERE doc_id % 7 = 0
),
blk AS (
  SELECT g.doc_id, g.w, g.h, bs.b
  FROM geo g,
       LATERAL unnest(generate_series(0, (g.w // 8) * (g.h // 8) - 1)) AS bs(b)
),
coef AS (
  SELECT doc_id, w, h, b, 0 AS z,
         ((doc_id * 7 + b * 13) % 128) - 64 AS val FROM blk
  UNION ALL
  SELECT doc_id, w, h, b, 1 + (b % 5), ((doc_id + b) % 7) - 3 FROM blk
  UNION ALL
  SELECT doc_id, w, h, b, 20 + (doc_id % 10), ((doc_id * 3 + b) % 5) - 2 FROM blk
),
samp AS (
  SELECT c.doc_id, c.w, c.h, c.b, bu.x AS x, bv.x AS y,
         SUM((c.val * qt.q) * bu.bv * bv.bv) AS s
  FROM coef c
  JOIN qt ON qt.z = c.z
  JOIN zig ON zig.z = c.z
  JOIN basis bu ON bu.u = zig.zu
  JOIN basis bv ON bv.u = zig.zv
  GROUP BY c.doc_id, c.w, c.h, c.b, bu.x, bv.x
),
px AS (
  SELECT doc_id, w, h,
         LEAST(GREATEST(CAST(FLOOR(s + 0.5) AS BIGINT) + 128, 0), 255) AS v
  FROM samp
),
stats AS (
  SELECT doc_id, w, h, COUNT(*) AS n_px, SUM(v) AS px_sum,
         MIN(v) AS px_min, MAX(v) AS px_max
  FROM px GROUP BY doc_id, w, h
)
SELECT w AS width, h AS height, COUNT(*) AS n_imgs,
       CAST(SUM((w // 8) * (h // 8)) AS BIGINT) AS total_blocks,
       CAST(SUM(n_px) AS BIGINT) AS total_px,
       CAST(SUM(px_sum) AS BIGINT) AS sum_px,
       CAST(MIN(px_min) AS INTEGER) AS min_px,
       CAST(MAX(px_max) AS INTEGER) AS max_px
FROM stats GROUP BY w, h
"""


@query(
    "mm_jpeg_pixel_stats",
    oracle=_jpeg_oracle(),
    tags=("multimodal", "pandas-udf", "jpeg"),
)
def jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-then-decode roundtrip through REAL baseline JPEG bytes,
    aggregated per (width, height); the oracle recomputes every pixel from
    the coefficient formulas via the same IDCT basis constants, proving the
    whole codec (markers, canonical Huffman, DC prediction, run/size + ZRL
    + EOB, byte unstuffing, dezigzag, dequant, IDCT, clamp)."""
    stats = _codec_gate(
        spark, sf_dir, encode_jpeg_batches, jpeg_stats_batches, _JPEG_STATS_SCHEMA
    )
    return stats.groupBy("width", "height").agg(
        F.count(F.lit(1)).alias("n_imgs"),
        F.sum("n_blocks").cast("bigint").alias("total_blocks"),
        F.sum("n_px").cast("bigint").alias("total_px"),
        F.sum("px_sum").cast("bigint").alias("sum_px"),
        F.min("px_min").cast("int").alias("min_px"),
        F.max("px_max").cast("int").alias("max_px"),
    )


# ---------------------------------------------------------------------------
# Real 3-component (color) baseline JPEG decode: interleaved 4:4:4 MCUs with
# per-component DC predictors, separate luma/chroma quantization and Huffman
# table slots, and the JFIF YCbCr->RGB conversion — the parts of the codec
# the grayscale entry cannot reach. Same proof shape: frequency-domain
# fixture images, oracle recomputes every RGB sample from the coefficient
# formulas through the same IDCT basis constants AND the same conversion
# constants (repr-exact literals), floor(x+0.5) rounding, clamp.
# ---------------------------------------------------------------------------

from ..sources.jpeg import (  # noqa: E402  (module-late import keeps the diff local)
    YCC_B_CB,
    YCC_G_CB,
    YCC_G_CR,
    YCC_R_CR,
    encode_jpeg_color,
)

_JPEG_CHROMA_QTABLE = [22] + [9 + (k * 5) % 13 for k in range(1, 64)]

_JPEG_COLOR_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_mcus", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("min_px", IntegerType()),
        StructField("max_px", IntegerType()),
    ]
)


def _jpeg_color_geometry(doc_id: int) -> tuple[int, int]:
    return 8 * (1 + doc_id % 2), 8


def _jpeg_color_coeffs(doc_id: int, b: int) -> tuple[list, list, list]:
    """Per-MCU (Y, Cb, Cr) quantized zigzag coefficients — mirrored in SQL.
    comp index c in 1..3: DC magnitudes differ per component (luma wider),
    one AC at a (b, c)-dependent zigzag position."""
    out = []
    for c in (1, 2, 3):
        blk = [0] * 64
        if c == 1:
            blk[0] = ((doc_id * 5 + b * 11) % 160) - 80
        else:
            blk[0] = ((doc_id * (3 if c == 2 else 7) + b * (7 if c == 2 else 5)) % 120) - 60
        blk[1 + ((b + c) % 6)] = ((doc_id + b + c) % 5) - 2
        out.append(blk)
    return tuple(out)


def _jpeg_color_blob(d: int) -> tuple[bytes]:
    w, h = _jpeg_color_geometry(d)
    mcus = [_jpeg_color_coeffs(d, b) for b in range((w // 8) * (h // 8))]
    return (encode_jpeg_color(w, h, mcus, _JPEG_QTABLE, _JPEG_CHROMA_QTABLE),)


def _jpeg_rgb_stats(payload: bytes) -> tuple:
    img = decode_jpeg(payload)
    px = img.pixels
    return (
        img.width, img.height, img.n_blocks,
        sum(px[0::3]), sum(px[1::3]), sum(px[2::3]), min(px), max(px),
    )


encode_jpeg_color_batches = _doc_batches(_JPEG_SCHEMA, _jpeg_color_blob)
jpeg_color_stats_batches = _doc_batches(
    _JPEG_COLOR_STATS_SCHEMA, _jpeg_rgb_stats, "jpeg"
)


def _jpeg_chroma_qt() -> str:
    """The luma (slot 0) and chroma (slot 1) quantization tables."""
    q_rows = ", ".join(
        f"({slot}, {k}, {table[k]})"
        for slot, table in enumerate((_JPEG_QTABLE, _JPEG_CHROMA_QTABLE))
        for k in range(64)
    )
    return f"qt(slot, z, q) AS (VALUES {q_rows})"


# JFIF YCbCr -> RGB with floor(x + 0.5) rounding and clamping, over the
# yv/cbv/crv columns of the color oracles' ycc CTE.
_YCC_TO_RGB = f"""         LEAST(GREATEST(CAST(FLOOR(
           yv + {YCC_R_CR!r} * (crv - 128) + 0.5) AS BIGINT), 0), 255) AS r,
         LEAST(GREATEST(CAST(FLOOR(
           yv - {YCC_G_CB!r} * (cbv - 128) - {YCC_G_CR!r} * (crv - 128) + 0.5)
           AS BIGINT), 0), 255) AS g,
         LEAST(GREATEST(CAST(FLOOR(
           yv + {YCC_B_CB!r} * (cbv - 128) + 0.5) AS BIGINT), 0), 255) AS bl
"""


def _jpeg_color_oracle() -> str:
    return f"""
WITH {_jpeg_tables(_jpeg_chroma_qt())},
geo AS (
  SELECT doc_id, CAST(8 * (1 + doc_id % 2) AS INTEGER) AS w,
         CAST(8 AS INTEGER) AS h
  FROM documents WHERE doc_id % 7 = 0
),
blk AS (
  SELECT g.doc_id, g.w, g.h, bs.b
  FROM geo g, LATERAL unnest(generate_series(0, (g.w // 8) - 1)) AS bs(b)
),
comps AS (
  SELECT doc_id, w, h, b, cs.c,
         CASE WHEN cs.c = 1 THEN 0 ELSE 1 END AS slot
  FROM blk, LATERAL unnest(generate_series(1, 3)) AS cs(c)
),
coef AS (
  SELECT doc_id, w, h, b, c, slot, 0 AS z,
         CASE WHEN c = 1 THEN ((doc_id * 5 + b * 11) % 160) - 80
              WHEN c = 2 THEN ((doc_id * 3 + b * 7) % 120) - 60
              ELSE ((doc_id * 7 + b * 5) % 120) - 60 END AS val
  FROM comps
  UNION ALL
  SELECT doc_id, w, h, b, c, slot, 1 + ((b + c) % 6),
         ((doc_id + b + c) % 5) - 2
  FROM comps
),
samp AS (
  SELECT cf.doc_id, cf.w, cf.h, cf.b, cf.c, bu.x AS x, bv.x AS y,
         SUM((cf.val * qt.q) * bu.bv * bv.bv) AS s
  FROM coef cf
  JOIN qt ON qt.slot = cf.slot AND qt.z = cf.z
  JOIN zig ON zig.z = cf.z
  JOIN basis bu ON bu.u = zig.zu
  JOIN basis bv ON bv.u = zig.zv
  GROUP BY cf.doc_id, cf.w, cf.h, cf.b, cf.c, bu.x, bv.x
),
ycc AS (
  SELECT doc_id, w, h, b, x, y,
         LEAST(GREATEST(CAST(FLOOR(MAX(CASE WHEN c = 1 THEN s END) + 0.5)
                             AS BIGINT) + 128, 0), 255) AS yv,
         LEAST(GREATEST(CAST(FLOOR(MAX(CASE WHEN c = 2 THEN s END) + 0.5)
                             AS BIGINT) + 128, 0), 255) AS cbv,
         LEAST(GREATEST(CAST(FLOOR(MAX(CASE WHEN c = 3 THEN s END) + 0.5)
                             AS BIGINT) + 128, 0), 255) AS crv
  FROM samp GROUP BY doc_id, w, h, b, x, y
),
rgb AS (
  SELECT doc_id, w, h,
{_YCC_TO_RGB}  FROM ycc
),
stats AS (
  SELECT doc_id, w, h, SUM(r) AS sum_r, SUM(g) AS sum_g, SUM(bl) AS sum_b,
         LEAST(MIN(r), MIN(g), MIN(bl)) AS min_px,
         GREATEST(MAX(r), MAX(g), MAX(bl)) AS max_px
  FROM rgb GROUP BY doc_id, w, h
)
SELECT w AS width, COUNT(*) AS n_imgs,
       CAST(SUM(w // 8) AS BIGINT) AS total_mcus,
{_RGB_TOTALS}"""


@query(
    "mm_jpeg_color_stats",
    oracle=_jpeg_color_oracle(),
    tags=("multimodal", "pandas-udf", "jpeg", "color"),
)
def jpeg_color_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-then-decode roundtrip through REAL color (3-component 4:4:4)
    baseline JPEG bytes: interleaved MCUs, per-component DC prediction,
    luma/chroma table slots, JFIF YCbCr->RGB. The oracle recomputes every
    RGB sample from the coefficient formulas."""
    stats = _codec_gate(
        spark,
        sf_dir,
        encode_jpeg_color_batches,
        jpeg_color_stats_batches,
        _JPEG_COLOR_STATS_SCHEMA,
    )
    return _rgb_agg(stats, F.sum("n_mcus").cast("bigint").alias("total_mcus"))


# ---------------------------------------------------------------------------
# Real 4:2:0 subsampled JPEG decode with restart intervals (r10 VERDICT item
# 6 — what real-world JPEGs actually use): each MCU carries FOUR Y blocks
# and one Cb/Cr pair; chroma upsamples by 2x2 sample replication (the JFIF
# nearest-neighbor convention), and the fixture encodes with DRI = 1 so
# every multi-MCU image exercises the RSTn re-sync + predictor-reset state
# machine (half the corpus is 32x16 = 2 MCUs). Same proof shape as the
# gray/color entries: frequency-domain fixtures, oracle recomputes every
# RGB sample THROUGH THE UPSAMPLING PATH from the coefficient formulas.
# ---------------------------------------------------------------------------

from ..sources.jpeg import encode_jpeg_subsampled  # noqa: E402

_JPEG_SUB_STATS_SCHEMA = _JPEG_COLOR_STATS_SCHEMA


def _jpeg_sub_geometry(doc_id: int) -> tuple[int, int]:
    return 16 * (1 + doc_id % 2), 16


def _jpeg_sub_mcu(doc_id: int, b: int):
    """(4 Y blocks, Cb, Cr) quantized zigzag coefficients — mirrored in
    SQL. Y blocks vary per raster position j; chroma reuses the color
    entry's c-indexed formulas."""
    ys = []
    for j in range(4):
        blk = [0] * 64
        blk[0] = ((doc_id * 5 + b * 11 + j * 17) % 160) - 80
        blk[1 + ((b + j) % 5)] = ((doc_id + b + j) % 5) - 2
        ys.append(blk)
    chroma = []
    for c in (2, 3):
        blk = [0] * 64
        blk[0] = ((doc_id * (3 if c == 2 else 7) + b * (7 if c == 2 else 5)) % 120) - 60
        blk[1 + ((b + c) % 6)] = ((doc_id + b + c) % 5) - 2
        chroma.append(blk)
    return ys, chroma[0], chroma[1]


def _jpeg_sub_blob(d: int) -> tuple[bytes]:
    w, h = _jpeg_sub_geometry(d)
    mcus = [_jpeg_sub_mcu(d, b) for b in range((w // 16) * (h // 16))]
    return (
        encode_jpeg_subsampled(
            w, h, mcus, _JPEG_QTABLE, _JPEG_CHROMA_QTABLE, restart_interval=1
        ),
    )


encode_jpeg_sub_batches = _doc_batches(_JPEG_SCHEMA, _jpeg_sub_blob)


def _jpeg_sub_oracle() -> str:
    return f"""
WITH {_jpeg_tables(_jpeg_chroma_qt())},
geo AS (
  SELECT doc_id, CAST(16 * (1 + doc_id % 2) AS INTEGER) AS w,
         CAST(16 AS INTEGER) AS h
  FROM documents WHERE doc_id % 7 = 0
),
mcu AS (
  SELECT g.doc_id, g.w, bs.b
  FROM geo g, LATERAL unnest(generate_series(0, (g.w // 16) - 1)) AS bs(b)
),
ycoef AS (
  SELECT doc_id, w, b, js.j, 0 AS z,
         ((doc_id * 5 + b * 11 + js.j * 17) % 160) - 80 AS val
  FROM mcu, LATERAL unnest(generate_series(0, 3)) AS js(j)
  UNION ALL
  SELECT doc_id, w, b, js.j, 1 + ((b + js.j) % 5),
         ((doc_id + b + js.j) % 5) - 2
  FROM mcu, LATERAL unnest(generate_series(0, 3)) AS js(j)
),
ccoef AS (
  SELECT doc_id, w, b, cs.c, 0 AS z,
         CASE WHEN cs.c = 2 THEN ((doc_id * 3 + b * 7) % 120) - 60
              ELSE ((doc_id * 7 + b * 5) % 120) - 60 END AS val
  FROM mcu, LATERAL unnest(generate_series(2, 3)) AS cs(c)
  UNION ALL
  SELECT doc_id, w, b, cs.c, 1 + ((b + cs.c) % 6),
         ((doc_id + b + cs.c) % 5) - 2
  FROM mcu, LATERAL unnest(generate_series(2, 3)) AS cs(c)
),
ysamp AS (
  SELECT cf.doc_id, cf.w, cf.b,
         (cf.j % 2) * 8 + bu.x AS px, (cf.j // 2) * 8 + bv.x AS py,
         LEAST(GREATEST(CAST(FLOOR(SUM((cf.val * qt.q) * bu.bv * bv.bv) + 0.5)
                             AS BIGINT) + 128, 0), 255) AS yv
  FROM ycoef cf
  JOIN qt ON qt.slot = 0 AND qt.z = cf.z
  JOIN zig ON zig.z = cf.z
  JOIN basis bu ON bu.u = zig.zu
  JOIN basis bv ON bv.u = zig.zv
  GROUP BY cf.doc_id, cf.w, cf.b, cf.j, bu.x, bv.x
),
csamp AS (
  SELECT cf.doc_id, cf.b, cf.c, bu.x AS cx, bv.x AS cy,
         LEAST(GREATEST(CAST(FLOOR(SUM((cf.val * qt.q) * bu.bv * bv.bv) + 0.5)
                             AS BIGINT) + 128, 0), 255) AS cv
  FROM ccoef cf
  JOIN qt ON qt.slot = 1 AND qt.z = cf.z
  JOIN zig ON zig.z = cf.z
  JOIN basis bu ON bu.u = zig.zu
  JOIN basis bv ON bv.u = zig.zv
  GROUP BY cf.doc_id, cf.b, cf.c, bu.x, bv.x
),
cup AS (
  -- 2x2 nearest-neighbor upsample: each chroma sample covers four pixels.
  SELECT doc_id, b, c, 2 * cx + dd.dx AS px, 2 * cy + ee.dy AS py, cv
  FROM csamp,
       LATERAL unnest(generate_series(0, 1)) AS dd(dx),
       LATERAL unnest(generate_series(0, 1)) AS ee(dy)
),
ycc AS (
  SELECT y.doc_id, y.w, y.b, y.px, y.py, y.yv,
         MAX(CASE WHEN u.c = 2 THEN u.cv END) AS cbv,
         MAX(CASE WHEN u.c = 3 THEN u.cv END) AS crv
  FROM ysamp y
  JOIN cup u ON u.doc_id = y.doc_id AND u.b = y.b
            AND u.px = y.px AND u.py = y.py
  GROUP BY y.doc_id, y.w, y.b, y.px, y.py, y.yv
),
rgb AS (
  SELECT doc_id, w,
{_YCC_TO_RGB}  FROM ycc
),
stats AS (
  SELECT doc_id, w, SUM(r) AS sum_r, SUM(g) AS sum_g, SUM(bl) AS sum_b,
         LEAST(MIN(r), MIN(g), MIN(bl)) AS min_px,
         GREATEST(MAX(r), MAX(g), MAX(bl)) AS max_px
  FROM rgb GROUP BY doc_id, w
)
SELECT w AS width, COUNT(*) AS n_imgs,
       CAST(SUM(w // 16) AS BIGINT) AS total_mcus,
{_RGB_TOTALS}"""


@query(
    "mm_jpeg_subsampled_stats",
    oracle=_jpeg_sub_oracle(),
    tags=("multimodal", "pandas-udf", "jpeg", "subsampling", "restart"),
)
def jpeg_subsampled_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-then-decode roundtrip through REAL 4:2:0 JPEG bytes with
    restart intervals (DRI=1): per-(width) aggregate of the decoded RGB
    sums/extrema. The oracle recomputes every pixel from the coefficient
    formulas through the chroma 2x2-replication upsample and the JFIF
    conversion — one wrong bit in the RSTn re-sync, the predictor resets,
    the 4-blocks-per-MCU interleave order, or the upsample indexing breaks
    the hash."""
    stats = _codec_gate(
        spark,
        sf_dir,
        encode_jpeg_sub_batches,
        jpeg_color_stats_batches,
        _JPEG_SUB_STATS_SCHEMA,
    )
    return _rgb_agg(stats, F.sum("n_mcus").cast("bigint").alias("total_mcus"))


# ---------------------------------------------------------------------------
# Real WebP-lossless (VP8L) decode (r10 VERDICT item 8): per-document
# fixture images with PERIODIC rows, encoded as real VP8L bytes whose rows
# 2..h ride ONE LZ77 backward reference (distance = row stride) and whose
# repeated colors hit the color cache — so the entry drives prefix-code
# construction, the code-length code, backref copying AND cache hashing on
# every payload. Lossless means the decoded samples equal the closed-form
# pixel formulas, which the oracle recomputes directly; any decoder-layer
# bit error breaks the hash. Same Arrow-batched zero-shuffle shape as the
# PNG/JPEG entries.
# ---------------------------------------------------------------------------

_WEBP_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("webp", BinaryType())]
)

_WEBP_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("min_px", IntegerType()),
        StructField("max_px", IntegerType()),
    ]
)

_WEBP_H = 4


def _webp_geometry(doc_id: int) -> tuple[int, int]:
    return 4 * (1 + doc_id % 3), _WEBP_H


def _webp_row_rgba(doc_id: int, w: int) -> list[int]:
    """One row of RGBA samples — mirrored in SQL. Alpha fixed at 255."""
    row = []
    for x in range(w):
        row.extend(
            (
                (doc_id * 7 + x * 13) % 256,
                (doc_id * 11 + x * 5) % 256,
                (doc_id * 3 + x * 17) % 256,
                255,
            )
        )
    return row


def _webp_blob(d: int) -> tuple[bytes]:
    w, h = _webp_geometry(d)
    return (
        encode_webp_lossless(
            w, h, _webp_row_rgba(d, w) * h,
            backrefs=[(w, w * (h - 1), w)],  # rows 2..h copy row 1
            cache_bits=4,
            subtract_green=True,  # exercises the inverse transform
            # r12: the row-stride copy now rides the spec's
            # near-distance window codes ((0,1) at these widths)
            # instead of absolute codes; decoded stats — and thus
            # the gate hashes — are unchanged (lossless).
            near_codes=True,
        ),
    )


def _webp_stats(payload: bytes) -> tuple:
    img = decode_webp_lossless(payload)
    px = img.pixels
    rgb = px[0::4] + px[1::4] + px[2::4]
    return (
        img.width, img.height,
        sum(px[0::4]), sum(px[1::4]), sum(px[2::4]), min(rgb), max(rgb),
    )


encode_webp_batches = _doc_batches(_WEBP_SCHEMA, _webp_blob)
webp_stats_batches = _doc_batches(_WEBP_STATS_SCHEMA, _webp_stats, "webp")


_WEBP_ORACLE = f"""
WITH geo AS (
  SELECT doc_id, CAST(4 * (1 + doc_id % 3) AS INTEGER) AS w FROM documents WHERE doc_id % 7 = 0
),
px AS (
  SELECT g.doc_id, g.w,
         (g.doc_id * 7 + xs.x * 13) % 256 AS r,
         (g.doc_id * 11 + xs.x * 5) % 256 AS gg,
         (g.doc_id * 3 + xs.x * 17) % 256 AS b
  FROM geo g, LATERAL unnest(generate_series(0, g.w - 1)) AS xs(x)
),
stats AS (
  SELECT doc_id, w,
         {_WEBP_H} * SUM(r) AS sum_r, {_WEBP_H} * SUM(gg) AS sum_g,
         {_WEBP_H} * SUM(b) AS sum_b,
         LEAST(MIN(r), MIN(gg), MIN(b)) AS min_px,
         GREATEST(MAX(r), MAX(gg), MAX(b)) AS max_px
  FROM px GROUP BY doc_id, w
)
SELECT w AS width, COUNT(*) AS n_imgs,
{_RGB_TOTALS}"""


@query(
    "mm_webp_lossless_stats",
    oracle=_WEBP_ORACLE,
    tags=("multimodal", "pandas-udf", "webp", "vp8l"),
)
def webp_lossless_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-then-decode roundtrip through REAL VP8L bytes (backward
    reference per image + color cache); per-width aggregate of decoded RGB
    sums/extrema, hash-matched against the closed-form pixel formulas."""
    return _rgb_agg(
        _codec_gate(
            spark, sf_dir, encode_webp_batches, webp_stats_batches, _WEBP_STATS_SCHEMA
        )
    )


# ---------------------------------------------------------------------------
# VP8L PREDICTOR transform decode (r12, closing the r11 scope rejection
# alongside the near-distance table): per-document fixtures whose pixels
# vary in BOTH x and y, encoded with a real PREDICTOR_TRANSFORM — a
# doc-cycled mode (all 14 modes across the corpus), a real entropy-coded
# mode sub-image, and the w=12 class carrying a 2-block mode grid whose
# TR-using modes hit the rightmost-column wrap rule. Lossless, so the
# oracle recomputes the closed-form pixel formulas directly; one wrong bit
# in any predictor mode, the border rules, or the mode-grid decode breaks
# the hash.
# ---------------------------------------------------------------------------

_WEBP_PRED_H = 4


def _webp_pred_geometry(doc_id: int) -> int:
    return 4 * (1 + doc_id % 3)


def _webp_pred_rgba(doc_id: int, w: int) -> list[int]:
    """Row-major RGBA samples varying in x AND y — mirrored in SQL."""
    out = []
    for y in range(_WEBP_PRED_H):
        for x in range(w):
            out.extend(
                (
                    (doc_id * 7 + x * 13 + y * 29) % 256,
                    (doc_id * 11 + x * 5 + y * 3) % 256,
                    (doc_id * 3 + x * 17 + y * 7) % 256,
                    255,
                )
            )
    return out


def _webp_pred_blob(d: int) -> tuple[bytes]:
    w = _webp_pred_geometry(d)
    mw = (w + 7) >> 3  # size_bits 3 -> 8-px blocks; h=4 -> 1 row
    return (
        encode_webp_lossless(
            w, _WEBP_PRED_H, _webp_pred_rgba(d, w),
            predictor_size_bits=3,
            predictor_modes=[(d + 3 * k) % 14 for k in range(mw)],
        ),
    )


encode_webp_pred_batches = _doc_batches(_WEBP_SCHEMA, _webp_pred_blob)


_WEBP_PRED_ORACLE = f"""
WITH geo AS (
  SELECT doc_id, CAST(4 * (1 + doc_id % 3) AS INTEGER) AS w
  FROM documents WHERE doc_id % 7 = 0
),
px AS (
  SELECT g.doc_id, g.w,
         (g.doc_id * 7 + xs.x * 13 + ys.y * 29) % 256 AS r,
         (g.doc_id * 11 + xs.x * 5 + ys.y * 3) % 256 AS gg,
         (g.doc_id * 3 + xs.x * 17 + ys.y * 7) % 256 AS b
  FROM geo g,
       LATERAL unnest(generate_series(0, g.w - 1)) AS xs(x),
       LATERAL unnest(generate_series(0, {_WEBP_PRED_H} - 1)) AS ys(y)
),
stats AS (
  SELECT doc_id, w,
         SUM(r) AS sum_r, SUM(gg) AS sum_g, SUM(b) AS sum_b,
         LEAST(MIN(r), MIN(gg), MIN(b)) AS min_px,
         GREATEST(MAX(r), MAX(gg), MAX(b)) AS max_px
  FROM px GROUP BY doc_id, w
)
SELECT w AS width, COUNT(*) AS n_imgs,
{_RGB_TOTALS}"""


@query(
    "mm_webp_predictor_stats",
    oracle=_WEBP_PRED_ORACLE,
    tags=("multimodal", "pandas-udf", "webp", "vp8l", "predictor"),
)
def webp_predictor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-then-decode roundtrip through REAL VP8L bytes carrying a
    PREDICTOR_TRANSFORM (doc-cycled modes 0..13, entropy-coded mode grid,
    rightmost-column TR wrap on the 2-block class): per-width aggregate of
    decoded RGB sums/extrema vs the closed-form pixel formulas. Runs the
    codec family's 1-in-7 doc slice (fixture-size policy)."""
    return _rgb_agg(
        _codec_gate(
            spark,
            sf_dir,
            encode_webp_pred_batches,
            webp_stats_batches,
            _WEBP_STATS_SCHEMA,
        )
    )
