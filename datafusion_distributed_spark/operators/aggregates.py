"""Extended aggregate-function surface: exact percentiles, ordered string
aggregation, and moment statistics (stddev/corr) computed portably.

Widens SURVEY.md §2.3's aggregate class beyond sum/count/min/max/avg to the
rest of the aggregate surface DataFusion inherits. The portability rules:

- Exact percentiles: Spark ``percentile()`` and DuckDB ``quantile_cont()``
  both linear-interpolate (1-g)*lo + g*hi at rank (n-1)*q. For q in
  {.25,.5,.75} g is an exact binary fraction and l_quantity is integral, so
  both engines produce bit-identical doubles.
- listagg: Spark has no ordered string_agg; sort_array(collect_list) +
  array_join is the deterministic equivalent of DuckDB's
  ``string_agg(x, ',' ORDER BY x)``.
- stddev/corr: NEVER aggregate doubles directly (summation order). Compute
  Σx, Σx², Σxy as EXACT integers/decimals (quantity is integral ≤ 50; price
  is exact cents), then evaluate the closed-form moments in double — every
  division/sqrt sees identical exact operands in both engines, and IEEE
  division/sqrt are correctly rounded, so results hash-match.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ._util import _fan_out, t
from .registry import query, sql_query

# ---------------------------------------------------------------------------
# Exact percentiles (PercentileCont / APPROX-free): p25/median/p75 quantity
# per return flag.
# ---------------------------------------------------------------------------

_PCTL_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n,
  quantile_cont(l_quantity, 0.25) AS p25_qty,
  quantile_cont(l_quantity, 0.5) AS median_qty,
  quantile_cont(l_quantity, 0.75) AS p75_qty
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_exact_percentiles", oracle=_PCTL_ORACLE, tags=("aggregate", "percentile"))
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir)["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(l_quantity, 0.25)").alias("p25_qty"),
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75_qty"),
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation (LISTAGG / string_agg WITHIN GROUP).
# ---------------------------------------------------------------------------

_LISTAGG_ORACLE = """
SELECT r_name, COUNT(*) AS n_nations,
  string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM region JOIN nation ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@query("agg_listagg_nations", oracle=_LISTAGG_ORACLE, tags=("aggregate", "listagg"))
def listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    joined = tb["region"].join(
        tb["nation"], F.col("n_regionkey") == F.col("r_regionkey")
    )
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
    )


# ---------------------------------------------------------------------------
# Moment statistics from exact sums: stddev_samp(quantity) and
# corr(quantity, extendedprice) per return flag. Sums are DECIMAL(38,0)
# (price-cents squared overflows int64 at this row count); the closed-form
# moments are evaluated on exact operands in double.
# ---------------------------------------------------------------------------

_MOMENTS_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
    COUNT(*) AS n,
    SUM(CAST(l_quantity AS BIGINT)) AS sx,
    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sy,
    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS syy,
    SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS stddev_qty,
  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_price
FROM s
"""


@query("agg_exact_moments", oracle=_MOMENTS_ORACLE, tags=("aggregate", "statistics"))
def exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir)["lineitem"]
    qty = F.col("l_quantity").cast("long")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    # All sums stay int64 on the per-row hot path (whole-stage-codegen long
    # arithmetic; a per-row DECIMAL(38,0) agg measured ~4x on this query).
    # Overflow margins per row: x<=50, y<=~1.2e7 cents =>
    #   sx ~5e1, sxx ~2.5e3, sy ~1.2e7, sxy ~6e8 — int64-safe past SF1000.
    #   y*y ~1.4e14 fits int64 per row, but its SUM wraps at ~7.5e4 rows —
    #   so syy is split y*y = hi*1e9 + lo (hi<=~1.4e5, lo<1e9; both sums
    #   int64-safe past SF1000) and recombined POST-aggregation in
    #   DECIMAL(38,0), exactly like tpch_q1's sum_charge. DuckDB's
    #   SUM(BIGINT)->HUGEINT is exact the whole way, so outputs hash-match.
    yy = F.col("y") * F.col("y")
    yy_hi = F.expr("(y * y) DIV 1000000000")
    s = li.select(
        "l_returnflag",
        qty.alias("x"),
        cents.alias("y"),
    ).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(yy_hi).alias("syy_hi"),
        F.sum(yy - yy_hi * F.lit(1_000_000_000)).alias("syy_lo"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).withColumn(
        "syy",
        F.col("syy_hi").cast("decimal(38,0)") * F.lit(1_000_000_000)
        + F.col("syy_lo").cast("decimal(38,0)"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    stddev = F.sqrt((nd * sxx - sx * sx) / (nd * (nd - F.lit(1.0))))
    corr = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return s.select(
        "l_returnflag",
        "n",
        stddev.alias("stddev_qty"),
        corr.alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Boolean / bitwise aggregates: bool_and/bool_or, bit_and/bit_or/bit_xor —
# the remainder of DataFusion's inherited aggregate surface (§2.3). All
# integer/boolean-exact, so portability is free.
# ---------------------------------------------------------------------------

_BOOLBIT_ORACLE = """
SELECT l_returnflag,
  bool_and(l_quantity < 49) AS all_small,
  bool_or(l_discount > 0.09) AS any_deep_discount,
  CAST(bit_and(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_bit_and,
  CAST(bit_or(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_bit_or,
  CAST(bit_xor(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_bit_xor
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_bool_bit_ops", oracle=_BOOLBIT_ORACLE, tags=("aggregate",))
def bool_bit_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir)["lineitem"]
    q = F.col("l_quantity").cast("long")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") < 49).alias("all_small"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.bit_and(q).cast("bigint").alias("qty_bit_and"),
        F.bit_or(q).cast("bigint").alias("qty_bit_or"),
        F.bit_xor(q).cast("bigint").alias("qty_bit_xor"),
    )


# ---------------------------------------------------------------------------
# Date/time scalar-function surface: quarter, month name boundaries,
# last_day, add_months, datediff — grouped into a calendar rollup.
# All date arithmetic is integer-exact; outputs are formatted strings/ints.
# ---------------------------------------------------------------------------

_DATES_ORACLE = """
SELECT
  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
  CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS q,
  COUNT(*) AS n_orders,
  strftime(MIN(date_trunc('month', o_orderdate)), '%Y-%m-%d') AS first_month_start,
  strftime(MAX(last_day(o_orderdate)), '%Y-%m-%d') AS last_month_end,
  CAST(MAX(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS max_days_since_95
FROM orders
GROUP BY 1, 2
"""


@query("fn_date_surface", oracle=_DATES_ORACLE, tags=("functions", "temporal"))
def date_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir)["orders"]
    d = F.col("o_orderdate").cast("date")
    return (
        orders.select(
            F.year(d).alias("y"),
            F.quarter(d).alias("q"),
            d.alias("d"),
        )
        .groupBy("y", "q")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.date_format(F.min(F.trunc("d", "month")), "yyyy-MM-dd").alias(
                "first_month_start"
            ),
            F.date_format(F.max(F.last_day("d")), "yyyy-MM-dd").alias(
                "last_month_end"
            ),
            F.max(F.datediff("d", F.lit("1995-01-01").cast("date")))
            .cast("bigint")
            .alias("max_days_since_95"),
        )
    )


# ---------------------------------------------------------------------------
# Case-insensitive collation surface (Spark 4 COLLATE): group-by and filter
# under UTF8_LCASE so 'SRC1'/'Src1'/'src1' collapse into one group — the
# string-collation physical surface next to the binary-collation queries.
# The mixed-case input is synthesized deterministically from doc_id (the
# corpus is all-lowercase), so the query proves collation is doing the
# merging, not the data. Oracle parity: over ASCII, UTF8_LCASE grouping ==
# grouping by lower(); the emitted group key is min(lower(source)) — equal
# within a collated group by definition — never a collation-chosen
# representative (which member of an equal class MIN returns is
# unspecified).
#
# Scale: one hash aggregate; the collated key hashes on the collation key
# (lowercased form) exactly like any group-by — no new shuffle hazard.
# ---------------------------------------------------------------------------

_COLLATED_MIX_SQL = """
CASE WHEN doc_id % 3 = 0 THEN upper(source)
     WHEN doc_id % 3 = 1 THEN concat(upper(substr(source, 1, 1)), substr(source, 2))
     ELSE source END
"""

_COLLATED_ORACLE = f"""
WITH mixed AS (
  SELECT doc_id, n_chars, lang, {_COLLATED_MIX_SQL} AS msrc FROM documents
)
SELECT min(lower(msrc)) AS source_key,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT msrc) AS n_case_variants,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM mixed
WHERE lower(msrc) <> 'src0'
GROUP BY lower(msrc)
ORDER BY source_key
"""


@query(
    "fn_collated_groupby",
    oracle=_COLLATED_ORACLE,
    tags=("functions", "collation"),
    order_by="source_key",
)
def fn_collated_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    mixed = docs.select(
        "n_chars",
        F.expr(_COLLATED_MIX_SQL).alias("msrc"),
    ).withColumn("csrc", F.collate(F.col("msrc"), "UTF8_LCASE"))
    return (
        mixed.filter(F.col("csrc") != F.lit("src0"))
        .groupBy("csrc")
        .agg(
            F.min(F.lower("msrc")).alias("source_key"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("msrc").alias("n_case_variants"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select("source_key", "n_docs", "n_case_variants", "total_chars")
        .orderBy("source_key")
    )


# ---------------------------------------------------------------------------
# ANSI error-safe arithmetic surface (try_divide / try_multiply / try_cast):
# the session runs ANSI mode (spark.sql.ansi.enabled=true, where 1/0 and
# bigint overflow RAISE — proven by tests/test_error_propagation.py); the
# try_* family is the per-expression opt-out that converts those errors to
# NULL. Each lane is data-dependent — zero denominators from l_linenumber,
# malformed cast inputs from an orderkey-gated string, bigint overflow from
# (l_suppkey + 1) * 2^62 on the ~2% of rows where l_orderkey % 50 = 0 —
# and the oracle reproduces the NULL sets with explicit CASE guards
# (DuckDB's own x/0 or overflow would error too).
#
# Per-row cost discipline: Spark implements try_* NULL-on-error by CATCHING
# a per-row JVM ArithmeticException (~16 µs/row — ~2,000× a plain multiply).
# The overflow lane is therefore gated so the exception path is COLD: only
# rows with l_orderkey % 50 = 0 get the 2^62 factor (and overflow); the
# other 98% multiply by 3 and take the fast non-throwing path, so both NULL
# and non-NULL outputs occur and the battery proves the surface without
# paying exception-construction on every row. (Round-4 verdict: the
# ungated always-overflow lane alone cost 9.9 s — 13% of the whole battery.
# tests/test_cost_lint.py now rejects that class mechanically.)
#
# Scale: pure scan → narrow projections → one tiny hash aggregate.
# ---------------------------------------------------------------------------

_TRY_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
       CAST(SUM(COALESCE(CAST(ROUND(d * 1000000.0, 0) AS BIGINT), 0)) AS BIGINT)
         AS sum_div_micro,
       CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_null,
       CAST(SUM(COALESCE(c, 0)) AS BIGINT) AS sum_cast,
       CAST(SUM(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mul_null,
       CAST(SUM(COALESCE(m, 0)) AS BIGINT) AS sum_mul
FROM (
  SELECT l_returnflag,
         CASE WHEN (l_linenumber - 3) = 0 THEN NULL
              ELSE CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   / CAST(l_linenumber - 3 AS DOUBLE) END AS d,
         TRY_CAST(CASE WHEN l_orderkey % 5 = 0 THEN 'oops'
                       ELSE CAST(l_suppkey AS VARCHAR) END AS BIGINT) AS c,
         CASE WHEN l_orderkey % 50 = 0 THEN NULL
              ELSE (l_suppkey + 2) * 3 END AS m
  FROM lineitem
) x
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query(
    "fn_try_arithmetic",
    oracle=_TRY_ORACLE,
    tags=("functions", "ansi", "error-safe"),
    order_by="l_returnflag",
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir)["lineitem"]
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    d = F.try_divide(cents, (F.col("l_linenumber") - 3).cast("double"))
    c = F.expr(
        "try_cast(CASE WHEN l_orderkey % 5 = 0 THEN 'oops'"
        " ELSE CAST(l_suppkey AS STRING) END AS BIGINT)"
    )
    # Overflow is the exception, not the rule: 2% of rows (orderkey % 50 = 0)
    # get the 2^62 factor and overflow -> NULL; the rest multiply by 3 on the
    # non-throwing fast path. try_multiply still proves the NULL-on-overflow
    # contract, without a per-row exception storm.
    # (l_suppkey + 2) because this dataset's suppkeys start at 0: s + 2 >= 2
    # guarantees the gated 2^62 factor always overflows int64.
    m = F.try_multiply(
        F.col("l_suppkey") + 2,
        F.when(F.col("l_orderkey") % 50 == 0, F.lit(4611686018427387904)).otherwise(
            F.lit(3)
        ),
    )
    x = li.select("l_returnflag", d.alias("d"), c.alias("c"), m.alias("m"))
    return (
        x.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("d").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_div_null"),
            F.sum(
                F.coalesce(F.round(F.col("d") * 1000000.0, 0).cast("long"), F.lit(0))
            )
            .cast("long")
            .alias("sum_div_micro"),
            F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_cast_null"),
            F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("sum_cast"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_mul_null"),
            F.sum(F.coalesce(F.col("m"), F.lit(0))).cast("long").alias("sum_mul"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Array higher-order-function surface (transform / filter / exists /
# aggregate-reduce / sort / slice / sequence): DataFusion ships the array_*
# function family (datafusion/functions-nested — public API the reference
# inherits); Spark's lambda HOFs are the same surface. Portability: every
# array is built from EXACT integers (cents / integral quantity), reduce is
# an integer sum (order-independent), the sorted-slice join is over integer
# strings — so DuckDB's list_* spellings must hash-match bit-for-bit.
# ---------------------------------------------------------------------------

def _array_hof_oracle(mod: int = 3, big: int = 100000, seq_mod: int = 5) -> str:
    return f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(list_sum(list_transform(arr, x -> x * 2 + 1))) AS BIGINT)
         AS sum_transform,
       CAST(SUM(len(list_filter(arr, x -> x % {mod} = 0))) AS BIGINT)
         AS n_div3,
       CAST(SUM(CASE WHEN len(list_filter(arr, x -> x > {big})) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_exists_big,
       CAST(SUM(CASE WHEN len(list_filter(arr, x -> x >= 0)) = len(arr)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_forall_nonneg,
       MIN(array_to_string(list_sort(arr)[1:2], ',')) AS min_sorted_head,
       CAST(SUM(list_sum(generate_series(1, CAST(qty AS BIGINT) % {seq_mod} + 1)))
            AS BIGINT) AS sum_seq
FROM (
  SELECT l_returnflag, l_quantity AS qty,
         [CAST(ROUND(l_extendedprice * 100) AS BIGINT),
          CAST(ROUND(l_discount * 100) AS BIGINT),
          CAST(ROUND(l_tax * 100) AS BIGINT),
          CAST(l_quantity AS BIGINT)] AS arr
  FROM lineitem
) x
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def _array_hof_spark_sql(
    mod: int = 3, big: int = 100000, seq_mod: int = 5, source: str = "lineitem"
) -> str:
    return f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(aggregate(transform(arr, x -> x * 2 + 1), 0L, (a, x) -> a + x))
            AS BIGINT) AS sum_transform,
       CAST(SUM(size(filter(arr, x -> x % {mod} = 0))) AS BIGINT) AS n_div3,
       CAST(SUM(CASE WHEN exists(arr, x -> x > {big}) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exists_big,
       CAST(SUM(CASE WHEN forall(arr, x -> x >= 0) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_forall_nonneg,
       MIN(array_join(slice(array_sort(arr), 1, 2), ',')) AS min_sorted_head,
       CAST(SUM(aggregate(sequence(1L, CAST(qty AS BIGINT) % {seq_mod} + 1), 0L,
                          (a, x) -> a + x)) AS BIGINT) AS sum_seq
FROM (
  SELECT l_returnflag, l_quantity AS qty,
         array(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
               CAST(ROUND(l_discount * 100) AS BIGINT),
               CAST(ROUND(l_tax * 100) AS BIGINT),
               CAST(l_quantity AS BIGINT)) AS arr
  FROM {source}
) x
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query(
    "fn_array_hof_surface",
    oracle=_array_hof_oracle(),
    tags=("functions", "array", "hof"),
    order_by="l_returnflag",
)
def fn_array_hof_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The lambdas run interpreted, once per element of every row, so the
    # scan's split count caps the query: _fan_out spreads the five input
    # columns over every core first (a no-op once lineitem scans that wide).
    li = t(spark, sf_dir)["lineitem"]
    cols = ["l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return spark.sql(
        _array_hof_spark_sql(source="{li}"), li=_fan_out(li.select(*cols), src=li)
    )


# ---------------------------------------------------------------------------
# String-function surface (levenshtein / translate / split_part / lpad /
# repeat / reverse / printf / instr): the scalar string family DataFusion
# ships in datafusion/functions (public API). Identical spellings exist in
# DuckDB except the printf-vs-format_string name; all outputs are strings
# or exact integers, aggregated with MIN/MAX/SUM so multiset compare is
# order-free.
# ---------------------------------------------------------------------------

def _string_surface_sql(
    fmt_fn: str,
    strtype: str,
    word_idx: int = 2,
    pad: int = 4,
    rep_mod: int = 3,
    needle: str = "e",
) -> str:
    return f"""
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(levenshtein(p_name, reverse(p_name))) AS BIGINT) AS sum_lev,
       MIN(split_part(p_name, ' ', {word_idx})) AS min_word2,
       MAX(translate(p_name, 'aeiou', 'AEIOU')) AS max_translated,
       MIN({fmt_fn}('%s-%0{pad - 1}d', substr(p_name, 1, 3), CAST(p_size AS INT)))
         AS min_fmt,
       CAST(SUM(instr(p_name, '{needle}')) AS BIGINT) AS sum_instr_e,
       MAX(lpad(CAST(p_size AS {strtype}), {pad}, '0')) AS max_lpad,
       MIN(repeat(substr(p_brand, 7, 1), CAST(p_size AS BIGINT) % {rep_mod} + 1))
         AS min_repeat
FROM part
GROUP BY p_brand
ORDER BY p_brand
"""


sql_query(
    "fn_string_surface",
    _string_surface_sql("format_string", "STRING"),
    oracle=_string_surface_sql("printf", "VARCHAR"),
    tags=("functions", "string"),
    order_by="p_brand",
)


# ---------------------------------------------------------------------------
# Map-type surface (map construction / element_at / map_keys / map_values /
# cardinality): the MAP collection type both engines support (DataFusion:
# functions-nested map_* — public API). Portability notes: DuckDB's
# map_extract/element_at return a single-element LIST (unwrapped with [1]),
# Spark returns the scalar; DuckDB spells map construction
# map([keys],[values]), Spark map(k1, v1, k2, v2). Values stay exact
# BIGINTs so every aggregate is order-free integer math.
# ---------------------------------------------------------------------------

_MAP_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(element_at(m, 'qty')[1]) AS BIGINT) AS sum_qty_via_map,
       CAST(SUM(cardinality(m)) AS BIGINT) AS sum_card,
       MIN(array_to_string(map_keys(m), ',')) AS keys_csv,
       CAST(SUM(list_sum(map_values(m))) AS BIGINT) AS sum_vals
FROM (
  SELECT l_returnflag,
         map(['qty', 'line', 'cents'],
             [CAST(l_quantity AS BIGINT), CAST(l_linenumber AS BIGINT),
              CAST(ROUND(l_extendedprice * 100) AS BIGINT)]) AS m
  FROM lineitem
) x
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

_MAP_SPARK_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(element_at(m, 'qty')) AS BIGINT) AS sum_qty_via_map,
       CAST(SUM(cardinality(m)) AS BIGINT) AS sum_card,
       MIN(array_join(map_keys(m), ',')) AS keys_csv,
       CAST(SUM(aggregate(map_values(m), 0L, (a, x) -> a + x)) AS BIGINT)
         AS sum_vals
FROM (
  SELECT l_returnflag,
         map('qty', CAST(l_quantity AS BIGINT),
             'line', CAST(l_linenumber AS BIGINT),
             'cents', CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS m
  FROM lineitem
) x
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


sql_query(
    "fn_map_surface",
    _MAP_SPARK_SQL,
    oracle=_MAP_ORACLE,
    tags=("functions", "map"),
    order_by="l_returnflag",
)
