"""TPC-H-class relational operators, adapted to the driver's simplified star
schema (TESTDATA.md: no partsupp table, trimmed columns; q11/q20 recover
their partsupp-dependent constructs from a lineitem-derived equivalent —
see the q11+q20 block at the end of this module).

Coverage target: the query classes the reference proves via its TPC-H 22/22
suite (/root/reference/tests/tpch_correctness_test.rs;
/root/reference/testdata/tpch/queries/q1.sql..q22.sql — see SURVEY.md §2.3):
multi-way equi-joins, grouped aggregates over money values, correlated and
uncorrelated scalar subqueries, EXISTS/NOT EXISTS (semi/anti joins), IN
subqueries, CASE, LIKE, date arithmetic/EXTRACT, HAVING, top-k.

Everything is expressed with the DataFrame API so Catalyst plans it: scans get
predicate/projection pushdown, aggregates split partial/final (the reference's
AggregateExec Partial/FinalPartitioned pair,
src/distributed_planner/distributed_query_planner.rs:233-238), small dimension
joins broadcast (the reference's insert_broadcast pass,
src/distributed_planner/insert_broadcast.rs:17-166 — Spark does this by size),
and big joins shuffle on their keys (NetworkShuffleExec,
src/execution_plans/network_shuffle.rs).

Money arithmetic is exact scaled-int64 (see _util docstring): fast (whole-
stage codegen long math), summation-order independent, oracle-portable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ._util import (
    C,
    QI,
    REVENUE_I_SQL,
    REVENUE_SCALE,
    cents,
    dbl,
    fmt_date,
    qty_i,
    revenue_i,
    t,
    ts,
    unscale,
)
from .registry import query, sql_query

# ---------------------------------------------------------------------------
# q1: pricing summary — scan → filter → partial/final hash aggregate.
# Reference exercises this exact shape as its canonical example
# (docs/source/learn/02-how-a-distributed-plan-is-built.md; testdata/tpch/queries/q1.sql).
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM({QI()}) AS DOUBLE) AS sum_qty,
  CAST(SUM({C('l_extendedprice')}) AS DOUBLE) / 100.0 AS sum_base_price,
  CAST(SUM({REVENUE_I_SQL}) AS DOUBLE) / 10000.0 AS sum_disc_price,
  CAST(SUM({REVENUE_I_SQL} * (100 + {C('l_tax')})) AS DOUBLE) / 1000000.0 AS sum_charge,
  CAST(SUM({QI()}) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM({C('l_extendedprice')}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
  CAST(SUM({C('l_discount')}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1_pricing_summary", oracle=_Q1_ORACLE, tags=("agg", "tpch"))
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir)["lineitem"].filter(F.col("l_shipdate") <= ts("1998-09-02"))
    cnt = F.count(F.lit(1))
    sum_qty = F.sum(qty_i())
    sum_price = F.sum(cents("l_extendedprice"))
    # sum_charge = sum(rev_i * (100 + tax_cents)) at scale 1e6 — split into
    # two int64 sums so the hot per-row path stays whole-stage-codegen long
    # arithmetic (a per-row DECIMAL(38,0) agg cost ~1.7x on q1):
    #   sum_rev   = sum(rev_i)              : rev_i <= ~1.1e9/row; 6e6 rows/SF
    #               -> ~6.6e15/SF, int64-safe past SF1000.
    #   sum_cross = sum(rev_i * tax_cents)  : tax_cents <= 8 -> <= ~8.8e9/row
    #               -> ~5.3e16/SF, int64-safe past SF150.
    # The exact recombination 100*sum_rev + sum_cross is done POST-aggregation
    # in DECIMAL(38,0) (4 output rows, exact to 1e38 — matches DuckDB's
    # SUM(BIGINT)->HUGEINT), so the 128-bit arithmetic never touches row scale.
    sum_rev = F.sum(revenue_i())
    sum_cross = F.sum(revenue_i() * cents("l_tax"))
    charge_exact = sum_rev.cast("decimal(38,0)") * 100 + sum_cross.cast("decimal(38,0)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dbl(sum_qty).alias("sum_qty"),
        unscale(sum_price, 100).alias("sum_base_price"),
        unscale(sum_rev, REVENUE_SCALE).alias("sum_disc_price"),
        unscale(charge_exact, 1_000_000).alias("sum_charge"),
        (dbl(sum_qty) / cnt).alias("avg_qty"),
        (unscale(sum_price, 100) / cnt).alias("avg_price"),
        (unscale(F.sum(cents("l_discount")), 100) / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


# ---------------------------------------------------------------------------
# q3: shipping priority — 3-way join, grouped revenue, deterministic top-10
# (ordering key is the exact integer revenue, tiebreak on o_orderkey).
# ---------------------------------------------------------------------------

_Q3_ORACLE = f"""
SELECT o_orderkey, o_orderdate, CAST(rev AS DOUBLE) / 10000.0 AS revenue
FROM (
  SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
         SUM({REVENUE_I_SQL}) AS rev
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
    AND l.l_shipdate > TIMESTAMP '1998-01-01'
  GROUP BY o.o_orderkey, o.o_orderdate
  ORDER BY rev DESC, o.o_orderkey
  LIMIT 10
) x
"""


@query("tpch_q3_shipping_priority", oracle=_Q3_ORACLE, tags=("join", "topk", "tpch"),
       order_by="revenue DESC, o_orderkey")
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    cust = tb["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = tb["orders"].filter(F.col("o_orderdate") < ts("1998-01-01"))
    li = tb["lineitem"].filter(F.col("l_shipdate") > ts("1998-01-01"))
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey).join(
        li, orders.o_orderkey == li.l_orderkey
    )
    grouped = joined.groupBy("o_orderkey", "o_orderdate").agg(
        F.sum(revenue_i()).alias("_rev")
    )
    top = grouped.orderBy(F.desc("_rev"), F.asc("o_orderkey")).limit(10)
    return top.select(
        "o_orderkey",
        fmt_date("o_orderdate").alias("o_orderdate"),
        unscale(F.col("_rev"), REVENUE_SCALE).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q4: order priority — EXISTS subquery => left-semi join with a non-equi
# conjunct (reference: semi joins from EXISTS, SURVEY.md §2.3 q4/q21).
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
"""


@query("tpch_q4_order_priority", oracle=_Q4_ORACLE, tags=("semi-join", "tpch"))
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    orders = tb["orders"].filter(
        (F.col("o_orderdate") >= ts("1997-01-01"))
        & (F.col("o_orderdate") < ts("1997-07-01"))
    )
    li = tb["lineitem"]
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# q5: local supplier volume — 6-way join incl. the c_nationkey = s_nationkey
# co-location condition; small dims broadcast, big join shuffles on keys.
# ---------------------------------------------------------------------------

_Q5_ORACLE = f"""
SELECT n_name, CAST(SUM({REVENUE_I_SQL}) AS DOUBLE) / 10000.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@query("tpch_q5_local_supplier_volume", oracle=_Q5_ORACLE, tags=("join", "tpch"))
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    orders = tb["orders"].filter(
        (F.col("o_orderdate") >= ts("1996-01-01"))
        & (F.col("o_orderdate") < ts("1998-01-01"))
    )
    cust, li, supp = tb["customer"], tb["lineitem"], tb["supplier"]
    nat = tb["nation"]
    reg = tb["region"].filter(F.col("r_name") == "ASIA")
    joined = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        unscale(F.sum(revenue_i()), REVENUE_SCALE).alias("revenue")
    )


# ---------------------------------------------------------------------------
# q6: forecast revenue — pure scan+filter+global agg; predicates must reach
# the parquet scan (PushedFilters), the reference gets the same via
# DataFusion pruning (SURVEY.md §4.1).
# ---------------------------------------------------------------------------

_Q6_ORACLE = f"""
SELECT CAST(SUM({C('l_extendedprice')} * {C('l_discount')}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@query("tpch_q6_revenue_forecast", oracle=_Q6_ORACLE, tags=("filter", "agg", "tpch"))
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir)["lineitem"]
    filtered = li.filter(
        (F.col("l_shipdate") >= ts("1997-01-01"))
        & (F.col("l_shipdate") < ts("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        unscale(
            F.sum(cents("l_extendedprice") * cents("l_discount")), REVENUE_SCALE
        ).alias("revenue")
    )


# ---------------------------------------------------------------------------
# q7: volume shipping — same dimension joined twice (supplier nation vs
# customer nation), disjunctive pair filter, EXTRACT(year).
# ---------------------------------------------------------------------------

_Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) / 10000.0 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
         {REVENUE_I_SQL} AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7_volume_shipping", oracle=_Q7_ORACLE, tags=("join", "tpch"))
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    li = tb["lineitem"].filter(
        F.col("l_shipdate").between(ts("1996-01-01"), ts("1997-12-31"))
    )
    n1 = tb["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = tb["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        tb["supplier"]
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(tb["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(tb["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(unscale(F.sum(revenue_i()), REVENUE_SCALE).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q8: national market share — 7-way join with the nation dimension in two
# roles (customer-region gate via n1, market-share nation via n2), CASE-sum
# ratio per order year (/root/reference/testdata/tpch/queries/q8.sql).
# Numerator and denominator are exact scale-1e4 int64 sums; the single final
# division happens in double identically in both engines.
# ---------------------------------------------------------------------------

_Q8_ORACLE = f"""
SELECT o_year,
       CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         SUM(CASE WHEN n2.n_name = 'NATION_1' THEN {REVENUE_I_SQL} ELSE 0 END) AS num,
         SUM({REVENUE_I_SQL}) AS den
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'AMERICA'
    AND p.p_type = 'ECONOMY'
    AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
  GROUP BY CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER)
) x
"""


@query("tpch_q8_market_share", oracle=_Q8_ORACLE, tags=("join", "case", "tpch"))
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    part = tb["part"].filter(F.col("p_type") == "ECONOMY")
    orders = tb["orders"].filter(
        F.col("o_orderdate").between(ts("1995-01-01"), ts("1996-12-31"))
    )
    n1 = tb["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = tb["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    region = tb["region"].filter(F.col("r_name") == "AMERICA")
    joined = (
        tb["lineitem"]
        # part is SF-growing (200k rows x SF); the 'ECONOMY' slice keeps the
        # same growth class, so no pinned broadcast — AQE decides (it still
        # broadcasts at every tested scale; r7 VERDICT item 1).
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(tb["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(tb["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
    )
    num_term = F.when(F.col("supp_nation") == "NATION_1", revenue_i()).otherwise(F.lit(0))
    grouped = (
        joined.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(F.sum(num_term).alias("_num"), F.sum(revenue_i()).alias("_den"))
    )
    return grouped.select(
        "o_year", (dbl(F.col("_num")) / dbl(F.col("_den"))).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# q9: product type profit — LIKE filter, 5-way join, profit arithmetic.
# (No partsupp table; supply cost modeled as 0.6 * p_retailprice * quantity.)
# amount at scale 1e4: rev_i - 60 * cents(retail) * qty.
# ---------------------------------------------------------------------------

_Q9_ORACLE = f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) / 10000.0 AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         {REVENUE_I_SQL} - 60 * {C('p_retailprice')} * {QI('l.l_quantity')} AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
"""


@query("tpch_q9_product_profit", oracle=_Q9_ORACLE, tags=("join", "like", "tpch"))
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    part = tb["part"].filter(F.col("p_name").like("%widget%"))
    joined = (
        part.join(tb["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(tb["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(tb["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(tb["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    amount = revenue_i() - F.lit(60) * cents("p_retailprice") * qty_i()
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(unscale(F.sum("amount"), REVENUE_SCALE).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# q10: returned items — join + group by wide key, deterministic top-20.
# ---------------------------------------------------------------------------

_Q10_ORACLE = f"""
SELECT c_custkey, c_name, CAST(rev AS DOUBLE) / 10000.0 AS revenue,
       c_acctbal, n_name
FROM (
  SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name, SUM({REVENUE_I_SQL}) AS rev
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-07-01'
    AND l.l_returnflag = 'R'
  GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
  ORDER BY rev DESC, c.c_custkey
  LIMIT 20
) x
"""


@query("tpch_q10_returned_items", oracle=_Q10_ORACLE, tags=("join", "topk", "tpch"),
       order_by="revenue DESC, c_custkey")
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    orders = tb["orders"].filter(
        (F.col("o_orderdate") >= ts("1997-01-01"))
        & (F.col("o_orderdate") < ts("1997-07-01"))
    )
    li = tb["lineitem"].filter(F.col("l_returnflag") == "R")
    joined = (
        tb["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(tb["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    grouped = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(revenue_i()).alias("_rev")
    )
    return (
        grouped.orderBy(F.desc("_rev"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            unscale(F.col("_rev"), REVENUE_SCALE).alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


# ---------------------------------------------------------------------------
# q12-style: CASE-conditional aggregation over a join.
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""


@query("tpch_q12_priority_case", oracle=_Q12_ORACLE, tags=("case", "join", "tpch"))
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    li = tb["lineitem"].filter(
        (F.col("l_shipdate") >= ts("1997-01-01"))
        & (F.col("l_shipdate") < ts("1998-01-01"))
    )
    joined = tb["orders"].join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# q13: customer order distribution — LEFT OUTER join with an extra join-side
# predicate, two-level aggregation.
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
"""


@query("tpch_q13_customer_distribution", oracle=_Q13_ORACLE, tags=("outer-join", "tpch"))
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    cust, orders = tb["customer"], tb["orders"]
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "5-LOW"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# q14: promo revenue — CASE + ratio of exact integer sums (division in double).
# ---------------------------------------------------------------------------

_Q14_ORACLE = f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REVENUE_I_SQL} ELSE 0 END) AS DOUBLE)
       / CAST(SUM({REVENUE_I_SQL}) AS DOUBLE) AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01' AND l.l_shipdate < TIMESTAMP '1997-10-01'
"""


@query("tpch_q14_promo_revenue", oracle=_Q14_ORACLE, tags=("case", "tpch"))
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    li = tb["lineitem"].filter(
        (F.col("l_shipdate") >= ts("1997-09-01"))
        & (F.col("l_shipdate") < ts("1997-10-01"))
    )
    joined = li.join(tb["part"], F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", revenue_i()).otherwise(F.lit(0))
    return joined.agg(
        (F.lit(100.0) * dbl(F.sum(promo)) / dbl(F.sum(revenue_i()))).alias(
            "promo_revenue"
        )
    )


# ---------------------------------------------------------------------------
# q15: top supplier — CTE/view + uncorrelated scalar subquery (= max), exact
# integer equality join (reference: views in q15, SURVEY.md §2.3).
# ---------------------------------------------------------------------------

_Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({REVENUE_I_SQL}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) / 10000.0 AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
"""


@query("tpch_q15_top_supplier", oracle=_Q15_ORACLE, tags=("subquery", "tpch"))
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    rev = (
        tb["lineitem"]
        .filter(
            (F.col("l_shipdate") >= ts("1997-01-01"))
            & (F.col("l_shipdate") < ts("1997-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(revenue_i()).alias("total_rev"))
    )
    max_rev = rev.agg(F.max("total_rev").alias("_max"))
    best = rev.join(F.broadcast(max_rev), rev.total_rev == max_rev._max)
    return best.join(
        tb["supplier"], F.col("supplier_no") == F.col("s_suppkey")
    ).select(
        "s_suppkey",
        "s_name",
        unscale(F.col("total_rev"), REVENUE_SCALE).alias("total_revenue"),
    )


# ---------------------------------------------------------------------------
# q16: supplier count — NOT IN subquery (anti join), COUNT(DISTINCT).
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@query("tpch_q16_supplier_count", oracle=_Q16_ORACLE, tags=("anti-join", "distinct", "tpch"))
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    part = tb["part"].filter(
        (F.col("p_brand") != "Brand#1") & (~F.col("p_type").like("PROMO%"))
    )
    bad_supp = tb["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    # bad_supp is the negative-balance slice of supplier, which grows
    # linearly with SF — no pinned broadcast; AQE picks the build side
    # at runtime (r7 VERDICT item 1).
    li = tb["lineitem"].join(
        bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    joined = part.join(li, F.col("p_partkey") == F.col("l_partkey"))
    return joined.groupBy("p_brand", "p_type", "p_size").agg(
        F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt")
    )


# ---------------------------------------------------------------------------
# q17: small-quantity revenue — correlated scalar subquery (per-part AVG),
# decorrelated to aggregate + join exactly like DataFusion's plan
# (SURVEY.md §2.3 correlated subqueries q2/q17/q22).
# AVG over integer-valued doubles is order-independent => oracle-safe.
# ---------------------------------------------------------------------------

_Q17_ORACLE = f"""
SELECT CAST(SUM({C('l.l_extendedprice')}) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (
    SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
  )
"""


@query("tpch_q17_small_quantity", oracle=_Q17_ORACLE, tags=("subquery", "tpch"))
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    li = tb["lineitem"]
    part = tb["part"].filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("avg_quantity")
    )
    # The brand slice of part is still ~1/|brands| of an SF-growing table —
    # no pinned broadcast; AQE decides (r7 VERDICT item 1).
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_quantity"))
    )
    return joined.agg(
        (unscale(F.sum(cents("l_extendedprice")), 100) / F.lit(7.0)).alias(
            "avg_yearly"
        )
    )


# ---------------------------------------------------------------------------
# q18: large-volume orders — IN subquery with HAVING, top-k over 3-way join.
# ---------------------------------------------------------------------------

_Q18_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT c.c_name, c.c_custkey, o.o_orderkey,
         strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
         o.o_totalprice,
         CAST(SUM({QI('l.l_quantity')}) AS DOUBLE) AS sum_qty
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 100
  )
  GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
  ORDER BY o.o_totalprice DESC, o.o_orderkey
  LIMIT 20
) x
"""


@query("tpch_q18_large_orders", oracle=_Q18_ORACLE, tags=("in-subquery", "having", "tpch"),
       order_by="o_totalprice DESC, o_orderkey")
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    li = tb["lineitem"]
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 100)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    joined = (
        tb["customer"]
        .join(tb["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(big, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    grouped = joined.groupBy(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    ).agg(F.sum(qty_i()).alias("_sq"))
    return (
        grouped.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            fmt_date("o_orderdate").alias("o_orderdate"),
            "o_totalprice",
            dbl(F.col("_sq")).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q19: disjunctive predicates over a join (OR of ANDs — exercises Catalyst's
# predicate normalization; reference gets this from DataFusion, q19).
# ---------------------------------------------------------------------------

_Q19_ORACLE = f"""
SELECT CAST(SUM({REVENUE_I_SQL}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)
"""


@query("tpch_q19_disjunctive_join", oracle=_Q19_ORACLE, tags=("join", "tpch"))
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    joined = tb["lineitem"].join(tb["part"], F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return joined.filter(cond).agg(
        unscale(F.sum(revenue_i()), REVENUE_SCALE).alias("revenue")
    )


# ---------------------------------------------------------------------------
# q21: suppliers who kept orders waiting — EXISTS + NOT EXISTS over the same
# fact table (semi join + anti join with non-equi conjuncts).
# ---------------------------------------------------------------------------

_Q21_ORACLE = """
SELECT s_name, numwait FROM (
  SELECT s.s_name, COUNT(*) AS numwait
  FROM supplier s
  JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
  JOIN orders o ON o.o_orderkey = l1.l_orderkey
  WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
    AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R'
    )
  GROUP BY s.s_name
  ORDER BY numwait DESC, s_name
  LIMIT 10
) x
"""


@query("tpch_q21_waiting_supplier", oracle=_Q21_ORACLE, tags=("semi-join", "anti-join", "tpch"),
       order_by="numwait DESC, s_name")
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    li = tb["lineitem"]
    l1 = li.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").alias("l3")
    orders = tb["orders"].filter(F.col("o_orderstatus") == "F")
    base = (
        tb["supplier"]
        .join(l1, F.col("s_suppkey") == F.col("l1.l_suppkey"))
        .filter(F.col("l1.l_returnflag") == "R")
        .join(orders, F.col("o_orderkey") == F.col("l1.l_orderkey"))
    )
    with_exists = base.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    with_not_exists = with_exists.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
        "left_anti",
    )
    return (
        with_not_exists.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q22: global sales opportunity — uncorrelated scalar agg subquery + NOT
# EXISTS anti join. The avg threshold is rewritten multiplication-style
# (cents(acctbal) * n > total_cents) so the filter is exact integer math.
# ---------------------------------------------------------------------------

_Q22_ORACLE = f"""
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM({C('c.c_acctbal')}) AS DOUBLE) / 100.0 AS totacctbal
FROM customer c
CROSS JOIN (
  SELECT SUM({C('c_acctbal')}) AS tot, COUNT(*) AS cnt
  FROM customer WHERE c_acctbal > 0.0
) s
WHERE {C('c.c_acctbal')} * s.cnt > s.tot
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


@query("tpch_q22_sales_opportunity", oracle=_Q22_ORACLE, tags=("anti-join", "subquery", "tpch"))
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    cust = tb["customer"]
    stats = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(cents("c_acctbal")).alias("tot"), F.count(F.lit(1)).alias("cnt")
    )
    filtered = (
        cust.crossJoin(F.broadcast(stats))
        .filter(cents("c_acctbal") * F.col("cnt") > F.col("tot"))
        .join(tb["orders"], F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    )
    return filtered.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        unscale(F.sum(cents("c_acctbal")), 100).alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# q2-style: correlated scalar MIN subquery (per-nation minimum supplier
# balance) — equality on raw stored doubles is exact in both engines.
# ---------------------------------------------------------------------------

_Q2_ORACLE = """
SELECT n.n_name, s.s_name, s.s_acctbal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_acctbal = (
  SELECT MIN(s2.s_acctbal) FROM supplier s2 WHERE s2.s_nationkey = s.s_nationkey
)
"""


@query("tpch_q2_min_cost_supplier", oracle=_Q2_ORACLE, tags=("subquery", "tpch"))
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    supp = tb["supplier"]
    min_bal = supp.groupBy(F.col("s_nationkey").alias("mn_nationkey")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        supp.join(
            min_bal,
            (F.col("s_nationkey") == F.col("mn_nationkey"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .join(F.broadcast(tb["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# LIMIT ... OFFSET: the reference costs OFFSET as GlobalLimitExec skip
# (/root/reference/src/distributed_planner/statistics/complexity_cpu.rs:751-767).
# Spark: orderBy -> offset -> limit plans as a GlobalLimit (skip, take) over
# one sorted shuffle. Deterministic because the sort key is unique.
# ---------------------------------------------------------------------------

_OFFSET_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
ORDER BY c_acctbal DESC, c_custkey
LIMIT 10 OFFSET 25
"""


@query("limit_offset_customers", oracle=_OFFSET_ORACLE, tags=("limit", "offset"),
       order_by="c_acctbal DESC, c_custkey")
def limit_offset_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir)["customer"]
    return (
        cust.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .offset(25)
        .limit(10)
        .select("c_custkey", "c_name", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# q11 + q20: the two TPC-H queries whose original text needs the partsupp
# table (absent from the driver schema). Both are recovered by DERIVING a
# partsupp-equivalent from lineitem — per (partkey, suppkey) aggregates
# computed identically in both engines — so the distinctive CONSTRUCTS are
# still proven: q11's group-HAVING against a scalar-subquery fraction of the
# global total, and q20's semi join against a two-aggregate availability/
# shipment comparison (/root/reference/testdata/tpch/queries/q11.sql,
# q20.sql; tests/tpch_correctness_test.rs proves 22/22 distributed).
# ---------------------------------------------------------------------------

# q11 "important stock": per-part value share within one nation's suppliers,
# HAVING value > 3x the nation's average part value (scale-invariant, unlike the original's FRACTION/SF literal). Value sums are exact int64
# cents*discount-scale; the fraction compare is cross-multiplied in
# DECIMAL(38,0) post-aggregation (never at row scale).
_Q11_SQL = """
WITH national AS (
  -- Supplier-nation restriction BELOW the aggregate: the broadcast joins
  -- filter lineitem to one nation's suppliers (~1/25 of rows) before the
  -- (partkey, suppkey) aggregation — the 100 TB-correct plan; aggregating
  -- the full fact first and filtering after costs 25x aggregate input.
  SELECT l.l_partkey AS partkey,
         SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS value_i
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey, l.l_suppkey
)
SELECT partkey, CAST(SUM(value_i) AS DOUBLE) / 10000.0 AS value
FROM national
GROUP BY partkey
HAVING CAST(SUM(value_i) AS DECIMAL(38,0))
       * (SELECT COUNT(DISTINCT partkey) FROM national)
       > 3 * (SELECT CAST(SUM(value_i) AS DECIMAL(38,0)) FROM national)
ORDER BY value DESC, partkey
"""


sql_query(
    "tpch_q11_important_stock",
    _Q11_SQL,
    tags=("tpch", "having", "scalar-subquery"),
    order_by="value DESC, partkey",
)


# q20 "potential part promotion": suppliers holding (across the full
# history) more than 8x their 1997 shipments of any 'red' part — the
# availability/shipment comparison is exact integer arithmetic; the final
# restriction is an IN semi join exactly as the original.
_Q20_SQL = """
WITH avail AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS availqty
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
),
shipped AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS shipqty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
)
SELECT s.s_name AS supplier, n.n_name AS nation
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
  SELECT a.suppkey
  FROM avail a
  JOIN shipped sh ON sh.partkey = a.partkey AND sh.suppkey = a.suppkey
  JOIN part p ON p.p_partkey = a.partkey
  WHERE p.p_name LIKE 'red%' AND a.availqty > 8 * sh.shipqty
)
ORDER BY supplier
"""


sql_query(
    "tpch_q20_part_promotion",
    _Q20_SQL,
    tags=("tpch", "semi-join"),
    order_by="supplier",
)
