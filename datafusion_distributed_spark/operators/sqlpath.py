"""Queries entering through the SQL surface (``spark.sql`` over the
registered views) — the reference's default entry point
(/root/reference/src/distributed_planner/distributed_query_planner.rs:57-79,
SURVEY.md §3.1). Everything else in the registry uses the DataFrame API
(entry point 2); these prove the SQL path plans identically through Catalyst,
including TPC-DS-style CTE chains referenced multiple times (SURVEY.md §2.3
"deep CTE chains").

A plain SQL-text entry is one ``sql_query(name, text, ...)`` call; its oracle
defaults to the same text. Builders that do more keep ``@query``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ._util import release_local_checkpoint, slot_local_checkpoint, t
from .registry import query, sql_query

# Year-over-year revenue doublers: a CTE materialized once, self-joined
# across adjacent years (the TPC-DS q74 'year_total' shape).
_CTE_SPARK_SQL = """
WITH yearly AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) AS INT) AS y,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  GROUP BY o_custkey, CAST(year(o_orderdate) AS INT)
)
SELECT a.o_custkey AS custkey, a.y AS year,
       CAST(a.cents AS DOUBLE) / 100.0 AS revenue,
       CAST(b.cents AS DOUBLE) / 100.0 AS prev_revenue
FROM yearly a
JOIN yearly b ON a.o_custkey = b.o_custkey AND a.y = b.y + 1
WHERE a.cents > 2 * b.cents
"""

_CTE_ORACLE = """
WITH yearly AS (
  SELECT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  GROUP BY o_custkey, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)
)
SELECT a.o_custkey AS custkey, a.y AS year,
       CAST(a.cents AS DOUBLE) / 100.0 AS revenue,
       CAST(b.cents AS DOUBLE) / 100.0 AS prev_revenue
FROM yearly a
JOIN yearly b ON a.o_custkey = b.o_custkey AND a.y = b.y + 1
WHERE a.cents > 2 * b.cents
"""


sql_query("sql_cte_yoy_doublers", _CTE_SPARK_SQL, oracle=_CTE_ORACLE, tags=("sql-entry", "cte", "tpcds"))


# ---------------------------------------------------------------------------
# Multi-channel report (TPC-DS q5/q77 shape): per-channel sales vs returns
# built as separate aggregates, FULL-joined, then totalled with ROLLUP.
# Money as exact integer cents throughout; doubles only at output.
# ---------------------------------------------------------------------------

_CHANNEL_SPARK_SQL = """
WITH fulfilled AS (
  SELECT o_orderpriority AS channel,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS f_cents
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
),
open_orders AS (
  SELECT o_orderpriority AS channel,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS o_cents
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority
)
SELECT COALESCE(COALESCE(f.channel, o.channel), 'ALL') AS channel,
       CAST(GROUPING(COALESCE(f.channel, o.channel)) AS INTEGER) AS lvl,
       CAST(SUM(COALESCE(f.f_cents, 0)) AS DOUBLE) / 100.0 AS fulfilled_total,
       CAST(SUM(COALESCE(o.o_cents, 0)) AS DOUBLE) / 100.0 AS open_total
FROM fulfilled f FULL OUTER JOIN open_orders o ON f.channel = o.channel
GROUP BY ROLLUP(COALESCE(f.channel, o.channel))
"""


sql_query(
    "sql_channel_rollup",
    _CHANNEL_SPARK_SQL,  # identical ANSI text runs on DuckDB
    tags=("sql-entry", "tpcds", "rollup"),
)


# ---------------------------------------------------------------------------
# Repeat buyers across consecutive years (TPC-DS q38 shape): three-way
# INTERSECT of distinct customer sets, then a counted aggregate.
# ---------------------------------------------------------------------------

_REPEAT_SQL = """
SELECT COUNT(*) AS n_repeat_buyers FROM (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
) repeaters
"""


sql_query("sql_repeat_buyers", _REPEAT_SQL, tags=("sql-entry", "tpcds", "setop"))


# ---------------------------------------------------------------------------
# EXISTS / NOT-EXISTS chain (TPC-DS q10 shape): segment counts of customers
# active in a year but never urgent — Catalyst decorrelates to a semi-join
# feeding an anti-join, no per-row subquery execution.
# ---------------------------------------------------------------------------

_EXISTS_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1996-01-01'
)
AND NOT EXISTS (
  SELECT 1 FROM orders o2
  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment
"""


sql_query("sql_exists_chain", _EXISTS_SQL, tags=("sql-entry", "tpcds", "subquery"))


# ---------------------------------------------------------------------------
# Mark join (ExistenceJoin): an IN-subquery under OR cannot be planned as a
# plain semi-join (rows failing the subquery must survive via the other
# disjunct), so Catalyst plans ExistenceJoin — the reference's "mark join"
# (DataFusion's mark-join support is exercised by its subquery suites).
# Verified by tests/test_explain.py::test_mark_join_plan_shape.
# ---------------------------------------------------------------------------

_MARK_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
   OR c_acctbal < 0
GROUP BY c_mktsegment
"""


sql_query("sql_mark_join", _MARK_SQL, tags=("sql-entry", "mark-join", "subquery"))


# ---------------------------------------------------------------------------
# LATERAL join: per-nation argmax row via a correlated lateral subquery with
# ORDER BY ... LIMIT 1 (deterministic: unique (acctbal, custkey) sort key).
# Catalyst decorrelates this to a window/aggregate plan rather than running
# the inner query per outer row.
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT n_name, top_cust, top_bal
FROM nation n, LATERAL (
  SELECT c_custkey AS top_cust, c_acctbal AS top_bal
  FROM customer WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 1
) t
"""


sql_query("sql_lateral_topn", _LATERAL_SQL, tags=("sql-entry", "lateral"))


# ---------------------------------------------------------------------------
# Per-aggregate FILTER (WHERE ...) clauses: the reference costs each
# aggregate's filter expression individually
# (/root/reference/src/distributed_planner/statistics/complexity_cpu.rs:162-165);
# round 1 only exercised the F.when() rewrite, not the SQL FILTER clause
# itself. Identical ANSI text runs on both engines.
# ---------------------------------------------------------------------------

_FILTER_CLAUSE_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
       COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O') AS open_custs,
       CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) / 100.0
         AS open_revenue
FROM orders
GROUP BY o_orderpriority
"""


sql_query("sql_agg_filter_clause", _FILTER_CLAUSE_SQL, tags=("sql-entry", "agg-filter"))


# ---------------------------------------------------------------------------
# CREATE VIEW entry path: the reference's TPC-H runner executes `create view`
# scripts before q15 and resolves the view inside the distributed plan
# (/root/reference/tests/tpch_correctness_test.rs — view-script handling;
# SURVEY.md §2.3 "views (q15)"). Here the view is created through spark.sql
# DDL and the consumer query resolves it through the catalog — proving the
# view expands into the same Catalyst plan as an inlined CTE. The oracle is
# the single-statement CTE equivalent.
# ---------------------------------------------------------------------------

_VIEW_DDL = """
CREATE OR REPLACE TEMPORARY VIEW cust_revenue_v AS
SELECT o_custkey AS cust,
       COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
GROUP BY o_custkey
"""

_VIEW_CONSUMER_SQL = """
SELECT cust, n_orders, CAST(cents AS DOUBLE) / 100.0 AS revenue
FROM cust_revenue_v
WHERE cents = (SELECT MAX(cents) FROM cust_revenue_v)
"""

_VIEW_ORACLE = """
WITH cust_revenue_v AS (
  SELECT o_custkey AS cust,
         COUNT(*) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  GROUP BY o_custkey
)
SELECT cust, n_orders, CAST(cents AS DOUBLE) / 100.0 AS revenue
FROM cust_revenue_v
WHERE cents = (SELECT MAX(cents) FROM cust_revenue_v)
"""


@query("sql_view_top_cust", oracle=_VIEW_ORACLE, tags=("sql-entry", "view", "tpch"))
def view_top_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir)
    spark.sql(_VIEW_DDL)
    return spark.sql(_VIEW_CONSUMER_SQL)


# ---------------------------------------------------------------------------
# Cumulative-comparison report (TPC-DS q51 shape): running revenue totals of
# two order-status "channels" full-outer-joined by date, keeping days where
# the open-channel cumulative overtakes the fulfilled one. Running sums are
# exact BIGINT cents (order-independent), dates compared as formatted
# strings. Identical ANSI text on both engines.
# ---------------------------------------------------------------------------

_CUMULATIVE_SQL = """
WITH f AS (
  SELECT o_orderdate AS d, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
  FROM orders WHERE o_orderstatus = 'F'
    AND o_orderdate >= DATE '1997-06-01' AND o_orderdate < DATE '1997-09-01'
  GROUP BY o_orderdate
),
o AS (
  SELECT o_orderdate AS d, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
  FROM orders WHERE o_orderstatus = 'O'
    AND o_orderdate >= DATE '1997-06-01' AND o_orderdate < DATE '1997-09-01'
  GROUP BY o_orderdate
),
fc AS (SELECT d, SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum FROM f),
oc AS (SELECT d, SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum FROM o)
SELECT CAST(COALESCE(fc.d, oc.d) AS STRING) AS day,
       CAST(COALESCE(fc.cum, 0) AS DOUBLE) / 100.0 AS fulfilled_cum,
       CAST(COALESCE(oc.cum, 0) AS DOUBLE) / 100.0 AS open_cum
FROM fc FULL OUTER JOIN oc ON fc.d = oc.d
WHERE COALESCE(oc.cum, 0) > COALESCE(fc.cum, 0)
"""


sql_query("sql_cumulative_channels", _CUMULATIVE_SQL, tags=("sql-entry", "tpcds", "window"))


# ---------------------------------------------------------------------------
# Seasonal-deviation report (TPC-DS q47 shape): monthly revenue per priority
# vs the yearly mean over a window partition, with lag/lead month context;
# keeps months deviating >20% from their year's mean. The mean divides two
# exact integers in DOUBLE and the deviation ratio is rounded to 6 decimals
# — both correctly-rounded and portable. Identical ANSI text on both engines.
# ---------------------------------------------------------------------------

_DEVIATION_SQL = """
WITH monthly AS (
  SELECT o_orderpriority AS pri,
         CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
         CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1997-01-01'
  GROUP BY 1, 2, 3
),
v AS (
  SELECT pri, y, m, c,
         CAST(SUM(c) OVER (PARTITION BY pri, y) AS DOUBLE)
           / CAST(COUNT(*) OVER (PARTITION BY pri, y) AS DOUBLE) AS avg_c,
         LAG(c)  OVER (PARTITION BY pri ORDER BY y, m) AS prev_c,
         LEAD(c) OVER (PARTITION BY pri ORDER BY y, m) AS next_c
  FROM monthly
)
SELECT pri, y, m,
       CAST(c AS DOUBLE) / 100.0 AS revenue,
       ROUND(CAST(c AS DOUBLE) / avg_c, 6) AS ratio_to_year_mean,
       CAST(COALESCE(prev_c, 0) AS DOUBLE) / 100.0 AS prev_revenue,
       CAST(COALESCE(next_c, 0) AS DOUBLE) / 100.0 AS next_revenue
FROM v
WHERE CAST(c AS DOUBLE) / avg_c > 1.2 OR CAST(c AS DOUBLE) / avg_c < 0.8
"""


sql_query("sql_monthly_deviation", _DEVIATION_SQL, tags=("sql-entry", "tpcds", "window"))


# ---------------------------------------------------------------------------
# Best/worst ranking report (TPC-DS q44 shape): the same per-customer
# aggregate ranked ascending AND descending, the two rankings equi-joined on
# rank position — two window passes over one shared aggregate, then a
# position join. Ranks are deterministic: the order key is (exact cents,
# custkey). Identical ANSI text on both engines.
# ---------------------------------------------------------------------------

_BEST_WORST_SQL = """
WITH per_cust AS (
  SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
),
best AS (
  SELECT o_custkey, cents,
         ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rnk
  FROM per_cust
),
worst AS (
  SELECT o_custkey, cents,
         ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey) AS rnk
  FROM per_cust
)
SELECT b.rnk AS rnk,
       b.o_custkey AS best_cust,
       CAST(b.cents AS DOUBLE) / 100.0 AS best_revenue,
       w.o_custkey AS worst_cust,
       CAST(w.cents AS DOUBLE) / 100.0 AS worst_revenue
FROM best b JOIN worst w ON b.rnk = w.rnk
WHERE b.rnk <= 10
"""


sql_query(
    "sql_best_worst_rank",
    _BEST_WORST_SQL,
    tags=("sql-entry", "tpcds", "window"),
    order_by="rnk",
)


# ---------------------------------------------------------------------------
# WITH RECURSIVE (Spark 4 recursive CTE): customers form an implicit binary
# tree (parent(k) = floor(k/2)); the recursion walks it breadth-first from
# the root and the outer query histograms node depth. Each recursion step is
# a distributed join of the frontier against the customer scan — the
# iterative-algorithm surface dd_dup_clusters drives through the DataFrame
# API, here through the declarative SQL entry point (DuckDB's recursive CTE
# executes identically; dd_dup_clusters' oracle already relies on it).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Window-over-rollup (TPC-DS q36/q70/q86 shape,
# /root/reference/testdata/tpcds/queries/q36.sql): revenue rolled up over
# (mktsegment, priority), then RANK() computed WITHIN each grouping level —
# the window partitions on GROUPING() outputs and a CASE-guarded key, so the
# rank restarts per hierarchy parent. Exercises window functions consuming
# Expand/rollup output (grouping_id columns resolved inside a window spec).
# Rank is deterministic: ties on the exact integer sum share a rank in both
# engines. Identical ANSI text on Spark and DuckDB.
# ---------------------------------------------------------------------------

_RANK_ROLLUP_SQL = """
WITH base AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
)
SELECT COALESCE(seg, 'ALL') AS seg, COALESCE(pri, 'ALL') AS pri,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue,
       CAST(GROUPING(seg) + GROUPING(pri) AS INTEGER) AS lochierarchy,
       CAST(RANK() OVER (
         PARTITION BY GROUPING(seg) + GROUPING(pri),
                      CASE WHEN GROUPING(pri) = 0 THEN seg END
         ORDER BY SUM(cents) DESC) AS INTEGER) AS rank_within_parent
FROM base
GROUP BY ROLLUP(seg, pri)
"""


sql_query(
    "sql_rank_rollup",
    _RANK_ROLLUP_SQL,
    tags=("sql-entry", "tpcds", "rollup", "window"),
)


# ---------------------------------------------------------------------------
# EXCEPT-driven cohort (TPC-DS q87 shape,
# /root/reference/testdata/tpcds/queries/q87.sql): the set difference of
# distinct customer sets chained twice — customers who bought in 1995 but
# never again in 1996 or 1997 — then counted. The INTERSECT sibling is
# sql_repeat_buyers; this closes the EXCEPT-chain class. Left-associative in
# both engines. Identical ANSI text on Spark and DuckDB.
# ---------------------------------------------------------------------------

_EXCEPT_CHAIN_SQL = """
SELECT COUNT(*) AS n_churned FROM (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
) churned
"""


sql_query("sql_except_chain", _EXCEPT_CHAIN_SQL, tags=("sql-entry", "tpcds", "setop"))


# ---------------------------------------------------------------------------
# Union-of-channels rollup report (TPC-DS q5/q77 shape,
# /root/reference/testdata/tpcds/queries/q5.sql): three differently-shaped
# fact slices (fulfilled orders, open orders, returned lineitems) normalized
# to one (channel, class, sales, returns) schema with a REAL UNION ALL, then
# a single shared ROLLUP totals per channel/class/grand — the q5 pattern of
# per-channel subqueries feeding one aggregate, as opposed to
# sql_channel_rollup's FULL JOIN formulation. Identical ANSI text on both
# engines; money stays exact integer cents until the output cast.
# ---------------------------------------------------------------------------

_UNION_CHANNEL_SQL = """
WITH per_channel AS (
  SELECT 'fulfilled' AS channel, o_orderpriority AS class,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS sales_c,
         CAST(0 AS BIGINT) AS returns_c
  FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT 'open' AS channel, o_orderpriority AS class,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS sales_c,
         CAST(0 AS BIGINT) AS returns_c
  FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT 'returns' AS channel, CONCAT('LINE-', CAST(l_linenumber AS STRING)) AS class,
         CAST(0 AS BIGINT) AS sales_c,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS returns_c
  FROM lineitem WHERE l_returnflag = 'R'
)
SELECT COALESCE(channel, 'ALL') AS channel, COALESCE(class, 'ALL') AS class,
       CAST(GROUPING(channel) + GROUPING(class) AS INTEGER) AS lvl,
       CAST(SUM(sales_c) AS DOUBLE) / 100.0 AS total_sales,
       CAST(SUM(returns_c) AS DOUBLE) / 100.0 AS total_returns,
       CAST(SUM(sales_c) - SUM(returns_c) AS DOUBLE) / 100.0 AS net
FROM per_channel
GROUP BY ROLLUP(channel, class)
"""


sql_query(
    "sql_union_channel_report",
    _UNION_CHANNEL_SQL,
    tags=("sql-entry", "tpcds", "rollup", "union"),
)


# ---------------------------------------------------------------------------
# Multi-band counts as cross-joined scalar aggregates (TPC-DS q88 shape,
# /root/reference/testdata/tpcds/queries/q88.sql): independent COUNT(*)
# subqueries over disjoint hour bands of the events feed, cross-joined into
# ONE row. Catalyst plans each band as its own aggregate over a shared scan
# and the final join is 4 single-row broadcasts — the q88 execution shape.
# ---------------------------------------------------------------------------

_MULTIBAND_SQL = """
SELECT s1.n_night, s2.n_morning, s3.n_midday, s4.n_evening FROM
  (SELECT COUNT(*) AS n_night   FROM events
   WHERE EXTRACT(hour FROM ts) >= 0  AND EXTRACT(hour FROM ts) < 6)  s1,
  (SELECT COUNT(*) AS n_morning FROM events
   WHERE EXTRACT(hour FROM ts) >= 6  AND EXTRACT(hour FROM ts) < 12) s2,
  (SELECT COUNT(*) AS n_midday  FROM events
   WHERE EXTRACT(hour FROM ts) >= 12 AND EXTRACT(hour FROM ts) < 18) s3,
  (SELECT COUNT(*) AS n_evening FROM events
   WHERE EXTRACT(hour FROM ts) >= 18 AND EXTRACT(hour FROM ts) < 24) s4
"""


sql_query("sql_multiband_counts", _MULTIBAND_SQL, tags=("sql-entry", "tpcds", "scalar-agg"))


# ---------------------------------------------------------------------------
# Order-count band (TPC-DS q34/q73 shape,
# /root/reference/testdata/tpcds/queries/q34.sql): customers whose order
# count over two years falls in a band (HAVING BETWEEN), joined back to the
# customer dimension for detail columns.
# ---------------------------------------------------------------------------

_COUNT_BAND_SQL = """
WITH cnt AS (
  SELECT o_custkey, COUNT(*) AS n
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1997-01-01'
  GROUP BY o_custkey
  HAVING COUNT(*) BETWEEN 8 AND 12
)
SELECT c.c_custkey AS custkey, c.c_name AS name,
       c.c_mktsegment AS segment, cnt.n AS n_orders
FROM cnt JOIN customer c ON c.c_custkey = cnt.o_custkey
"""


sql_query("sql_order_count_band", _COUNT_BAND_SQL, tags=("sql-entry", "tpcds", "having"))


# ---------------------------------------------------------------------------
# Disjunctive cross-dimension predicate aggregate (TPC-DS q13/q48 shape,
# /root/reference/testdata/tpcds/queries/q13.sql): one aggregate whose WHERE
# is an OR of AND-bundles spanning the joined dimension and fact — none of
# the disjuncts can individually push below the join, exercising
# post-join filter costing.
# ---------------------------------------------------------------------------

_DISJUNCTIVE_SQL = """
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE (c.c_mktsegment = 'BUILDING'
       AND o.o_totalprice BETWEEN 1000 AND 100000
       AND o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
   OR (c.c_mktsegment = 'AUTOMOBILE'
       AND o.o_totalprice BETWEEN 50000 AND 200000
       AND o.o_orderpriority = '5-LOW')
   OR (c.c_mktsegment = 'MACHINERY'
       AND o.o_totalprice > 150000)
"""


sql_query("sql_disjunctive_bands", _DISJUNCTIVE_SQL, tags=("sql-entry", "tpcds", "disjunctive"))


# ---------------------------------------------------------------------------
# Net sales after returns (TPC-DS q93 shape,
# /root/reference/testdata/tpcds/queries/q93.sql): fact LEFT JOIN a derived
# returns table on the composite line key, CASE on the joined side's
# nullity to compute effective sales (full price, or price minus a refund
# for returned lines), grouped per customer, deterministic top-20.
# ---------------------------------------------------------------------------

_NET_RETURNS_SQL = """
WITH returns AS (
  SELECT l_orderkey AS r_okey, l_linenumber AS r_line,
         CAST(ROUND(l_extendedprice * 50) AS BIGINT) AS refund_c
  FROM lineitem WHERE l_returnflag = 'R'
)
SELECT o.o_custkey AS custkey,
       CAST(SUM(CASE WHEN r.r_okey IS NOT NULL
                     THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) - r.refund_c
                     ELSE CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                END) AS DOUBLE) / 100.0 AS net_sales,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
LEFT JOIN returns r
  ON r.r_okey = l.l_orderkey AND r.r_line = l.l_linenumber
GROUP BY o.o_custkey
ORDER BY net_sales DESC, custkey
LIMIT 20
"""


sql_query(
    "sql_net_after_returns",
    _NET_RETURNS_SQL,
    tags=("sql-entry", "tpcds", "outer-join"),
    order_by="net_sales DESC, custkey",
)


# ---------------------------------------------------------------------------
# Above-nation-average spenders (TPC-DS q1 shape,
# /root/reference/testdata/tpcds/queries/q1.sql): per-customer totals from a
# CTE, kept when exceeding 1.2x their nation's average — the correlated
# scalar-aggregate subqueries re-reference the SAME CTE. The 1.2x test is
# integer-exact (5*cents*count > 6*sum) so no float average can flip a
# boundary row between engines.
# ---------------------------------------------------------------------------

_NATION_AVG_SQL = """
WITH ctr AS (
  SELECT c.c_custkey AS cust, c.c_nationkey AS nk,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_nationkey
)
SELECT ctr1.cust AS custkey, CAST(ctr1.cents AS DOUBLE) / 100.0 AS revenue
FROM ctr ctr1
WHERE 5 * ctr1.cents * (SELECT COUNT(*) FROM ctr ctr2 WHERE ctr2.nk = ctr1.nk)
      > 6 * (SELECT SUM(ctr3.cents) FROM ctr ctr3 WHERE ctr3.nk = ctr1.nk)
"""


sql_query("sql_above_nation_avg", _NATION_AVG_SQL, tags=("sql-entry", "tpcds", "subquery"))


# ---------------------------------------------------------------------------
# Frequent-item restricted revenue (TPC-DS q23 shape,
# /root/reference/testdata/tpcds/queries/q23.sql): a derived "frequent
# parts" set (parts appearing in many distinct orders) restricts the fact
# scan through an IN-subquery (semi-join), feeding one global aggregate.
# ---------------------------------------------------------------------------

_FREQ_PARTS_SQL = """
WITH freq AS (
  SELECT l_partkey
  FROM lineitem
  GROUP BY l_partkey
  HAVING COUNT(DISTINCT l_orderkey) >= 8
)
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS frequent_revenue
FROM lineitem l
WHERE l.l_partkey IN (SELECT l_partkey FROM freq)
"""


sql_query("sql_frequent_parts", _FREQ_PARTS_SQL, tags=("sql-entry", "tpcds", "semi-join"))


# ---------------------------------------------------------------------------
# Channel-overlap counts (TPC-DS q97 shape,
# /root/reference/testdata/tpcds/queries/q97.sql): two distinct
# (customer, channel-activity) keysets FULL OUTER joined, then one row of
# CASE-counted exclusive/both memberships — set overlap without INTERSECT,
# the way q97 counts store-only / catalog-only / both customers.
# ---------------------------------------------------------------------------

_OVERLAP_SQL = """
WITH fulfilled AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
),
open_o AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
SELECT SUM(CASE WHEN f.o_custkey IS NOT NULL AND o.o_custkey IS NULL
                THEN 1 ELSE 0 END) AS fulfilled_only,
       SUM(CASE WHEN f.o_custkey IS NULL AND o.o_custkey IS NOT NULL
                THEN 1 ELSE 0 END) AS open_only,
       SUM(CASE WHEN f.o_custkey IS NOT NULL AND o.o_custkey IS NOT NULL
                THEN 1 ELSE 0 END) AS both_channels
FROM fulfilled f FULL OUTER JOIN open_o o ON f.o_custkey = o.o_custkey
"""


sql_query("sql_channel_overlap", _OVERLAP_SQL, tags=("sql-entry", "tpcds", "outer-join"))


# ---------------------------------------------------------------------------
# Equal-share channel compare (TPC-DS q58/q83 shape,
# /root/reference/testdata/tpcds/queries/q58.sql): per-item revenue in each
# of three channels, keeping items whose every channel lands within +/-10%
# of the three-channel average. The +/-10%-of-average test is exact integer
# arithmetic: chan >= 0.9*avg <=> 30*chan >= 9*total (all scale-1e4 int64).
# ---------------------------------------------------------------------------

_EQUAL_SHARE_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CASE WHEN l_returnflag = 'R'
             THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
             ELSE 0 END) AS r_i,
         SUM(CASE WHEN l_returnflag = 'A'
             THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
             ELSE 0 END) AS a_i,
         SUM(CASE WHEN l_returnflag = 'N'
             THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
             ELSE 0 END) AS n_i
  FROM lineitem
  GROUP BY l_partkey
)
SELECT l_partkey,
       CAST(r_i AS DOUBLE) / 10000.0 AS rev_r,
       CAST(a_i AS DOUBLE) / 10000.0 AS rev_a,
       CAST(n_i AS DOUBLE) / 10000.0 AS rev_n
FROM per_part
WHERE r_i + a_i + n_i > 0
  AND 30 * r_i BETWEEN 9 * (r_i + a_i + n_i) AND 11 * (r_i + a_i + n_i)
  AND 30 * a_i BETWEEN 9 * (r_i + a_i + n_i) AND 11 * (r_i + a_i + n_i)
  AND 30 * n_i BETWEEN 9 * (r_i + a_i + n_i) AND 11 * (r_i + a_i + n_i)
"""


sql_query("sql_equal_share_parts", _EQUAL_SHARE_SQL, tags=("sql-entry", "tpcds", "conditional-agg"))


# ---------------------------------------------------------------------------
# Growth-ratio comparison across channels (TPC-DS q31 shape,
# /root/reference/testdata/tpcds/queries/q31.sql): quarter-over-quarter
# revenue growth of the high-priority channel vs the low-priority channel
# per nation, keeping nations where the high channel grew faster. The
# growth compare divides exact int64 cents in DOUBLE — IEEE division of
# identical exact inputs is correctly rounded in both engines, so the
# filter is deterministic cross-engine.
# ---------------------------------------------------------------------------

_GROWTH_SQL = """
WITH q AS (
  SELECT n.n_name,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 'hi' ELSE 'lo' END AS chan,
         CASE WHEN o.o_orderdate < TIMESTAMP '1995-04-01' THEN 1 ELSE 2 END AS qtr,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1995-07-01'
),
agg AS (
  SELECT n_name,
         SUM(CASE WHEN chan = 'hi' AND qtr = 1 THEN cents ELSE 0 END) AS hi1,
         SUM(CASE WHEN chan = 'hi' AND qtr = 2 THEN cents ELSE 0 END) AS hi2,
         SUM(CASE WHEN chan = 'lo' AND qtr = 1 THEN cents ELSE 0 END) AS lo1,
         SUM(CASE WHEN chan = 'lo' AND qtr = 2 THEN cents ELSE 0 END) AS lo2
  FROM q
  GROUP BY n_name
)
SELECT n_name,
       CAST(hi2 AS DOUBLE) / hi1 AS hi_growth,
       CAST(lo2 AS DOUBLE) / lo1 AS lo_growth
FROM agg
WHERE hi1 > 0 AND lo1 > 0
  AND CAST(hi2 AS DOUBLE) / hi1 > CAST(lo2 AS DOUBLE) / lo1
"""


sql_query("sql_growth_ratio_compare", _GROWTH_SQL, tags=("sql-entry", "tpcds", "cte"))


# ---------------------------------------------------------------------------
# Worst-return-ratio ranking per channel (TPC-DS q49 shape,
# /root/reference/testdata/tpcds/queries/q49.sql): per-item return ratio
# (returned qty / shipped qty) DENSE_RANKed within each channel, top-10
# ranks kept. The rank key is an exact micros-integer ratio: FLOOR over an
# IEEE division of exact int64s is bit-identical cross-engine, and
# (rr_micros DESC, partkey) makes the rank ordering total and deterministic.
# ---------------------------------------------------------------------------

_RETURN_RANK_SQL = """
WITH per AS (
  SELECT l_linestatus AS chan, l_partkey,
         SUM(CASE WHEN l_returnflag = 'R'
             THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END) AS ret_qty,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS tot_qty
  FROM lineitem
  GROUP BY l_linestatus, l_partkey
),
ranked AS (
  SELECT chan, l_partkey, ret_qty, tot_qty,
         CAST(FLOOR(CAST(ret_qty AS DOUBLE) * 1000000.0 / tot_qty) AS BIGINT)
           AS rr_micros,
         DENSE_RANK() OVER (
           PARTITION BY chan
           ORDER BY CAST(FLOOR(CAST(ret_qty AS DOUBLE) * 1000000.0 / tot_qty)
                         AS BIGINT) DESC
         ) AS rnk
  FROM per
  WHERE tot_qty > 0 AND ret_qty > 0
)
SELECT chan, l_partkey, ret_qty, tot_qty,
       CAST(rr_micros AS DOUBLE) / 1000000.0 AS return_ratio, rnk
FROM ranked
WHERE rnk <= 10
ORDER BY chan, rnk, l_partkey
"""


sql_query(
    "sql_return_ratio_rank",
    _RETURN_RANK_SQL,
    tags=("sql-entry", "tpcds", "window"),
    order_by="chan, rnk, l_partkey",
)


# ---------------------------------------------------------------------------
# Month-matrix year-over-year report (TPC-DS q59 shape,
# /root/reference/testdata/tpcds/queries/q59.sql): per-period revenue of one
# year joined against the same period of the next year, emitting the YoY
# ratio per period. q59 keys on week+weekday; the driver schema's portable
# equivalent keys on month (EXTRACT(MONTH ...) is identical ANSI in both
# engines, unlike weekday numbering).
# ---------------------------------------------------------------------------

_MONTHLY_YOY_SQL = """
WITH m AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS mon,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER),
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER)
)
SELECT a.mon AS mon,
       CAST(a.cents AS DOUBLE) / 100.0 AS rev_1996,
       CAST(b.cents AS DOUBLE) / 100.0 AS rev_1997,
       CAST(b.cents AS DOUBLE) / CAST(a.cents AS DOUBLE) AS yoy_ratio
FROM m a
JOIN m b ON a.mon = b.mon AND a.y = 1996 AND b.y = 1997
ORDER BY mon
"""


sql_query(
    "sql_monthly_yoy_report",
    _MONTHLY_YOY_SQL,
    tags=("sql-entry", "tpcds", "self-join"),
    order_by="mon",
)


# ---------------------------------------------------------------------------
# Customer-revenue histogram (TPC-DS q54 shape,
# /root/reference/testdata/tpcds/queries/q54.sql): aggregate-of-aggregate —
# per-customer lifetime revenue bucketed into $50k bands, then customers
# counted per band. Bucket boundaries are exact: FLOOR over IEEE division
# of exact int64 cents is bit-identical cross-engine.
# ---------------------------------------------------------------------------

_REV_BUCKETS_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  GROUP BY o_custkey
)
SELECT CAST(FLOOR(CAST(cents AS DOUBLE) / 5000000.0) AS BIGINT) AS bucket,
       COUNT(*) AS n_customers
FROM per_cust
GROUP BY CAST(FLOOR(CAST(cents AS DOUBLE) / 5000000.0) AS BIGINT)
ORDER BY bucket
"""


sql_query(
    "sql_revenue_buckets",
    _REV_BUCKETS_SQL,
    tags=("sql-entry", "tpcds", "agg-of-agg"),
    order_by="bucket",
)


_RECURSIVE_SQL = """
WITH RECURSIVE tree(k, depth) AS (
  SELECT CAST(1 AS BIGINT) AS k, 0 AS depth
  UNION ALL
  SELECT c.c_custkey AS k, t.depth + 1 AS depth
  FROM customer c JOIN tree t ON CAST(FLOOR(c.c_custkey / 2.0) AS BIGINT) = t.k
)
SELECT depth, COUNT(*) AS n_nodes FROM tree GROUP BY depth
"""


sql_query("sql_recursive_tree_depth", _RECURSIVE_SQL, tags=("sql-entry", "recursive-cte"))


# ---------------------------------------------------------------------------
# Cross-channel quantity statistics (TPC-DS q17/q29 shape,
# /root/reference/testdata/tpcds/queries/q17.sql): per-item moment stats
# (count/avg/stddev) computed per channel, the channels self-joined on the
# item, keeping items returned more often than kept. One grouped aggregate
# feeds both join sides (ReuseExchange collapses the identical subplans);
# all sums are exact int64, stddev/avg derive from them in IEEE double.
# ---------------------------------------------------------------------------

_CROSS_CHANNEL_SQL = """
WITH per AS (
  SELECT l_partkey, l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sq,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)
             * CAST(ROUND(l_quantity) AS BIGINT)) AS sqq
  FROM lineitem
  WHERE l_returnflag IN ('N', 'R')
  GROUP BY l_partkey, l_returnflag
)
SELECT a.l_partkey,
       a.n AS n_kept,
       CAST(a.sq AS DOUBLE) / a.n AS avg_qty_kept,
       sqrt((CAST(a.n AS DOUBLE) * a.sqq - CAST(a.sq AS DOUBLE) * a.sq)
            / (CAST(a.n AS DOUBLE) * (a.n - 1))) AS stddev_qty_kept,
       b.n AS n_returned,
       CAST(b.sq AS DOUBLE) / b.n AS avg_qty_returned
FROM per a
JOIN per b ON a.l_partkey = b.l_partkey
          AND a.l_returnflag = 'N' AND b.l_returnflag = 'R'
WHERE b.n > a.n AND a.n > 1
"""


sql_query(
    "sql_cross_channel_stats",
    _CROSS_CHANNEL_SQL,
    tags=("sql-entry", "tpcds", "self-join", "statistics"),
)


# ---------------------------------------------------------------------------
# DataFrame-API iterative variant of sql_recursive_tree_depth: the same
# binary-tree level walk, but with the scale-correct iteration pattern the
# SQL recursion can't express (Spark 4's recursive CTE re-scans the base
# table every step): the customer keyset is hash-partitioned on the join key
# and persisted ONCE, each level's frontier is localCheckpoint'ed (cutting
# plan growth, same discipline as dedup.connected_components), and only the
# frontier moves through a shuffle per level — the cached keyset never
# re-scans or re-shuffles. Per-level counts are scalar driver actions.
# At sf0.1 this is ~20% slower than the SQL recursion (per-level job overhead
# dominates a 15k-row base table); the crossover is where re-scanning the
# base table per level costs more than one task wave per level — i.e. any
# production-sized table. Registered alongside sql_recursive_tree_depth so
# both entry points stay proven against the same oracle.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Coefficient-of-variation month pair (TPC-DS q39 shape,
# /root/reference/testdata/tpcds/queries/q39.sql): per (supplier, month)
# quantity mean/stddev from exact integer sums, consecutive months
# self-joined, keeping pairs where both months' cv exceeds a threshold.
# One grouped aggregate feeds both join sides (ReuseExchange); stddev/mean
# derive from the int sums in IEEE double with identical expression text on
# both engines, so the doubles are bit-equal.
# ---------------------------------------------------------------------------

_CV_PAIR_SQL = """
WITH per AS (
  SELECT l_suppkey, month(l_shipdate) AS m,
         COUNT(*) AS n,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sq,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)
             * CAST(ROUND(l_quantity) AS BIGINT)) AS sqq
  FROM lineitem
  WHERE year(l_shipdate) = 1996
  GROUP BY l_suppkey, month(l_shipdate)
  HAVING COUNT(*) > 1
),
cv AS (
  SELECT l_suppkey, m, n,
         CAST(sq AS DOUBLE) / n AS mean_qty,
         sqrt((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
              / (CAST(n AS DOUBLE) * (n - 1)))
           / (CAST(sq AS DOUBLE) / n) AS cov
  FROM per
)
SELECT a.l_suppkey, a.m AS m1, a.cov AS cov1, b.m AS m2, b.cov AS cov2
FROM cv a
JOIN cv b ON a.l_suppkey = b.l_suppkey AND b.m = a.m + 1
WHERE a.cov > 0.58 AND b.cov > 0.58
"""


sql_query(
    "sql_cv_month_pairs",
    _CV_PAIR_SQL,
    tags=("sql-entry", "tpcds", "self-join", "statistics"),
)


# ---------------------------------------------------------------------------
# Window-average deviation filter (TPC-DS q53/q63/q89 shape,
# /root/reference/testdata/tpcds/queries/q89.sql): monthly revenue per brand,
# compared against the brand's average month via an unbounded window, keeping
# months that deviate more than 10%. Sums stay exact integer cents; the
# window average is an explicit SUM-OVER / COUNT-OVER division so no
# engine-specific AVG accumulation order is involved.
# ---------------------------------------------------------------------------

_WINDOW_DEV_SQL = """
WITH monthly AS (
  SELECT p.p_brand, month(l.l_shipdate) AS m,
         SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) = 1996
  GROUP BY p.p_brand, month(l.l_shipdate)
),
windowed AS (
  SELECT p_brand, m, cents,
         CAST(SUM(cents) OVER (PARTITION BY p_brand) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY p_brand) AS avg_cents
  FROM monthly
)
SELECT p_brand, m,
       CAST(cents AS DOUBLE) / 100.0 AS month_sales,
       avg_cents / 100.0 AS avg_month_sales
FROM windowed
WHERE abs(CAST(cents AS DOUBLE) - avg_cents) > 0.1 * avg_cents
"""


sql_query(
    "sql_window_deviation",
    _WINDOW_DEV_SQL,
    tags=("sql-entry", "tpcds", "window"),
)


# ---------------------------------------------------------------------------
# Morning/evening activity ratio (TPC-DS q90 shape,
# /root/reference/testdata/tpcds/queries/q90.sql): two independently filtered
# scalar counts over events joined into one row, ratio in double. Exercises
# scalar-subquery-only FROM-less projection through both planners.
# ---------------------------------------------------------------------------

_AMPM_SQL = """
SELECT am.n AS am_count, pm.n AS pm_count,
       CAST(am.n AS DOUBLE) / pm.n AS am_pm_ratio
FROM (SELECT COUNT(*) AS n FROM events
      WHERE hour(ts) BETWEEN 8 AND 11 AND event_type = 'click') am,
     (SELECT COUNT(*) AS n FROM events
      WHERE hour(ts) BETWEEN 16 AND 19 AND event_type = 'click') pm
"""


sql_query("sql_ampm_ratio", _AMPM_SQL, tags=("sql-entry", "tpcds", "scalar"))


# ---------------------------------------------------------------------------
# Excess-discount revenue (TPC-DS q92/q32 shape,
# /root/reference/testdata/tpcds/queries/q92.sql): revenue from line items
# whose discount exceeds 1.3x their part's average discount, the threshold
# expressed through correlated scalar subqueries. The comparison
# 1.3 * avg(d) < d is cross-multiplied into pure integers
# (13 * sum_d < 10 * d * n) so no float rounding can flip a row near the
# boundary on either engine.
# ---------------------------------------------------------------------------

_EXCESS_DISCOUNT_SQL = """
SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 AS excess_revenue,
       COUNT(*) AS n_items
FROM lineitem l
WHERE l.l_partkey < 200
  AND 10 * CAST(ROUND(l.l_discount * 100) AS BIGINT)
      * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    > 13 * (SELECT SUM(CAST(ROUND(l2.l_discount * 100) AS BIGINT))
            FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


sql_query(
    "sql_excess_discount",
    _EXCESS_DISCOUNT_SQL,
    tags=("sql-entry", "tpcds", "correlated-subquery"),
)


# ---------------------------------------------------------------------------
# Ship-delay bucket matrix (TPC-DS q62/q99 shape,
# /root/reference/testdata/tpcds/queries/q62.sql): days between order date
# and line-item ship date bucketed into 30/60/90/90+ bands, counted per
# order priority. Day differences are exact integers on both engines; the
# engines spell date subtraction differently so the oracle text diverges
# (datediff vs date_diff) while the bucket semantics stay identical.
# ---------------------------------------------------------------------------

_SHIP_DELAY_SPARK_SQL = """
SELECT o.o_orderpriority,
       SUM(CASE WHEN datediff(l.l_shipdate, o.o_orderdate) <= 30
                THEN 1 ELSE 0 END) AS d30,
       SUM(CASE WHEN datediff(l.l_shipdate, o.o_orderdate) > 30
                 AND datediff(l.l_shipdate, o.o_orderdate) <= 60
                THEN 1 ELSE 0 END) AS d60,
       SUM(CASE WHEN datediff(l.l_shipdate, o.o_orderdate) > 60
                 AND datediff(l.l_shipdate, o.o_orderdate) <= 90
                THEN 1 ELSE 0 END) AS d90,
       SUM(CASE WHEN datediff(l.l_shipdate, o.o_orderdate) > 90
                THEN 1 ELSE 0 END) AS d90plus
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""

_SHIP_DELAY_ORACLE = """
SELECT o.o_orderpriority,
       SUM(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) <= 30
                THEN 1 ELSE 0 END) AS d30,
       SUM(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) > 30
                 AND date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) <= 60
                THEN 1 ELSE 0 END) AS d60,
       SUM(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) > 60
                 AND date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) <= 90
                THEN 1 ELSE 0 END) AS d90,
       SUM(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) > 90
                THEN 1 ELSE 0 END) AS d90plus
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


sql_query(
    "sql_ship_delay_matrix",
    _SHIP_DELAY_SPARK_SQL,
    oracle=_SHIP_DELAY_ORACLE,
    tags=("sql-entry", "tpcds", "case-matrix"),
    order_by="o_orderpriority",
)


# ---------------------------------------------------------------------------
# Per-customer channel-growth compare (TPC-DS q11/q74 shape,
# /root/reference/testdata/tpcds/queries/q11.sql): urgent-priority vs
# other-priority yearly totals per customer, keeping customers whose urgent
# growth ratio beat their other-channel growth ratio. The ratio-of-ratios
# comparison (u96/u95 > s96/s95) is cross-multiplied into exact integer
# cents (u96*s95 > s96*u95, denominators required positive) — the TPC-DS
# spec's own decimal-ratio compare made float-proof.
# ---------------------------------------------------------------------------

_CHANNEL_GROWTH_SQL = """
WITH per AS (
  SELECT o_custkey,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AND year(o_orderdate) = 1995
                  THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS u95,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AND year(o_orderdate) = 1996
                  THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS u96,
         SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   AND year(o_orderdate) = 1995
                  THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS s95,
         SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   AND year(o_orderdate) = 1996
                  THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS s96
  FROM orders
  WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY o_custkey
)
SELECT o_custkey,
       CAST(u96 AS DOUBLE) / u95 AS urgent_growth,
       CAST(s96 AS DOUBLE) / s95 AS standard_growth
FROM per
WHERE u95 > 0 AND s95 > 0 AND u96 > 0 AND s96 > 0
  AND u96 * s95 > s96 * u95
"""


sql_query(
    "sql_channel_growth",
    _CHANNEL_GROWTH_SQL,
    tags=("sql-entry", "tpcds", "ratio-compare"),
)


# ---------------------------------------------------------------------------
# Scalar-subquery CASE buckets (TPC-DS q9 shape,
# /root/reference/testdata/tpcds/queries/q9.sql): a single-row report where
# each column picks between two scalar-subquery aggregates depending on a
# third scalar-subquery count — five independent aggregates folded into one
# projection. Averages are explicit exact-int SUM / COUNT divisions.
# ---------------------------------------------------------------------------

_CASE_BUCKETS_SQL = """
SELECT
  CASE WHEN (SELECT COUNT(*) FROM lineitem
             WHERE CAST(ROUND(l_quantity) AS BIGINT) BETWEEN 1 AND 20) > 20000
       THEN (SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                         AS DOUBLE) / COUNT(*) / 100.0
             FROM lineitem
             WHERE CAST(ROUND(l_quantity) AS BIGINT) BETWEEN 1 AND 20)
       ELSE (SELECT CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT))
                         AS DOUBLE) / COUNT(*) / 100.0
             FROM lineitem
             WHERE CAST(ROUND(l_quantity) AS BIGINT) BETWEEN 1 AND 20)
  END AS bucket1,
  CASE WHEN (SELECT COUNT(*) FROM lineitem
             WHERE CAST(ROUND(l_quantity) AS BIGINT) BETWEEN 21 AND 35) > 20000
       THEN (SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                         AS DOUBLE) / COUNT(*) / 100.0
             FROM lineitem
             WHERE CAST(ROUND(l_quantity) AS BIGINT) BETWEEN 21 AND 35)
       ELSE (SELECT CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT))
                         AS DOUBLE) / COUNT(*) / 100.0
             FROM lineitem
             WHERE CAST(ROUND(l_quantity) AS BIGINT) BETWEEN 21 AND 35)
  END AS bucket2,
  CASE WHEN (SELECT COUNT(*) FROM lineitem
             WHERE CAST(ROUND(l_quantity) AS BIGINT) BETWEEN 36 AND 50) > 20000
       THEN (SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                         AS DOUBLE) / COUNT(*) / 100.0
             FROM lineitem
             WHERE CAST(ROUND(l_quantity) AS BIGINT) BETWEEN 36 AND 50)
       ELSE (SELECT CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT))
                         AS DOUBLE) / COUNT(*) / 100.0
             FROM lineitem
             WHERE CAST(ROUND(l_quantity) AS BIGINT) BETWEEN 36 AND 50)
  END AS bucket3
"""


sql_query(
    "sql_scalar_case_buckets",
    _CASE_BUCKETS_SQL,
    tags=("sql-entry", "tpcds", "scalar-subquery"),
)


# ---------------------------------------------------------------------------
# Wide month-pivot report (TPC-DS q66 shape,
# /root/reference/testdata/tpcds/queries/q66.sql): one row per (year,
# priority) with twelve monthly CASE-sum columns — the classic warehouse
# report matrix. All cells are exact integer cents cast to double at output.
# ---------------------------------------------------------------------------

_MONTH_MATRIX_SQL = """
SELECT year(o_orderdate) AS y, o_orderpriority,
""" + ",\n".join(
    f"       CAST(SUM(CASE WHEN month(o_orderdate) = {m}"
    f" THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    f" ELSE 0 END) AS DOUBLE) / 100.0 AS m{m:02d}"
    for m in range(1, 13)
) + """
FROM orders
GROUP BY year(o_orderdate), o_orderpriority
ORDER BY y, o_orderpriority
"""


sql_query(
    "sql_month_matrix",
    _MONTH_MATRIX_SQL,
    tags=("sql-entry", "tpcds", "pivot"),
    order_by="y, o_orderpriority",
)


@query("df_tree_depth_iterative", oracle=_RECURSIVE_SQL, tags=("recursive", "iterative"))
def df_tree_depth_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    # Persist the per-level join input at its NATURAL scan partitioning
    # (guide §2: derive partitioning from input size, not a constant). The
    # old repartition(32, "parent") was a local-core-count constant whose
    # hash layout the walk never used — every level joins a BROADCAST
    # frontier, which needs no co-partitioning — so each of the O(depth)
    # level jobs paid 32 tasks over KB-scale cached data (measured 4.2 s at
    # sf0.1). Scan splits are bytes-derived: one task per level here,
    # thousands of parallel tasks at 100 TB, with zero up-front shuffle.
    cust = (
        t(spark, sf_dir)["customer"]
        .select(
            F.col("c_custkey").alias("k"),
            F.expr("CAST(FLOOR(c_custkey / 2.0) AS BIGINT)").alias("parent"),
        )
        .persist()
    )
    # Two-hop edge table k -> parent(parent(k)), computed once (r13, guide
    # §2.4/§5 — the VERDICT item-7 frontier batching): the walk advances TWO
    # levels per round, and ONE tagged-union aggregate job both counts the
    # two levels and materializes the new frontier's checkpoint — halving
    # the O(depth) per-level job/scheduling floor (the walk's dominant cost:
    # each level job moves KB-scale cached rows). Still a BFS frontier walk
    # — per-level counts are computed level-exactly, unlike the doubling
    # entry's log-round label propagation.
    cust2 = (
        cust.alias("c")
        .join(cust.alias("p"), F.col("c.parent") == F.col("p.k"))
        .select(F.col("c.k").alias("k"), F.col("p.parent").alias("parent2"))
        .persist()
    )
    try:
        frontier = spark.range(1, 2).select(F.col("id").alias("fk"))
        counts: list[tuple[int, int]] = [(0, 1)]  # the seed row (k=1, depth 0)
        depth = 0
        while True:
            if depth > 64:  # a binary tree over 64-bit keys can't go deeper
                raise RuntimeError("tree walk exceeded 64 levels")
            lvl1 = cust.join(frontier, cust.parent == F.col("fk")).select(
                F.lit(1).alias("lv")
            )
            nxt = (
                cust2.join(frontier, cust2.parent2 == F.col("fk"))
                .select(F.col("k").alias("fk"))
                .localCheckpoint(eager=False)  # materialized by the stats job
            )
            stats = dict(
                lvl1.unionByName(nxt.select(F.lit(2).alias("lv")))
                .groupBy("lv")
                .count()
                .collect()
            )
            n1, n2 = int(stats.get(1, 0)), int(stats.get(2, 0))
            # nxt is materialized by the stats job: the previous frontier's
            # checkpoint blocks are dead state — free them now (GC will
            # not, see release_local_checkpoint).
            release_local_checkpoint(frontier)
            if n1 == 0:
                release_local_checkpoint(nxt)
                break
            counts.append((depth + 1, n1))
            if n2 == 0:
                release_local_checkpoint(nxt)
                break
            counts.append((depth + 2, n2))
            depth += 2
            frontier = nxt
        # Output is driver-side counts only — no checkpoint outlives the walk.
        return spark.createDataFrame(counts, schema="depth int, n_nodes bigint")
    finally:
        cust2.unpersist()
        cust.unpersist()


# ---------------------------------------------------------------------------
# Multi-channel YoY decline report (TPC-DS q75 shape,
# /root/reference/testdata/tpcds/queries/q75.sql): a UNION ALL of
# per-channel detail selects feeds ONE (year, part) aggregate, which
# self-joins against the prior year and keeps parts whose revenue fell more
# than 10%. The union happens BELOW the aggregate (q75's sales_detail CTE),
# so Catalyst plans one shared shuffle over the combined detail — not three.
# The decline test is integer-exact (10*curr < 9*prev).
# ---------------------------------------------------------------------------

_DECLINE_DETAIL = "\n  UNION ALL\n".join(
    f"""  SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS y, l_partkey AS pk,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS r
  FROM lineitem WHERE l_returnflag = '{flag}'"""
    for flag in ("A", "N", "R")
)

_DECLINE_SQL = f"""
WITH detail AS (
{_DECLINE_DETAIL}
),
tot AS (
  SELECT y, pk, CAST(SUM(r) AS BIGINT) AS units FROM detail GROUP BY y, pk
)
SELECT c.pk AS partkey, c.y AS year,
       CAST(p.units AS DOUBLE) / 10000.0 AS prev_revenue,
       CAST(c.units AS DOUBLE) / 10000.0 AS curr_revenue
FROM tot c
JOIN tot p ON p.pk = c.pk AND p.y = c.y - 1
WHERE 10 * c.units < 9 * p.units
ORDER BY partkey, year
"""


sql_query(
    "sql_channel_decline_yoy",
    _DECLINE_SQL,
    tags=("sql-entry", "tpcds", "union-agg"),
    order_by="partkey, year",
)


# ---------------------------------------------------------------------------
# Below-average part revenue per supplier (TPC-DS q65 shape,
# /root/reference/testdata/tpcds/queries/q65.sql): per-(supplier, part)
# revenue joined back against the supplier's average pair revenue, keeping
# pairs at <= 0.5x the average. The threshold is integer-exact:
# r <= 0.5*avg  <=>  2*r*cnt <= tot (no float average can flip a boundary
# row between engines). Both grouped CTEs share one scan; the sa aggregate
# reuses sp's shuffle partitioning (no extra exchange on sk).
# ---------------------------------------------------------------------------

_LOW_REV_SQL = """
WITH sp AS (
  SELECT l_suppkey AS sk, l_partkey AS pk,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS r
  FROM lineitem GROUP BY l_suppkey, l_partkey
),
sa AS (
  SELECT sk, CAST(SUM(r) AS BIGINT) AS tot, COUNT(*) AS cnt FROM sp GROUP BY sk
)
SELECT s.s_name AS supplier, sp.pk AS partkey,
       CAST(sp.r AS DOUBLE) / 10000.0 AS revenue
FROM sp
JOIN sa ON sa.sk = sp.sk
JOIN supplier s ON s.s_suppkey = sp.sk
WHERE 2 * sp.r * sa.cnt <= sa.tot
ORDER BY supplier, partkey
"""


sql_query(
    "sql_low_revenue_parts",
    _LOW_REV_SQL,
    tags=("sql-entry", "tpcds", "group-avg-join"),
    order_by="supplier, partkey",
)


# ---------------------------------------------------------------------------
# Customer profile with EXISTS AND (EXISTS OR EXISTS) (TPC-DS q10/q35 shape,
# /root/reference/testdata/tpcds/queries/q10.sql): one mandatory channel
# EXISTS plus a DISJUNCTION of two more EXISTS over different tables. The
# disjunction forces Catalyst's ExistenceJoin (mark join) for the OR'd
# branches — they can't be plain left-semi joins — while the AND'd branch
# stays a true semi join. Three hash joins against customer, zero cartesian.
# ---------------------------------------------------------------------------

_DUAL_EXISTS_SQL = """
SELECT c.c_mktsegment AS segment, COUNT(*) AS n_cust,
       CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_bal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
  AND (EXISTS (SELECT 1 FROM events e
               WHERE e.user_id = c.c_custkey AND e.event_type = 'purchase')
       OR EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'P'))
GROUP BY c.c_mktsegment
ORDER BY segment
"""


sql_query(
    "sql_dual_exists_disjunct",
    _DUAL_EXISTS_SQL,
    tags=("sql-entry", "tpcds", "mark-join"),
    order_by="segment",
)


# ---------------------------------------------------------------------------
# Two-hop EXISTS self-join (TPC-DS q95 shape,
# /root/reference/testdata/tpcds/queries/q95.sql): lines shipped in 1997
# whose order ALSO has a line from a DIFFERENT supplier (correlated EXISTS
# with an inequality on the non-key column) and at least one returned line.
# The first EXISTS is a left-semi hash join on l_orderkey with the <>
# residual evaluated inside the join — the q95 "ws1/ws2 different warehouse"
# pattern — not a cartesian.
# ---------------------------------------------------------------------------

_TWO_HOP_SQL = """
SELECT COUNT(DISTINCT l1.l_orderkey) AS n_orders,
       CAST(SUM(CAST(ROUND(l1.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l1.l_discount * 100) AS BIGINT))) AS DOUBLE)
         / 10000.0 AS revenue
FROM lineitem l1
WHERE l1.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l1.l_shipdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND EXISTS (SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_returnflag = 'R')
"""


sql_query("sql_two_hop_exists", _TWO_HOP_SQL, tags=("sql-entry", "tpcds", "semi-join"))


# ---------------------------------------------------------------------------
# Per-band profile buckets (TPC-DS q28 shape,
# /root/reference/testdata/tpcds/queries/q28.sql): four quantity bands, each
# computing COUNT(*), an exact average price, and COUNT(DISTINCT price),
# cross-joined into one wide row. Each band is a 1-row aggregate; the cross
# join multiplies four single rows (whitelisted in the plan lint). The
# average divides an exact cents sum by 100*count in double — identical
# correctly-rounded operations in both engines.
# ---------------------------------------------------------------------------

_BUCKET_BANDS = [("q1", 1, 10), ("q2", 11, 20), ("q3", 21, 35), ("q4", 36, 50)]

_BUCKET_PROFILE_SQL = (
    "SELECT "
    + ",\n       ".join(
        f"b{i}.cnt_{k}, b{i}.avg_{k}, b{i}.prices_{k}"
        for i, (k, _, _) in enumerate(_BUCKET_BANDS, 1)
    )
    + "\nFROM\n"
    + ",\n".join(
        f"""  (SELECT COUNT(*) AS cnt_{k},
          CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
            / (100.0 * COUNT(*)) AS avg_{k},
          COUNT(DISTINCT l_extendedprice) AS prices_{k}
   FROM lineitem WHERE l_quantity BETWEEN {lo} AND {hi}) b{i}"""
        for i, (k, lo, hi) in enumerate(_BUCKET_BANDS, 1)
    )
)


sql_query(
    "sql_bucket_profile",
    _BUCKET_PROFILE_SQL,
    tags=("sql-entry", "tpcds", "scalar-agg"),
)


# ---------------------------------------------------------------------------
# Period-union part revenue (TPC-DS q33/q56/q60 shape,
# /root/reference/testdata/tpcds/queries/q60.sql): a restricted part set
# (IN-subquery over the dim) filters THREE disjoint-period aggregates whose
# UNION ALL feeds one total per part. The IN-subquery plans as a broadcast
# semi join replicated into each branch; the three branches share one
# logical scan shape and the final rollup groups only the pre-aggregated
# union (three rows per part at most).
# ---------------------------------------------------------------------------

_PERIOD_UNION_PERIODS = [
    ("1996-01-01", "1996-07-01"),
    ("1996-07-01", "1997-01-01"),
    ("1997-01-01", "1997-07-01"),
]

_PERIOD_UNION_SQL = (
    """
WITH sel AS (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY'),
u AS (
"""
    + "\n  UNION ALL\n".join(
        f"""  SELECT l_partkey AS pk,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
           AS cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'
    AND l_partkey IN (SELECT p_partkey FROM sel)
  GROUP BY l_partkey"""
        for lo, hi in _PERIOD_UNION_PERIODS
    )
    + """
)
SELECT pk AS partkey, CAST(SUM(cents) AS DOUBLE) / 10000.0 AS total_revenue
FROM u
GROUP BY pk
ORDER BY total_revenue DESC, partkey
LIMIT 25
"""
)


sql_query(
    "sql_period_union_parts",
    _PERIOD_UNION_SQL,
    tags=("sql-entry", "tpcds", "union-agg"),
    order_by="total_revenue DESC, partkey",
)


# ---------------------------------------------------------------------------
# Correlated COUNT(*) predicate over attribute patterns (TPC-DS q41 shape,
# /root/reference/testdata/tpcds/queries/q41.sql): parts whose BRAND also
# carries at least one part matching a deep OR of (type, size-band)
# patterns. q41's distinctive construct is the correlated scalar COUNT
# compared with > 0 — Catalyst plans a partial aggregate under a left outer
# join (not a semi join), the same shape DataFusion reaches via its scalar
# subquery decorrelation.
# ---------------------------------------------------------------------------

_ATTR_PATTERN_SQL = """
SELECT DISTINCT p1.p_name AS name
FROM part p1
WHERE p1.p_size BETWEEN 5 AND 40
  AND (SELECT COUNT(*) FROM part p2
       WHERE p2.p_brand = p1.p_brand
         AND ((p2.p_type = 'ECONOMY' AND p2.p_size BETWEEN 10 AND 20)
           OR (p2.p_type = 'SMALL' AND p2.p_size BETWEEN 1 AND 5)
           OR (p2.p_type = 'STANDARD' AND p2.p_size BETWEEN 25 AND 35))) > 0
ORDER BY name
LIMIT 40
"""


sql_query(
    "sql_attr_pattern_exists",
    _ATTR_PATTERN_SQL,
    tags=("sql-entry", "tpcds", "subquery"),
    order_by="name",
)


# ---------------------------------------------------------------------------
# Cross-nation purchase report (TPC-DS q46/q68/q79 shape,
# /root/reference/testdata/tpcds/queries/q46.sql): the q46 family joins the
# fact to two dimensions and keeps rows where the two sides DISAGREE on an
# attribute (bought-city <> current-city). Here: lines where the customer's
# nation differs from the supplier's — an equi-join chain with a <> residual
# between the two dimension columns, never a cartesian.
#
# The Spark text uses the natural `<>`; the oracle spells the predicate
# `(c_nationkey - s_nationkey) <> 0` because DuckDB's optimizer recognizes
# a bare column-to-column <> as an inequality-JOIN condition and plans an
# IEJoin across the fact (measured 23s vs 0.07s at sf0.1); the arithmetic
# form keeps DuckDB on hash joins. Semantically identical for int keys.
# ---------------------------------------------------------------------------

_MISMATCH_BODY = """
SELECT o.o_custkey AS custkey, COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
         / 10000.0 AS cross_nation_revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE {pred}
GROUP BY o.o_custkey
ORDER BY cross_nation_revenue DESC, custkey
LIMIT 20
"""

_MISMATCH_SQL = _MISMATCH_BODY.format(pred="c.c_nationkey <> s.s_nationkey")
_MISMATCH_ORACLE = _MISMATCH_BODY.format(
    pred="(c.c_nationkey - s.s_nationkey) <> 0"
)


sql_query(
    "sql_mismatch_channel",
    _MISMATCH_SQL,
    oracle=_MISMATCH_ORACLE,
    tags=("sql-entry", "tpcds", "mismatch-join"),
    order_by="cross_nation_revenue DESC, custkey",
)


# ---------------------------------------------------------------------------
# INTERSECT-restricted brand rollup (TPC-DS q14 shape,
# /root/reference/testdata/tpcds/queries/q14.sql): q14's cross_items CTE is
# an INTERSECT of the item sets sold in every period; sales restricted to
# those items then roll up by (brand, year). The INTERSECT runs on
# projected key columns only (narrow shuffles), and the restriction is a
# semi join before the rollup. NULL rollup cells use the COALESCE-sentinel
# convention (multiset compare, no NULL-ordering divergence).
# ---------------------------------------------------------------------------

_COMMON_PARTS_SQL = """
WITH common AS (
  SELECT l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  INTERSECT
  SELECT l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  INTERSECT
  SELECT l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
)
SELECT COALESCE(p.p_brand, 'ALL') AS brand,
       COALESCE(CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER), 0) AS year,
       CAST(GROUPING(p.p_brand) + GROUPING(CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER))
            AS INTEGER) AS lvl,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
         / 10000.0 AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1999-01-01'
  AND l.l_partkey IN (SELECT l_partkey FROM common)
GROUP BY ROLLUP(p.p_brand, CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER))
"""


sql_query(
    "sql_common_parts_rollup",
    _COMMON_PARTS_SQL,
    tags=("sql-entry", "tpcds", "intersect-rollup"),
)


@query("df_tree_depth_doubling", oracle=_RECURSIVE_SQL, tags=("recursive", "iterative"))
def df_tree_depth_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree depth via POINTER DOUBLING: O(log depth) self-joins instead of
    the BFS walk's O(depth) frontier joins (`df_tree_depth_iterative`).

    Each round composes every node's ancestor pointer with itself
    (anc <- anc(anc), d <- d + d(anc)); the root is a fixpoint (anc(1)=1,
    d(1)=0) so jumps past it stop accumulating. A depth-D tree converges in
    ceil(log2 D) rounds — at petabyte graph scale this is the difference
    between ~40 shuffles and ~6 (same doubling discipline as
    dedup.connected_components; cf. the reference's bounded recursion note
    at /root/reference/docs/source/learn/03-how-adaptive-query-execution-works.md).
    Every driver action is a scalar convergence count, never data-scale.
    """
    import pyspark.sql.functions as F

    cust = t(spark, sf_dir)["customer"]
    # Nodes k>=1 (the subtree of root 1 — node 0 is its own parent and
    # unreachable, matching the recursive oracle's seed).
    st = (
        cust.where(F.col("c_custkey") >= 1)
        .select(
            F.col("c_custkey").alias("k"),
            F.when(F.col("c_custkey") == 1, F.lit(1).cast("bigint"))
            .otherwise(F.expr("CAST(FLOOR(c_custkey / 2.0) AS BIGINT)"))
            .alias("anc"),
            F.when(F.col("c_custkey") == 1, F.lit(0)).otherwise(F.lit(1)).alias("d"),
        )
        .persist()
    )
    try:
        for _ in range(64):  # 64 rounds covers depth 2^64 — never hit
            if st.where(F.col("anc") != 1).count() == 0:
                break
            nxt = (
                st.alias("a")
                .join(st.select(
                    F.col("k").alias("bk"),
                    F.col("anc").alias("banc"),
                    F.col("d").alias("bd"),
                ), F.col("a.anc") == F.col("bk"))
                .select(
                    F.col("a.k").alias("k"),
                    F.col("banc").alias("anc"),
                    (F.col("a.d") + F.col("bd")).alias("d"),
                )
                .localCheckpoint(eager=True)  # cut the doubling lineage
            )
            st.unpersist()
            release_local_checkpoint(st)  # the superseded round's blocks
            st = nxt.persist()
        else:
            raise RuntimeError("pointer doubling did not converge in 64 rounds")
        return st.groupBy(F.col("d").cast("int").alias("depth")).agg(
            F.count(F.lit(1)).alias("n_nodes")
        )
    finally:
        st.unpersist()


# ---------------------------------------------------------------------------
# Wide-chain YoY price comparison (TPC-DS q64 shape,
# /root/reference/testdata/tpcds/queries/q64.sql): q64's signature is the
# WIDEST join in the suite — a fact chained through many dimensions, the
# whole chain aggregated, then SELF-JOINED across adjacent years comparing
# averages. Here: 7 tables (lineitem-orders-customer-nation-region-
# supplier-part), per-(part, year) average price, year-vs-next-year decline.
# The average comparison is cross-multiplied on exact cents (no float avg
# can flip a boundary row); the small dims broadcast, so the only real
# shuffles are the fact aggregate and the pair self-join.
#
# Materialize-once discipline: a plain CTE self-join expands BOTH sides —
# Catalyst inlines the CTE, so the fact scan and all six dimension joins run
# twice (the round-3 pinned plan showed 12 broadcasts / 4 shuffles). The
# chain aggregate is materialized once (eager localCheckpoint — the same
# mechanism the iterative operators use; a persist() would be silently
# reused across bench runs and under-report) and the year-pair self-join
# reads the materialized partitions from both sides: at 100× the dominant
# chain cost is paid once. The oracle keeps the CTE spelling — same rows.
# ---------------------------------------------------------------------------

_WIDE_CHAIN_CTE = """
  SELECT p.p_partkey AS pk,
         CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS y,
         COUNT(*) AS cnt,
         CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  JOIN region rc ON rc.r_regionkey = nc.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE rc.r_name IN ('AMERICA', 'ASIA')
  GROUP BY p.p_partkey, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER)
"""

_WIDE_PAIR_SQL = """
SELECT a.pk AS partkey, a.y AS year,
       CAST(a.cents AS DOUBLE) / (100.0 * a.cnt) AS avg_price,
       CAST(b.cents AS DOUBLE) / (100.0 * b.cnt) AS next_avg_price
FROM chain a
JOIN chain b ON b.pk = a.pk AND b.y = a.y + 1
WHERE b.cents * a.cnt < a.cents * b.cnt
ORDER BY partkey, year
"""

_WIDE_CHAIN_SQL = f"WITH chain AS (\n{_WIDE_CHAIN_CTE})\n{_WIDE_PAIR_SQL}"


@query(
    "sql_wide_chain_yoy",
    oracle=_WIDE_CHAIN_SQL,
    tags=("sql-entry", "tpcds", "wide-join"),
    order_by="partkey, year",
)
def wide_chain_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir)
    # Single-slot ownership: the next invocation releases this block (see
    # slot_local_checkpoint) — repeated bench runs hold one chain frame,
    # not an accumulating block-manager leak.
    chain = slot_local_checkpoint("sql_wide_chain_yoy", spark.sql(_WIDE_CHAIN_CTE))
    a, b = chain.alias("a"), chain.alias("b")
    return (
        a.join(b, (F.col("b.pk") == F.col("a.pk")) & (F.col("b.y") == F.col("a.y") + 1))
        .where(F.col("b.cents") * F.col("a.cnt") < F.col("a.cents") * F.col("b.cnt"))
        .select(
            F.col("a.pk").alias("partkey"),
            F.col("a.y").alias("year"),
            (F.col("a.cents").cast("double") / (100.0 * F.col("a.cnt"))).alias(
                "avg_price"
            ),
            (F.col("b.cents").cast("double") / (100.0 * F.col("b.cnt"))).alias(
                "next_avg_price"
            ),
        )
        .orderBy("partkey", "year")
    )


# ---------------------------------------------------------------------------
# Disjunctive IN-subquery predicate (TPC-DS q45 shape,
# /root/reference/testdata/tpcds/queries/q45.sql): q45 keeps rows where a
# LOCAL attribute is in a literal list OR the key is in a SUBQUERY result.
# Because the subquery membership appears under OR, Catalyst cannot rewrite
# it to a semi join; it plans an ExistenceJoin (mark join) whose boolean
# feeds the disjunction — the same decorrelation DataFusion reaches with its
# mark-join rewrite. The subquery side is aggregated to distinct keys before
# the join, so the mark join shuffles keys only.
# ---------------------------------------------------------------------------

_DISJUNCT_IN_SQL = """
SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_nationkey IN (1, 4, 9, 14, 19)
   OR o.o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
GROUP BY c.c_mktsegment
ORDER BY segment
"""


sql_query(
    "sql_disjunct_in_subquery",
    _DISJUNCT_IN_SQL,
    tags=("sql-entry", "tpcds", "mark-join"),
    order_by="segment",
)


# ---------------------------------------------------------------------------
# Revenue share within class via window-over-aggregate (TPC-DS q12/q20/q98
# shape, /root/reference/testdata/tpcds/queries/q98.sql): per-item revenue in
# a date window, with each item's share of its CLASS total computed by
# SUM() OVER (PARTITION BY class) over the grouped output. One hash
# aggregate then one window exchange on the (much smaller) per-item rollup —
# the window never sees fact-table rows. Numerator and denominator are exact
# int64 cents, so the DOUBLE division is bit-identical in both engines.
# ---------------------------------------------------------------------------

_CLASS_SHARE_SQL = """
WITH itemrev AS (
  SELECT p.p_type AS class, p.p_partkey AS partkey,
         SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS cents
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1996-03-01'
  GROUP BY p.p_type, p.p_partkey
)
SELECT class, partkey,
       CAST(cents AS DOUBLE) / 10000.0 AS item_revenue,
       CAST(cents * 100 AS DOUBLE)
         / CAST(SUM(cents) OVER (PARTITION BY class) AS DOUBLE) AS revenue_ratio
FROM itemrev
ORDER BY class, partkey
"""


sql_query(
    "sql_class_revenue_share",
    _CLASS_SHARE_SQL,
    tags=("sql-entry", "tpcds", "window-over-agg"),
    order_by="class, partkey",
)


# ---------------------------------------------------------------------------
# Before/after pivot-date flow ratio (TPC-DS q21/q40 shape,
# /root/reference/testdata/tpcds/queries/q21.sql): conditional sums split a
# measure around a pivot date per entity, keeping entities whose
# after/before ratio lies in [2/3, 3/2]. The band test uses integer
# cross-multiplication (3*after >= 2*before AND 2*after <= 3*before) — exact
# in both engines, no floating-point boundary rows. One fact aggregate; the
# supplier dim joins broadcast-small after it.
# ---------------------------------------------------------------------------

_BEFORE_AFTER_SQL = """
WITH flows AS (
  SELECT l_suppkey AS suppkey,
         SUM(CASE WHEN l_shipdate < TIMESTAMP '1996-06-01'
                  THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END) AS qty_before,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-06-01'
                  THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END) AS qty_after
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate < TIMESTAMP '1996-09-01'
  GROUP BY l_suppkey
)
SELECT s.s_name AS supplier, f.qty_before, f.qty_after
FROM flows f
JOIN supplier s ON s.s_suppkey = f.suppkey
WHERE f.qty_before > 0 AND f.qty_after > 0
  AND 3 * f.qty_after >= 2 * f.qty_before
  AND 2 * f.qty_after <= 3 * f.qty_before
ORDER BY supplier
"""


sql_query(
    "sql_before_after_ratio",
    _BEFORE_AFTER_SQL,
    tags=("sql-entry", "tpcds", "conditional-agg"),
    order_by="supplier",
)


# ---------------------------------------------------------------------------
# HAVING vs global scalar average (TPC-DS q24 shape,
# /root/reference/testdata/tpcds/queries/q24.sql): q24 keeps groups whose
# SUM exceeds a multiple of the AVG over the WHOLE aggregated set — a scalar
# subquery over the same CTE the outer query reads, planned as one reused
# aggregate + a broadcast of the 1-row scalar. The threshold test is integer
# cross-multiplied (cents * n > 2 * total) so no double AVG (whose
# summation order differs between engines) appears anywhere.
# ---------------------------------------------------------------------------

_ABOVE_GLOBAL_AVG_SQL = """
WITH per_cust AS (
  SELECT c.c_custkey AS custkey, c.c_name AS name,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_name
)
SELECT custkey, name, CAST(cents AS DOUBLE) / 100.0 AS total_spend
FROM per_cust
WHERE cents * (SELECT COUNT(*) FROM per_cust)
      > 2 * (SELECT SUM(cents) FROM per_cust)
ORDER BY custkey
"""


sql_query(
    "sql_above_global_avg",
    _ABOVE_GLOBAL_AVG_SQL,
    tags=("sql-entry", "tpcds", "scalar-subquery"),
    order_by="custkey",
)


# ---------------------------------------------------------------------------
# NULL-key counts per channel (TPC-DS q76 shape,
# /root/reference/testdata/tpcds/queries/q76.sql): q76 UNION-ALLs the three
# sales channels and counts the rows whose dimension FK is NULL, grouped by
# channel and year. The driver tables have no natural NULL FKs, so each
# branch derives one with NULLIF on a channel-specific sentinel — the NULL
# arrives BELOW the union exactly as q76's missing FKs do. The union is
# append-only (no shuffle); the one exchange is the final group-by.
# ---------------------------------------------------------------------------

_NULL_KEY_CHANNELS_SQL = """
WITH allchan AS (
  SELECT 'orders' AS channel,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
         NULLIF(o_orderpriority, '3-MEDIUM') AS attr,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  UNION ALL
  SELECT 'lineitem' AS channel,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS y,
         NULLIF(l_returnflag, 'N') AS attr,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
)
SELECT channel, y AS year, COUNT(*) AS n_null_attr,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS total
FROM allchan
WHERE attr IS NULL
GROUP BY channel, y
ORDER BY channel, year
"""


sql_query(
    "sql_null_key_channels",
    _NULL_KEY_CHANNELS_SQL,
    tags=("sql-entry", "tpcds", "union"),
    order_by="channel, year",
)


# ---------------------------------------------------------------------------
# Substring-prefix IN-list INTERSECT customer set (TPC-DS q8 shape,
# /root/reference/testdata/tpcds/queries/q8.sql): q8 restricts stores to zip
# prefixes that appear BOTH in a literal list AND among preferred customers'
# zips — a literal-filtered dimension INTERSECTed with a fact-derived key
# set, feeding a semi join. Key types are cast to BIGINT on both INTERSECT
# branches (nation.n_nationkey is int64, customer.c_nationkey int32).
# ---------------------------------------------------------------------------

_PREFIX_INTERSECT_SQL = """
WITH target_nations AS (
  SELECT CAST(n_nationkey AS BIGINT) AS nk
  FROM nation
  WHERE SUBSTRING(n_name, 8, 1) IN ('1', '3', '5', '7', '9')
  INTERSECT
  SELECT CAST(c_nationkey AS BIGINT) AS nk
  FROM customer
  WHERE c_acctbal > 7500
)
SELECT n.n_name AS nation, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE CAST(c.c_nationkey AS BIGINT) IN (SELECT nk FROM target_nations)
GROUP BY n.n_name
ORDER BY nation
"""


sql_query(
    "sql_prefix_intersect_semi",
    _PREFIX_INTERSECT_SQL,
    tags=("sql-entry", "tpcds", "intersect"),
    order_by="nation",
)


# ---------------------------------------------------------------------------
# YoY decline over NULL-filtered LEFT JOIN (TPC-DS q78 shape,
# /root/reference/testdata/tpcds/queries/q78.sql): q78 computes per-item
# yearly sales EXCLUDING returned rows via LEFT JOIN returns ... WHERE
# return key IS NULL (an anti join spelled as a null-filtered outer join),
# then self-joins adjacent years. Returns here are the distinct
# (orderkey, partkey) pairs flagged 'R'. The decline test (2*qty < prev)
# is exact integer arithmetic.
# ---------------------------------------------------------------------------

_NET_YOY_DECLINE_SQL = """
WITH returned AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
),
net AS (
  SELECT l.l_partkey AS pk,
         CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS y,
         SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS qty,
         SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem l
  LEFT JOIN returned r
    ON r.l_orderkey = l.l_orderkey AND r.l_partkey = l.l_partkey
  WHERE r.l_orderkey IS NULL
  GROUP BY l.l_partkey, CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER)
)
SELECT a.pk AS partkey, a.y AS year, a.qty AS qty, b.qty AS prev_qty,
       CAST(a.cents AS DOUBLE) / 100.0 AS revenue
FROM net a
JOIN net b ON b.pk = a.pk AND b.y = a.y - 1
WHERE 2 * a.qty < b.qty
ORDER BY partkey, year
"""


sql_query(
    "sql_net_yoy_decline",
    _NET_YOY_DECLINE_SQL,
    tags=("sql-entry", "tpcds", "anti-join"),
    order_by="partkey, year",
)


# ---------------------------------------------------------------------------
# Single-month brand revenue report (TPC-DS q42/q52/q55 class,
# /root/reference/testdata/tpcds/queries/q55.sql): the simplest TPC-DS
# reporting shape — one month slice of the fact, one dimension join, one
# aggregate, revenue-ordered top-k. Exact cents under the double output;
# (revenue DESC, brand) is a deterministic total order.
# ---------------------------------------------------------------------------

_BRAND_MONTH_SQL = """
SELECT CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS year,
       p.p_brand AS brand,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
         / 10000.0 AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-02-01'
GROUP BY CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER), p.p_brand
ORDER BY revenue DESC, brand
LIMIT 10
"""


sql_query(
    "sql_brand_month_report",
    _BRAND_MONTH_SQL,
    tags=("sql-entry", "tpcds", "report"),
    order_by="revenue DESC, brand",
)


# ---------------------------------------------------------------------------
# Demographic multi-AVG item report (TPC-DS q7/q26 template,
# /root/reference/testdata/tpcds/queries/q7.sql: store_sales joined to
# customer_demographics + date_dim + item + promotion, demographic equality
# filters plus an OR'd promotion-channel predicate, four AVG measures per
# item, ORDER BY item LIMIT 100). Re-derived on the driver star schema:
# customer.mktsegment is the demographic filter, the order-priority/status
# OR-disjunct is the promotion-channel analogue, the order-date year is the
# date_dim slice, part is the item dim.
#
# Physical design: the four AVGs recombine exact integer aggregates
# (cents x discount-basis-points products stay inside BIGINT), so one hash
# aggregate emits all four measures map-side-combined and the final doubles
# divide identically in both engines — no float sums anywhere. Dims
# broadcast; the only shuffle is the per-item aggregate.
# ---------------------------------------------------------------------------

_DEMO_ITEM_SQL = """
SELECT p.p_partkey AS item,
       CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS DOUBLE) / COUNT(*) AS agg1,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / (100.0 * COUNT(*)) AS agg2,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS DOUBLE)
         / (10000.0 * COUNT(*)) AS agg3,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
         / (10000.0 * COUNT(*)) AS agg4
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE c.c_mktsegment = 'BUILDING'
  AND (o.o_orderpriority = '1-URGENT' OR o.o_orderstatus = 'O')
  AND EXTRACT(YEAR FROM o.o_orderdate) = 1997
GROUP BY p.p_partkey
ORDER BY item
LIMIT 100
"""


sql_query(
    "sql_demographic_item_report",
    _DEMO_ITEM_SQL,
    tags=("sql-entry", "tpcds", "report"),
    order_by="item",
)


# ---------------------------------------------------------------------------
# Attribute-band catalog probe with recency EXISTS (TPC-DS q37/q82 class,
# /root/reference/testdata/tpcds/queries/q82.sql): dimension rows inside a
# (size, price) band restricted to those with recent fact activity — a
# selective dim scan semi-joined against a date-sliced fact.
# ---------------------------------------------------------------------------

_PART_BAND_SQL = """
SELECT p.p_partkey AS partkey, p.p_name AS name, p.p_retailprice AS price
FROM part p
WHERE p.p_size BETWEEN 10 AND 20
  AND p.p_retailprice BETWEEN 500 AND 1500
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey
                AND l.l_shipdate >= TIMESTAMP '1998-01-01')
ORDER BY partkey
LIMIT 50
"""


sql_query(
    "sql_part_band_recent",
    _PART_BAND_SQL,
    tags=("sql-entry", "tpcds", "semi-join"),
    order_by="partkey",
)


# ---------------------------------------------------------------------------
# Time-of-day traffic count for high-frequency users (TPC-DS q96 class,
# /root/reference/testdata/tpcds/queries/q96.sql): a single COUNT over the
# fact restricted by an hour-of-day band and a semi join against a
# HAVING-derived user cohort (q96's household-demographics restriction
# re-expressed on the events schema).
# ---------------------------------------------------------------------------

_HOUR_TRAFFIC_SQL = """
SELECT COUNT(*) AS n_clicks
FROM events e
JOIN (SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) > 60) hf
  ON hf.user_id = e.user_id
WHERE EXTRACT(HOUR FROM e.ts) BETWEEN 8 AND 10
  AND e.event_type = 'click'
"""


sql_query("sql_hour_traffic_count", _HOUR_TRAFFIC_SQL, tags=("sql-entry", "tpcds"))


# ---------------------------------------------------------------------------
# Cross-table measure inequality on an equi-join (TPC-DS q72 shape,
# /root/reference/testdata/tpcds/queries/q72.sql): q72's distinctive
# construct is inv_quantity_on_hand < cs_quantity — an equi-join on keys
# whose RESIDUAL compares measures from the two sides. Here: 1997+ demand
# lines whose quantity exceeds 1/5 of the supplier's pre-1997 availability
# for that part (integer cross-multiplied — no division). The residual
# stays attached to the hash join; never an inequality-driven join plan.
# ---------------------------------------------------------------------------

_SHORTAGE_SQL = """
WITH avail AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS availqty
  FROM lineitem
  WHERE l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey
)
SELECT p.p_brand AS brand, COUNT(*) AS n_shortage_lines,
       CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS shortage_qty
FROM lineitem l
JOIN avail a ON a.pk = l.l_partkey AND a.sk = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND 5 * CAST(ROUND(l.l_quantity) AS BIGINT) > a.availqty
GROUP BY p.p_brand
ORDER BY brand
"""


sql_query(
    "sql_shortage_lines",
    _SHORTAGE_SQL,
    tags=("sql-entry", "tpcds", "inequality-residual"),
    order_by="brand",
)


# ---------------------------------------------------------------------------
# Modern SQL dialect surface: GROUP BY ALL (infer grouping keys from the
# select list) and an inline VALUES relation joined as a dimension — both
# part of the contemporary ANSI surface DataFusion and DuckDB share; Spark 4
# accepts the identical text.
# ---------------------------------------------------------------------------

_GROUP_BY_ALL_SQL = """
SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-03'
GROUP BY ALL
ORDER BY returnflag, linestatus
"""


sql_query(
    "sql_group_by_all",
    _GROUP_BY_ALL_SQL,
    tags=("sql-entry", "dialect"),
    order_by="returnflag, linestatus",
)


_VALUES_DIM_SQL = """
SELECT w.tier AS tier, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * w.weight) AS DOUBLE)
         / 100.0 AS weighted_total
FROM orders o
JOIN (VALUES ('1-URGENT', 3, 'hot'),
             ('2-HIGH', 2, 'hot'),
             ('3-MEDIUM', 1, 'warm'),
             ('4-NOT SPECIFIED', 1, 'cold'),
             ('5-LOW', 1, 'cold')) AS w(priority, weight, tier)
  ON w.priority = o.o_orderpriority
GROUP BY w.tier
ORDER BY tier
"""


sql_query(
    "sql_values_dim_join",
    _VALUES_DIM_SQL,
    tags=("sql-entry", "dialect", "values"),
    order_by="tier",
)



# ---------------------------------------------------------------------------
# Day-of-week pivot with year-over-year ratios (TPC-DS q59/q43 shape,
# /root/reference/testdata/tpcds/queries/q59.sql, q43.sql): weekly sales
# pivoted into one column per weekday, self-joined on the following year to
# emit per-weekday YoY ratios. Spark's DAYOFWEEK and DuckDB's dayofweek
# disagree on numbering (Sunday=1 vs Sunday=0), so the weekday is computed
# PORTABLY as MOD(epoch_days + 3, 7) (1970-01-01 was a Thursday; Monday=0)
# — the only construct in the battery where the two engines' SQL texts
# differ beyond casts (datediff argument order). Ratios divide exact cent
# sums in DOUBLE with identical expression text, so hashes match.
# ---------------------------------------------------------------------------

def _dow_pivot_sql(days_expr: str) -> str:
    pivots = ",\n         ".join(
        f"SUM(CASE WHEN dow = {d} THEN cents ELSE 0 END) AS c{d}" for d in range(7)
    )
    ratios = ",\n       ".join(
        f"CAST(b.c{d} AS DOUBLE) / a.c{d} AS {n}_ratio"
        for d, n in enumerate(["mon", "tue", "wed", "thu", "fri", "sat", "sun"])
    )
    return f"""
WITH daily AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
         MOD({days_expr} + 3, 7) AS dow,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
weekly AS (
  SELECT y,
         {pivots}
  FROM daily
  GROUP BY y
)
SELECT a.y AS base_year,
       {ratios}
FROM weekly a JOIN weekly b ON b.y = a.y + 1
WHERE a.c0 > 0 AND a.c1 > 0 AND a.c2 > 0 AND a.c3 > 0
  AND a.c4 > 0 AND a.c5 > 0 AND a.c6 > 0
ORDER BY base_year
"""


_DOW_PIVOT_SPARK_SQL = _dow_pivot_sql(
    "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
)
_DOW_PIVOT_ORACLE = _dow_pivot_sql(
    "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
)


sql_query(
    "sql_dow_yoy_pivot",
    _DOW_PIVOT_SPARK_SQL,
    oracle=_DOW_PIVOT_ORACLE,
    tags=("sql-entry", "tpcds", "pivot"),
    order_by="base_year",
)


# ---------------------------------------------------------------------------
# Dual independent rankings with an OR filter (TPC-DS q49 shape,
# /root/reference/testdata/tpcds/queries/q49.sql): q49 ranks items both by
# return RATIO and by returned CURRENCY amount, keeping items in either
# top-10. Both ranks carry the part key as an explicit tiebreaker, so RANK
# is deterministic; the ratio sort key is a single double division of two
# exact int64 sums (same operands -> bit-identical ordering on both
# engines). Two window passes over the same per-part aggregate = one
# aggregation shuffle + two single-partition sorts of an already-small
# grouped relation.
# ---------------------------------------------------------------------------

_DUAL_RANK_SQL = """
WITH per_part AS (
  SELECT l_partkey AS pk,
         SUM(CASE WHEN l_returnflag = 'R' THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END) AS ret_qty,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS tot_qty,
         SUM(CASE WHEN l_returnflag = 'R' THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS ret_cents
  FROM lineitem
  GROUP BY l_partkey
),
ranked AS (
  SELECT pk, ret_qty, tot_qty, ret_cents,
         RANK() OVER (ORDER BY CAST(ret_qty AS DOUBLE) / tot_qty DESC, pk) AS rank_ratio,
         RANK() OVER (ORDER BY ret_cents DESC, pk) AS rank_amount
  FROM per_part
)
SELECT pk AS partkey,
       CAST(ret_qty AS DOUBLE) / tot_qty AS return_ratio,
       CAST(ret_cents AS DOUBLE) / 100.0 AS returned_value,
       rank_ratio, rank_amount
FROM ranked
WHERE rank_ratio <= 10 OR rank_amount <= 10
ORDER BY rank_ratio, rank_amount, partkey
"""


sql_query(
    "sql_dual_rank_returns",
    _DUAL_RANK_SQL,
    tags=("sql-entry", "tpcds", "window"),
    order_by="rank_ratio, rank_amount, partkey",
)


# ---------------------------------------------------------------------------
# Ship-latency band matrix over three dimensions (TPC-DS q62/q99 shape,
# /root/reference/testdata/tpcds/queries/q62.sql:4-27, q99.sql): q62 pivots
# ship latency (ship_date − sold_date) into fixed day bands and counts per
# (warehouse-name-substring, ship mode, web site) within a 12-month window,
# TopK'd on the dimension triple. Mapped to the driver star schema: latency
# = days(o_orderdate → l_shipdate), dimensions = SUBSTRING(s_name, 1, 17)
# (bands suppliers by tens — the name-prefix truncation q62 applies to
# warehouses) × o_orderpriority × l_returnflag, window = orderdate year
# 1996. Five bands: ≤30 / 31-60 / 61-90 / 91-120 / >120 (the negative
# latencies in the synthetic data fall in the first band, like q62's
# unconstrained lower edge). One fact shuffle (the group-by); supplier is a
# broadcast dim; the band CASEs are a single projection pass. The day-diff
# expression is the template parameter (Spark datediff(end, start) vs
# DuckDB date_diff('day', start, end)); every other byte of the two texts
# is identical — the dow-pivot convention.
# ---------------------------------------------------------------------------


def _latency_band_sql(lat: str) -> str:
    return f"""
SELECT SUBSTRING(s.s_name, 1, 17) AS supplier_band,
       o.o_orderpriority AS priority,
       l.l_returnflag AS rflag,
       SUM(CASE WHEN {lat} <= 30 THEN 1 ELSE 0 END) AS d30,
       SUM(CASE WHEN {lat} > 30 AND {lat} <= 60 THEN 1 ELSE 0 END) AS d31_60,
       SUM(CASE WHEN {lat} > 60 AND {lat} <= 90 THEN 1 ELSE 0 END) AS d61_90,
       SUM(CASE WHEN {lat} > 90 AND {lat} <= 120 THEN 1 ELSE 0 END) AS d91_120,
       SUM(CASE WHEN {lat} > 120 THEN 1 ELSE 0 END) AS d120_plus,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
GROUP BY SUBSTRING(s.s_name, 1, 17), o.o_orderpriority, l.l_returnflag
ORDER BY supplier_band, priority, rflag
LIMIT 100
"""


_LATENCY_BAND_SPARK_SQL = _latency_band_sql(
    "datediff(CAST(l.l_shipdate AS DATE), CAST(o.o_orderdate AS DATE))"
)
_LATENCY_BAND_ORACLE = _latency_band_sql(
    "date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))"
)


sql_query(
    "sql_latency_band_matrix",
    _LATENCY_BAND_SPARK_SQL,
    oracle=_LATENCY_BAND_ORACLE,
    tags=("sql-entry", "tpcds", "case-matrix"),
    order_by="supplier_band, priority, rflag",
)


# ---------------------------------------------------------------------------
# Cohort-build-then-spend-band histogram (TPC-DS q54 shape,
# /root/reference/testdata/tpcds/queries/q54.sql:1-20): q54 builds a
# customer cohort from a UNION ALL of two sales channels restricted to an
# item attribute and one month, totals each cohort member's spend over the
# FOLLOWING three months, then histograms customers into fixed revenue
# segments. Mapped: channels = urgent-class vs medium/low-class order
# priorities (two scans unioned, like catalog_sales ∪ web_sales), item
# filter = p_name LIKE 'red %' AND p_size < 30 (the two-attribute item
# restriction), cohort month = 1996-03, spend window = 1996-04..06 on the
# orders fact, segment = exact integer div of cents into $50,000 bands
# (q54's round(revenue/50) made float-proof; per-customer spend is
# SF-invariant so the histogram populates at every scale). Plan shape: the
# union feeds one distinct-cohort shuffle; the spend join is
# cohort-key-partitioned; segments aggregate a per-customer relation. The
# integer-division operator is the only template parameter (Spark `div`
# vs DuckDB `//` — float `/` + int-cast would round vs truncate
# differently at band edges).
# ---------------------------------------------------------------------------


def _cohort_spend_sql(intdiv: str) -> str:
    return f"""
WITH my_customers AS (
  SELECT DISTINCT u.custkey
  FROM (
    SELECT o.o_custkey AS custkey, o.o_orderdate AS sold_date,
           l.l_partkey AS partkey
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    UNION ALL
    SELECT o.o_custkey AS custkey, o.o_orderdate AS sold_date,
           l.l_partkey AS partkey
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority IN ('3-MEDIUM', '5-LOW')
  ) u
  JOIN part p ON p.p_partkey = u.partkey
  WHERE p.p_name LIKE 'red %' AND p.p_size < 30
    AND u.sold_date >= DATE '1996-03-01' AND u.sold_date < DATE '1996-04-01'
),
my_revenue AS (
  SELECT c.custkey,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM my_customers c
  JOIN orders o ON o.o_custkey = c.custkey
  WHERE o.o_orderdate >= DATE '1996-04-01' AND o.o_orderdate < DATE '1996-07-01'
  GROUP BY c.custkey
)
SELECT cents {intdiv} 5000000 AS segment,
       COUNT(*) AS num_customers,
       (cents {intdiv} 5000000) * 50000 AS segment_base
FROM my_revenue
GROUP BY cents {intdiv} 5000000
ORDER BY segment
"""


_COHORT_SPEND_SPARK_SQL = _cohort_spend_sql("div")
_COHORT_SPEND_ORACLE = _cohort_spend_sql("//")


sql_query(
    "sql_cohort_spend_bands",
    _COHORT_SPEND_SPARK_SQL,
    oracle=_COHORT_SPEND_ORACLE,
    tags=("sql-entry", "tpcds", "cohort"),
    order_by="segment",
)


# ---------------------------------------------------------------------------
# Degenerate-schema stages: a query whose intermediate stages carry ZERO
# data columns — grouping only drives row multiplicity, every output value
# is an uncorrelated scalar subquery. The reference reproduces an Arrow-IPC
# crash on exactly this shape ("must either specify a row count or at least
# one column", /root/reference/tests/empty_columns_between_workers.rs:12-31:
# literal-only projections make zero-column record batches between
# workers); Spark's UnsafeRow shuffle must carry the same empty-schema rows
# through the group-by exchange without dropping row counts. The scalar
# subquery executes ONCE (broadcast as a literal into every task), never
# per row.
# ---------------------------------------------------------------------------

_EMPTY_COLS_SQL = """
SELECT (SELECT COUNT(*) FROM orders) AS total_orders,
       COUNT(*) AS n_in_group
FROM orders
GROUP BY o_orderstatus
"""


sql_query(
    "sql_empty_column_stage",
    _EMPTY_COLS_SQL,
    tags=("sql-entry", "edge-case", "scalar-subquery"),
)


# ---------------------------------------------------------------------------
# Non-equi correlated EXISTS — the build-side-emitting NestedLoopJoin semi
# shape (/root/reference/tests/multi_task_collect_join_repros.rs:110-115:
# the predicate `x > k - 1 AND x < k + 1` IS integer equality, but spelled
# as inequalities no hash join can use, forcing a nested-loop LeftSemi —
# the reference's distributed repro for build-side-emitting NLJ types).
# The inner side is the 25-row nation dim restricted by a pattern, so the
# BNLJ broadcasts a constant-size build at any corpus scale.
# ---------------------------------------------------------------------------

_NONEQUI_EXISTS_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM nation n
  WHERE c.c_nationkey > n.n_nationkey - 1
    AND c.c_nationkey < n.n_nationkey + 1
    AND n.n_name LIKE '%A%'
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


sql_query(
    "join_nonequi_exists",
    _NONEQUI_EXISTS_SQL,
    tags=("join", "semi", "non-equi", "edge-case"),
    order_by="c_mktsegment",
)


# ---------------------------------------------------------------------------
# Cross-channel year-over-year growth-ratio report (TPC-DS q4/q74 shape,
# /root/reference/testdata/tpcds/queries/q4.sql:1-30, q74.sql): per-customer
# per-year revenue totals per channel (store/catalog/web, mapped onto
# l_returnflag A/R/N like the q75 class above), self-joined across
# (year, year+1) × channels, keeping customers whose CATALOG growth ratio
# and WEB growth ratio both beat the STORE growth ratio. The distinguishing
# semantics vs sql_channel_decline_yoy: the predicate compares RATIOS OF
# RATIOS per entity, with explicit zero-denominator care — q4 wraps each
# ratio in CASE WHEN firstyear_total > 0, and its WHERE requires the three
# first-year totals positive; an inner 6-way self-join drops customers
# missing any (channel, year) cell.
#
# Physical design (Spark side): q4's literal 6-way self-join of the
# year_total CTE would scan/aggregate the fact 6 times (or lean on exchange
# reuse). The Spark plan instead pivots channels with conditional sums —
# (cust, year, channel) totals -> (cust, year) rows with 3 channel columns,
# ONE aggregate — then a single (cust, year)=(cust, year+1) equi-self-join.
# Two shuffles + one join at any scale; the oracle keeps q4's 6-alias join
# form, so the differential gate also proves the two formulations
# equivalent. Ratio comparisons cross-multiply in DECIMAL(38,0) (totals can
# reach ~1e10 scaled units; products ~1e20 exceed int64, stay exact in
# decimal); output ratios are one IEEE division of identical exact longs.
# ---------------------------------------------------------------------------

def _growth_oracle(
    store: str = "A", catalog: str = "R", web: str = "N", gap: int = 1
) -> str:
    """q4's literal 6-alias year_total self-join form, parameterized over
    the channel→returnflag assignment and the year gap (the randomized
    differential family sweeps these)."""
    return f"""
WITH year_total AS (
  SELECT o_custkey AS cust,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS y,
         l_returnflag AS ch,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
           AS total
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2, 3
)
SELECT s1.cust AS custkey, s1.y AS year,
       s1.total AS store_y1, s2.total AS store_y2,
       c1.total AS catalog_y1, c2.total AS catalog_y2,
       w1.total AS web_y1, w2.total AS web_y2,
       CAST(s2.total AS DOUBLE) / CAST(s1.total AS DOUBLE) AS store_ratio,
       CAST(w2.total AS DOUBLE) / CAST(w1.total AS DOUBLE) AS web_ratio
FROM year_total s1
JOIN year_total s2 ON s2.cust = s1.cust AND s2.y = s1.y + {gap} AND s2.ch = '{store}'
JOIN year_total c1 ON c1.cust = s1.cust AND c1.y = s1.y         AND c1.ch = '{catalog}'
JOIN year_total c2 ON c2.cust = s1.cust AND c2.y = s1.y + {gap} AND c2.ch = '{catalog}'
JOIN year_total w1 ON w1.cust = s1.cust AND w1.y = s1.y         AND w1.ch = '{web}'
JOIN year_total w2 ON w2.cust = s1.cust AND w2.y = s1.y + {gap} AND w2.ch = '{web}'
WHERE s1.ch = '{store}'
  AND s1.total > 0 AND c1.total > 0 AND w1.total > 0
  AND CAST(c2.total AS DECIMAL(38,0)) * CAST(s1.total AS DECIMAL(38,0))
      > CAST(s2.total AS DECIMAL(38,0)) * CAST(c1.total AS DECIMAL(38,0))
  AND CAST(w2.total AS DECIMAL(38,0)) * CAST(s1.total AS DECIMAL(38,0))
      > CAST(s2.total AS DECIMAL(38,0)) * CAST(w1.total AS DECIMAL(38,0))
ORDER BY custkey, year
"""


_GROWTH_ORACLE = _growth_oracle()


@query(
    "sql_channel_growth_ratio",
    oracle=_GROWTH_ORACLE,
    tags=("sql-entry", "tpcds", "growth-ratio", "self-join"),
    order_by="custkey, year",
)
def channel_growth_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _growth_frames(spark, sf_dir)


def _growth_frames(
    spark: SparkSession,
    sf_dir: str,
    store: str = "A",
    catalog: str = "R",
    web: str = "N",
    gap: int = 1,
) -> DataFrame:
    li = t(spark, sf_dir)["lineitem"]
    orders = t(spark, sf_dir)["orders"]
    r = F.round(F.col("l_extendedprice") * 100, 0).cast("long") * (
        100 - F.round(F.col("l_discount") * 100, 0).cast("long")
    )
    detail = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("cust"),
        F.year("l_shipdate").alias("y"),
        F.col("l_returnflag").alias("ch"),
        r.alias("r"),
    )
    # ONE aggregate pivots the channels: (cust, y) grain with a conditional
    # sum per channel. A channel with no rows yields NULL — the exact
    # analogue of the inner join dropping the missing (channel, year) cell.
    chsum = lambda flag: F.sum(F.when(F.col("ch") == flag, F.col("r"))).cast(  # noqa: E731
        "long"
    )
    per_year = detail.groupBy("cust", "y").agg(
        chsum(store).alias("store"),
        chsum(catalog).alias("catalog"),
        chsum(web).alias("web"),
    )
    y1, y2 = per_year.alias("y1"), per_year.alias("y2")
    j = y1.join(
        y2,
        (F.col("y1.cust") == F.col("y2.cust"))
        & (F.col("y2.y") == F.col("y1.y") + gap),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    kept = j.where(
        F.col("y1.store").isNotNull()
        & F.col("y1.catalog").isNotNull()
        & F.col("y1.web").isNotNull()
        & F.col("y2.store").isNotNull()
        & F.col("y2.catalog").isNotNull()
        & F.col("y2.web").isNotNull()
        & (F.col("y1.store") > 0)
        & (F.col("y1.catalog") > 0)
        & (F.col("y1.web") > 0)
        & (dec("y2.catalog") * dec("y1.store") > dec("y2.store") * dec("y1.catalog"))
        & (dec("y2.web") * dec("y1.store") > dec("y2.store") * dec("y1.web"))
    )
    return kept.select(
        F.col("y1.cust").alias("custkey"),
        F.col("y1.y").alias("year"),
        F.col("y1.store").alias("store_y1"),
        F.col("y2.store").alias("store_y2"),
        F.col("y1.catalog").alias("catalog_y1"),
        F.col("y2.catalog").alias("catalog_y2"),
        F.col("y1.web").alias("web_y1"),
        F.col("y2.web").alias("web_y2"),
        (F.col("y2.store").cast("double") / F.col("y1.store").cast("double")).alias(
            "store_ratio"
        ),
        (F.col("y2.web").cast("double") / F.col("y1.web").cast("double")).alias(
            "web_ratio"
        ),
    ).orderBy("custkey", "year")


# ---------------------------------------------------------------------------
# Scalar-subquery CASE selector (TPC-DS q9 shape,
# /root/reference/testdata/tpcds/queries/q9.sql:1-12): a single-row SELECT
# whose CASE arms are themselves scalar subqueries over the fact table,
# chosen by a count-threshold subquery per quantity band — the pattern that
# exercises Catalyst's scalar-subquery machinery end-to-end:
# MergeScalarSubqueries folds each band's three subqueries (COUNT selector
# + both AVG arms) into ONE shared aggregate (a mergedValue struct), and
# ReuseSubquery dedups the physical subquery, so each band costs exactly
# one fact scan instead of three — asserted in tests/test_explain.py.
# The averages are written as CAST(SUM(exact cents) AS DOUBLE)/COUNT(*) in
# BOTH engines (not avg()) so the output is one IEEE division of identical
# exact integers.
# ---------------------------------------------------------------------------

_Q9_BANDS = (
    (1, 10, 10000),
    (11, 20, 13000),
    (21, 30, 11000),
    (31, 40, 200000),
    (41, 50, 500),
)


def _q9_sql(bands=_Q9_BANDS) -> str:
    arms = []
    for i, (lo, hi, thr) in enumerate(bands, start=1):
        band = f"FROM lineitem WHERE l_quantity BETWEEN {lo} AND {hi}"
        arms.append(
            f"""  CASE WHEN (SELECT count(*) {band}) > {thr}
       THEN (SELECT CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE)
                    / COUNT(*) {band})
       ELSE (SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                    / COUNT(*) {band})
  END AS bucket{i}"""
        )
    return (
        "SELECT\n"
        + ",\n".join(arms)
        + "\nFROM region WHERE r_regionkey = 0"
    )


_Q9_SQL = _q9_sql()


sql_query(
    "sql_case_scalar_subqueries",
    _Q9_SQL,
    tags=("sql-entry", "tpcds", "scalar-subquery"),
)


# ---------------------------------------------------------------------------
# Cumulative cross-channel dominance (TPC-DS q51 shape,
# /root/reference/testdata/tpcds/queries/q51.sql:1-55): per-item monthly
# sales per channel, each channel's RUNNING cumulative total, the two
# cumulative streams stitched together over the union of months, and the
# rows where the web cumulative has overtaken the store cumulative. q51's
# literal plan is two grouped CTEs (each with its own cumulative-sum
# window), a FULL OUTER JOIN on (item, date), then TWO running-MAX windows
# over the joined stream to forward-fill each channel's last cumulative
# value across the other channel's months.
#
# Physical design (Spark side): the full-outer-join + forward-fill-max
# dance collapses into ONE aggregate + ONE window node. Group once at
# (item, month) grain with a conditional sum per channel (a month appears
# iff either channel sold — exactly the full-outer union), then compute
# both channels' cumulative sums in the SAME window spec (Spark evaluates
# them in a single WindowExec pass, one shuffle on item_sk). A conditional
# running SUM ignores the NULL months, so at a store-only month it holds
# the web channel's last cumulative — precisely what q51's running MAX of
# the joined cume_sales column computes (sales cents are >= 0, so the
# cumulative stream is non-decreasing and running-max == latest value).
# The masked web_sales/store_sales outputs (NULL when that channel had no
# sales that month) reproduce the join's NULL pattern. Two shuffles total
# vs the reference plan's four; the oracle keeps q51's literal
# CTE + FULL OUTER JOIN + running-MAX form, so the differential gate
# proves the collapse is semantics-preserving.
# ---------------------------------------------------------------------------

def _q51_spark_sql(web: str = "N", store: str = "A", limit: int = 100) -> str:
    return f"""
WITH grain AS (
  SELECT l_partkey AS item_sk,
         date_format(date_trunc('month', l_shipdate), 'yyyy-MM-dd') AS d_date,
         SUM(CASE WHEN l_returnflag = '{web}'
                  THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) END)
           AS web_m,
         SUM(CASE WHEN l_returnflag = '{store}'
                  THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) END)
           AS store_m
  FROM lineitem
  WHERE l_returnflag IN ('{store}', '{web}')
  GROUP BY 1, 2
),
cume AS (
  SELECT item_sk, d_date, web_m, store_m,
         SUM(web_m) OVER (PARTITION BY item_sk ORDER BY d_date
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS web_cumulative,
         SUM(store_m) OVER (PARTITION BY item_sk ORDER BY d_date
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS store_cumulative
  FROM grain
)
SELECT item_sk, d_date,
       CASE WHEN web_m   IS NOT NULL THEN web_cumulative   END AS web_sales,
       CASE WHEN store_m IS NOT NULL THEN store_cumulative END AS store_sales,
       web_cumulative, store_cumulative
FROM cume
WHERE web_cumulative > store_cumulative
ORDER BY item_sk, d_date
LIMIT {limit}
"""


def _q51_oracle(web: str = "N", store: str = "A", limit: int = 100) -> str:
    return f"""
WITH detail AS (
  SELECT l_partkey AS item_sk,
         strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS d_date,
         l_returnflag AS ch,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS cents
  FROM lineitem
  WHERE l_returnflag IN ('{store}', '{web}')
),
web_v1 AS (
  SELECT item_sk, d_date,
         CAST(SUM(SUM(cents)) OVER (PARTITION BY item_sk ORDER BY d_date
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cume_sales
  FROM detail WHERE ch = '{web}' GROUP BY item_sk, d_date
),
store_v1 AS (
  SELECT item_sk, d_date,
         CAST(SUM(SUM(cents)) OVER (PARTITION BY item_sk ORDER BY d_date
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cume_sales
  FROM detail WHERE ch = '{store}' GROUP BY item_sk, d_date
),
x AS (
  SELECT COALESCE(web.item_sk, store.item_sk) AS item_sk,
         COALESCE(web.d_date, store.d_date) AS d_date,
         web.cume_sales AS web_sales,
         store.cume_sales AS store_sales
  FROM web_v1 web
  FULL OUTER JOIN store_v1 store
    ON web.item_sk = store.item_sk AND web.d_date = store.d_date
),
y AS (
  SELECT item_sk, d_date, web_sales, store_sales,
         MAX(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS web_cumulative,
         MAX(store_sales) OVER (PARTITION BY item_sk ORDER BY d_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS store_cumulative
  FROM x
)
SELECT item_sk, d_date, web_sales, store_sales, web_cumulative, store_cumulative
FROM y
WHERE web_cumulative > store_cumulative
ORDER BY item_sk, d_date
LIMIT {limit}
"""


sql_query(
    "sql_cumulative_dominance",
    _q51_spark_sql(),
    oracle=_q51_oracle(),
    tags=("sql-entry", "tpcds", "window", "full-outer"),
    order_by="item_sk, d_date",
)


# ---------------------------------------------------------------------------
# Best/worst performer rank join (TPC-DS q44 shape,
# /root/reference/testdata/tpcds/queries/q44.sql:1-45): rank items by a
# per-item average metric both ASCENDING and DESCENDING over the same
# filtered aggregate, keep the top 10 of each ranking, join them on rank
# position, and resolve both item names through two independent dim-join
# aliases — a report pairing the best and worst performer at each rank.
# q44's HAVING gates items against 0.9x a scalar-subquery baseline average
# (a degenerate single-group aggregate over a sibling slice of the fact).
#
# Exactness: the rank column is the floored per-item average in scaled
# cents (SUM div COUNT — both engines floor non-negative BIGINTs
# identically: Spark `div` truncates toward zero, DuckDB `//` floors, equal
# on the non-negative cents); the 0.9x threshold compares 10*avg > 9*base
# in integers. Rank order carries an item_sk tiebreaker (ASC for the
# ascending ranking, DESC for the descending one — a symmetric reversal) so
# ranks are a total order and the rnk-equijoin pairs deterministically.
# Scale: ranking input is ITEM grain (bounded by |part|, not |lineitem|);
# the `rnk < 11` filter sits directly above each rank window, Spark's
# WindowGroupLimit prunes each side to ~10 rows per map partition before
# the final sort, and both part-name joins broadcast.
# ---------------------------------------------------------------------------

def _q44_v1_sql(div_op: str, store_slice: int = 4) -> str:
    """The shared filtered-item-average CTE (q44's V1), incl. the
    scalar-subquery HAVING gate, in either dialect's integer-division
    spelling."""
    return f"""
WITH detail AS (
  SELECT l_partkey AS item_sk, l_linenumber,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS cents
  FROM lineitem
  WHERE l_suppkey % 7 = {store_slice}
)
SELECT item_sk, SUM(cents) {div_op} COUNT(*) AS rank_col
FROM detail
GROUP BY item_sk
HAVING (SUM(cents) {div_op} COUNT(*)) * 10 >
       (SELECT (SUM(cents) {div_op} COUNT(*)) * 9
        FROM detail WHERE l_linenumber = 1)"""


def _q44_oracle(store_slice: int = 4) -> str:
    return f"""
WITH v1 AS ({_q44_v1_sql("//", store_slice)}
),
asceding AS (
  SELECT * FROM (
    SELECT item_sk, RANK() OVER (ORDER BY rank_col ASC, item_sk ASC) AS rnk
    FROM v1
  ) v11 WHERE rnk < 11
),
descending AS (
  SELECT * FROM (
    SELECT item_sk, RANK() OVER (ORDER BY rank_col DESC, item_sk DESC) AS rnk
    FROM v1
  ) v21 WHERE rnk < 11
)
SELECT asceding.rnk AS rnk,
       i1.p_name AS best_performing,
       i2.p_name AS worst_performing
FROM asceding
JOIN descending ON asceding.rnk = descending.rnk
JOIN part i1 ON i1.p_partkey = asceding.item_sk
JOIN part i2 ON i2.p_partkey = descending.item_sk
ORDER BY rnk, best_performing, worst_performing
LIMIT 100
"""


@query(
    "sql_best_worst_rank_join",
    oracle=_q44_oracle(),
    tags=("sql-entry", "tpcds", "window", "scalar-subquery"),
    order_by="rnk, best_performing, worst_performing",
)
def best_worst_rank_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q44_frames(spark, sf_dir)


def _q44_frames(spark: SparkSession, sf_dir: str, store_slice: int = 4) -> DataFrame:
    from pyspark.sql import Window

    t(spark, sf_dir)
    # Materialize-once discipline (the sql_wide_chain_yoy pattern): a plain
    # CTE referenced by both rankings is inlined twice by Catalyst — two
    # fact scans + two item-grain aggregates. V1 (item grain, bounded by
    # |part|) is materialized once; both rank windows and the rnk-equijoin
    # read it. The rnk < 11 filters sit directly above each rank window, so
    # WindowGroupLimit prunes to ~10 rows per map partition before the
    # single-partition final rank.
    # Single-slot ownership (see slot_local_checkpoint): the returned frame
    # reads v1 lazily, so this function can't free the block itself; the
    # next invocation — bench loop or the 6-case randomized sweep — releases
    # it, bounding storage to one v1 frame.
    v1 = slot_local_checkpoint("sql_q44_v1", spark.sql(_q44_v1_sql("DIV", store_slice)))
    wa = Window.orderBy(F.asc("rank_col"), F.asc("item_sk"))
    wd = Window.orderBy(F.desc("rank_col"), F.desc("item_sk"))
    asc_r = v1.withColumn("rnk", F.rank().over(wa)).where(F.col("rnk") < 11)
    desc_r = v1.withColumn("rnk", F.rank().over(wd)).where(F.col("rnk") < 11)
    part = t(spark, sf_dir)["part"]
    # No F.broadcast on `part`: it grows linearly with SF (200k rows x SF —
    # billions at the 100 TB design point). The rank-pruned best/worst frames
    # are <=10 rows each; AQE picks THEM as the broadcast side at runtime,
    # which is the correct orientation at any scale (r7 VERDICT item 1).
    return (
        asc_r.alias("a")
        .join(desc_r.alias("d"), "rnk")
        .join(
            part.alias("i1"),
            F.col("i1.p_partkey") == F.col("a.item_sk"),
        )
        .join(
            part.alias("i2"),
            F.col("i2.p_partkey") == F.col("d.item_sk"),
        )
        .select(
            "rnk",
            F.col("i1.p_name").alias("best_performing"),
            F.col("i2.p_name").alias("worst_performing"),
        )
        .orderBy("rnk", "best_performing", "worst_performing")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Moving-average deviation screen (TPC-DS q47/q57 shape,
# /root/reference/testdata/tpcds/queries/q47.sql:1-75): per-(brand, channel)
# monthly sales with a RUNNING yearly average (q47's DataFusion-modified
# `avg(...) OVER (PARTITION BY ..., d_year ORDER BY d_moy)`), the previous
# and next month's sales alongside each row, and a filter keeping months
# that deviate from the running average by more than 10%. q47's literal
# plan materializes the neighbor columns by TRIPLE-self-joining the CTE on
# a rank-adjacency predicate (v1.rn = v1_lag.rn + 1 AND
# v1.rn = v1_lead.rn - 1, inner joins dropping boundary months).
#
# Physical design (Spark side): LAG/LEAD in the SAME window spec replace
# the triple self-join — one shuffle on (brand, channel) and a single
# WindowExec evaluating running sum/count + lag + lead together, vs three
# scans + two joins; the IS NOT NULL filters reproduce the inner joins'
# boundary-dropping exactly. The oracle keeps q47's literal
# rank + triple-self-join form, so the differential gate proves the
# window rewrite equivalent.
#
# Exactness: monthly sales stay in BIGINT cents; the running average is
# carried as the exact pair (run_sum, run_cnt); the 10%-deviation filter
# cross-multiplies (10*|sum*cnt - run_sum| > run_sum — integers only; at a
# 1000x scale factor sum*cnt tops out ~1e16, well inside int64); the two
# output ratios are each ONE IEEE division of identical exact integers.
# ---------------------------------------------------------------------------

def _q47_grain(dialect: str, year: int = 1997) -> str:
    yr = "year(l_shipdate)" if dialect == "spark" else "EXTRACT(YEAR FROM l_shipdate)"
    mo = "month(l_shipdate)" if dialect == "spark" else "EXTRACT(MONTH FROM l_shipdate)"
    return f"""
  SELECT p_brand, l_returnflag AS channel,
         CAST({yr} AS INTEGER) AS d_year,
         CAST({mo} AS INTEGER) AS d_moy,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS sum_sales
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE ({yr} = {year})
     OR ({yr} = {year - 1} AND {mo} = 12)
     OR ({yr} = {year + 1} AND {mo} = 1)
  GROUP BY 1, 2, 3, 4"""


def _q47_select(boundary_filter: str = "", year: int = 1997, pct: int = 10) -> str:
    """Shared final SELECT; the Spark side passes the IS NOT NULL pair that
    reproduces the oracle's inner rank-adjacency joins dropping boundary
    months. ``pct`` is an INVERSE sensitivity: the filter keeps months where
    |sum - running_avg| > running_avg / pct — pct=10 is a 10%% screen,
    pct=25 a 4%% screen, pct=5 a 20%% screen."""
    return f"""
SELECT p_brand, channel, d_year, d_moy, sum_sales, psum, nsum,
       CAST(run_sum AS DOUBLE) / CAST(run_cnt AS DOUBLE) AS avg_monthly_sales,
       CAST(sum_sales * run_cnt - run_sum AS DOUBLE) / CAST(run_cnt AS DOUBLE)
         AS deviation
FROM v2
WHERE d_year = {year}
  {boundary_filter}AND run_sum > 0
  AND {pct} * ABS(sum_sales * run_cnt - run_sum) > run_sum
ORDER BY deviation, p_brand, channel, d_moy
LIMIT 100
"""


def _q47_spark_sql(year: int = 1997, pct: int = 10) -> str:
    return f"""
WITH grain AS ({_q47_grain("spark", year)}
),
v2 AS (
  SELECT p_brand, channel, d_year, d_moy, sum_sales,
         SUM(sum_sales) OVER (PARTITION BY p_brand, channel, d_year
              ORDER BY d_moy
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sum,
         COUNT(*) OVER (PARTITION BY p_brand, channel, d_year
              ORDER BY d_moy
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cnt,
         LAG(sum_sales) OVER (PARTITION BY p_brand, channel
              ORDER BY d_year, d_moy) AS psum,
         LEAD(sum_sales) OVER (PARTITION BY p_brand, channel
              ORDER BY d_year, d_moy) AS nsum
  FROM grain
)
{_q47_select("AND psum IS NOT NULL AND nsum IS NOT NULL ", year, pct)}
"""


def _q47_oracle(year: int = 1997, pct: int = 10) -> str:
    return f"""
WITH grain AS ({_q47_grain("duckdb", year)}
),
v1 AS (
  SELECT p_brand, channel, d_year, d_moy, sum_sales,
         CAST(SUM(sum_sales) OVER (PARTITION BY p_brand, channel, d_year
              ORDER BY d_moy
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run_sum,
         CAST(COUNT(*) OVER (PARTITION BY p_brand, channel, d_year
              ORDER BY d_moy
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run_cnt,
         RANK() OVER (PARTITION BY p_brand, channel
              ORDER BY d_year, d_moy) AS rn
  FROM grain
),
v2 AS (
  SELECT v1.p_brand, v1.channel, v1.d_year, v1.d_moy, v1.sum_sales,
         v1.run_sum, v1.run_cnt,
         v1_lag.sum_sales AS psum, v1_lead.sum_sales AS nsum
  FROM v1, v1 AS v1_lag, v1 AS v1_lead
  WHERE v1.p_brand = v1_lag.p_brand  AND v1.p_brand = v1_lead.p_brand
    AND v1.channel = v1_lag.channel  AND v1.channel = v1_lead.channel
    AND v1.rn = v1_lag.rn + 1        AND v1.rn = v1_lead.rn - 1
)
{_q47_select("", year, pct)}
"""


sql_query(
    "sql_moving_avg_deviation",
    _q47_spark_sql(),
    oracle=_q47_oracle(),
    tags=("sql-entry", "tpcds", "window", "lag-lead"),
    order_by="deviation, p_brand, channel, d_moy",
)
