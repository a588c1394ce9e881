"""TPC-DS-class analytic operators: window functions, ROLLUP/CUBE/GROUPING
SETS, INTERSECT/EXCEPT, plus the join shapes the reference's planner treats
specially (cross join, theta/nested-loop join, full outer join — see
/root/reference/src/distributed_planner/inject_network_boundaries.rs:280-312
single-task caps and SURVEY.md §2.2 NestedLoopJoinExec/CrossJoinExec rows).

Window coverage mirrors the reference's cost-model tests:
RANK() OVER(PARTITION BY .. ORDER BY ..) and SUM(..) OVER(PARTITION BY ..)
(/root/reference/src/distributed_planner/statistics/complexity_cpu.rs:675-709,
WindowAggExec vs BoundedWindowAggExec at complexity_memory.rs:73-84).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ._util import dbl, dec, t
from .registry import query, sql_query

# ---------------------------------------------------------------------------
# rank() over partition — top-3 customers by order revenue within each nation.
# ---------------------------------------------------------------------------

_WIN_RANK_ORACLE = """
SELECT n_name, c_name, CAST(rev AS DOUBLE) AS revenue, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT n.n_name, c.c_name, r.rev,
         RANK() OVER (PARTITION BY n.n_name ORDER BY r.rev DESC, c.c_custkey) AS rnk
  FROM (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
    FROM orders GROUP BY o_custkey
  ) r
  JOIN customer c ON c.c_custkey = r.o_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
) x
WHERE rnk <= 3
"""


@query("win_rank_topn_per_nation", oracle=_WIN_RANK_ORACLE, tags=("window", "tpcds"))
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    rev = tb["orders"].groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice", 12, 2)).alias("rev")
    )
    joined = rev.join(
        tb["customer"], F.col("c_custkey") == F.col("o_custkey")
    ).join(F.broadcast(tb["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    w = Window.partitionBy("n_name").orderBy(F.desc("rev"), F.asc("c_custkey"))
    return (
        joined.withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_name", dbl(F.col("rev")).alias("revenue"), "rnk")
    )


# ---------------------------------------------------------------------------
# Bounded frame (ROWS BETWEEN) + lag + row_number — BoundedWindowAggExec
# analogue (fixed memory per frame, reference complexity_memory.rs:73-84).
# ---------------------------------------------------------------------------

_WIN_MOVING_ORACLE = """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
  CAST(LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price,
  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
FROM orders
"""


@query("win_moving_sum_lag", oracle=_WIN_MOVING_ORACLE, tags=("window", "tpcds"))
def win_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-2, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        dbl(F.sum(dec("o_totalprice", 12, 2)).over(wf)).alias("moving_sum"),
        dbl(F.lag("o_totalprice").over(w)).alias("prev_price"),
        F.row_number().over(w).cast("int").alias("rn"),
    )


# ---------------------------------------------------------------------------
# Unbounded partition window (WindowAggExec analogue): each customer's share
# of their nation's revenue.
# ---------------------------------------------------------------------------

_WIN_SHARE_ORACLE = """
SELECT n_name, c_custkey, CAST(rev AS DOUBLE) AS revenue,
       CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY n_name) AS DOUBLE) AS nation_share
FROM (
  SELECT n.n_name, c.c_custkey, SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, c.c_custkey
) x
"""


@query("win_nation_revenue_share", oracle=_WIN_SHARE_ORACLE, tags=("window", "tpcds"))
def win_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    rev = (
        tb["orders"]
        .join(tb["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(tb["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(dec("o_totalprice", 12, 2)).alias("rev"))
    )
    w = Window.partitionBy("n_name")
    return rev.select(
        "n_name",
        "c_custkey",
        dbl(F.col("rev")).alias("revenue"),
        (dbl(F.col("rev")) / dbl(F.sum("rev").over(w))).alias("nation_share"),
    )


# ---------------------------------------------------------------------------
# ROLLUP with GROUPING() — TPC-DS q5/q18/q22 class (SURVEY.md §2.3).
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
       CAST(GROUPING(r_name) + GROUPING(n_name) AS INTEGER) AS lvl,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


@query("gsets_rollup_region_nation", oracle=_ROLLUP_ORACLE, tags=("rollup", "tpcds"))
def rollup_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    joined = tb["customer"].join(
        F.broadcast(tb["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(tb["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    return joined.rollup("r_name", "n_name").agg(
        (F.grouping("r_name") + F.grouping("n_name")).cast("int").alias("lvl"),
        F.count(F.lit(1)).alias("n_customers"),
        dbl(F.sum(dec("c_acctbal", 12, 2))).alias("total_acctbal"),
    ).select(
        F.coalesce(F.col("r_name"), F.lit("ALL")).alias("r_name"),
        F.coalesce(F.col("n_name"), F.lit("ALL")).alias("n_name"),
        "lvl",
        "n_customers",
        "total_acctbal",
    )


# ---------------------------------------------------------------------------
# Four-level ROLLUP of AVERAGES (TPC-DS q18/q22 template,
# /root/reference/testdata/tpcds/queries/q18.sql: avg measures over
# ROLLUP(i_item_id, ca_country, ca_state, ca_county); q22.sql: avg
# inventory over ROLLUP(i_product_name, i_brand, i_class, i_category)).
# Re-derived on the driver hierarchy region -> nation -> segment ->
# priority. The q18/q22 signature beyond the SUM rollup above is AVG at
# EVERY rollup level: each super-aggregate level re-divides the exact
# decimal sum by its own row count, so partial aggregation must stay exact
# through the Expand — recombined here as decimal-sum / count with the
# division done once per output row in double (identical in both engines).
# ---------------------------------------------------------------------------

_ROLLUP_AVG_ORACLE = """
SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
       COALESCE(c_mktsegment, 'ALL') AS segment,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(r_name) + GROUPING(n_name) + GROUPING(c_mktsegment)
            + GROUPING(o_orderpriority) AS INTEGER) AS lvl,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
         AS avg_order_value,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS max_order_value
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE EXTRACT(YEAR FROM o.o_orderdate) BETWEEN 1996 AND 1998
GROUP BY ROLLUP(r_name, n_name, c_mktsegment, o_orderpriority)
"""


@query(
    "gsets_rollup_averages",
    oracle=_ROLLUP_AVG_ORACLE,
    tags=("rollup", "tpcds", "average"),
)
def rollup_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    joined = (
        tb["orders"]
        .join(tb["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(tb["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(tb["region"]), F.col("r_regionkey") == F.col("n_regionkey"))
        .where(F.year("o_orderdate").between(1996, 1998))
    )
    return (
        joined.rollup("r_name", "n_name", "c_mktsegment", "o_orderpriority")
        .agg(
            (
                F.grouping("r_name")
                + F.grouping("n_name")
                + F.grouping("c_mktsegment")
                + F.grouping("o_orderpriority")
            )
            .cast("int")
            .alias("lvl"),
            F.count(F.lit(1)).alias("n_orders"),
            (dbl(F.sum(dec("o_totalprice", 12, 2))) / F.count(F.lit(1))).alias(
                "avg_order_value"
            ),
            dbl(F.max(dec("o_totalprice", 12, 2))).alias("max_order_value"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "lvl",
            "n_orders",
            "avg_order_value",
            "max_order_value",
        )
    )


# ---------------------------------------------------------------------------
# CUBE over documents (lang × source).
# ---------------------------------------------------------------------------

_CUBE_ORACLE = """
SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY CUBE(lang, source)
"""


@query("gsets_cube_docs", oracle=_CUBE_ORACLE, tags=("cube", "tpcds"))
def cube_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir)["documents"]
    return docs.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ).select(
        F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
        F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
        "n_docs",
        "total_chars",
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (via Spark SQL — still Catalyst-planned).
# ---------------------------------------------------------------------------

_GSETS_ORACLE = """
SELECT COALESCE(p_brand, 'ALL') AS p_brand, COALESCE(p_type, 'ALL') AS p_type,
       COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM part
GROUP BY GROUPING SETS ((p_brand), (p_type), ())
"""


sql_query(
    "gsets_grouping_sets_part",
    """
        SELECT COALESCE(p_brand, 'ALL') AS p_brand, COALESCE(p_type, 'ALL') AS p_type,
               COUNT(*) AS n_parts,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        FROM part
        GROUP BY GROUPING SETS ((p_brand), (p_type), ())
        """,
    oracle=_GSETS_ORACLE,
    tags=("grouping-sets", "tpcds"),
)


# ---------------------------------------------------------------------------
# INTERSECT / EXCEPT — TPC-DS q8/q14/q38/q87 class.
# ---------------------------------------------------------------------------

_INTERSECT_ORACLE = """
SELECT c_custkey FROM (
  SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  INTERSECT
  SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
) x
"""


@query("setop_intersect_customers", oracle=_INTERSECT_ORACLE, tags=("setop", "tpcds"))
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir)["orders"]
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return urgent.intersect(finished)


_EXCEPT_ORACLE = """
SELECT c_custkey FROM (
  SELECT c_custkey FROM customer
  EXCEPT
  SELECT o_custkey AS c_custkey FROM orders
) x
"""


@query("setop_except_customers", oracle=_EXCEPT_ORACLE, tags=("setop", "tpcds"))
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    all_cust = tb["customer"].select("c_custkey")
    with_orders = tb["orders"].select(F.col("o_custkey").alias("c_custkey"))
    # subtract == SQL EXCEPT (distinct) in one pass; exceptAll+distinct would
    # keep a left row that also appears on the right whenever the left side
    # has more duplicates of it — wrong for EXCEPT semantics in general.
    return all_cust.subtract(with_orders)


# ---------------------------------------------------------------------------
# INTERSECT ALL / EXCEPT ALL — the MULTISET set operations (SQL:2003;
# DataFusion plans them distinctly from the distinct-set forms). Semantics:
# a row appearing l times on the left and r times on the right survives
# INTERSECT ALL min(l, r) times and EXCEPT ALL max(l - r, 0) times — both
# engines implement this with a per-row count diff under the hood, so the
# differential gate proves Spark's intersectAll/exceptAll against DuckDB's
# literal SQL. Output aggregates the multiset (count per key) so the result
# is deterministic without exposing row identity.
# ---------------------------------------------------------------------------

_SETOP_ALL_ORACLE = """
SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_copies, kind
FROM (
  SELECT c_custkey, 'intersect_all' AS kind FROM (
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    INTERSECT ALL
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
  ) ia
  UNION ALL
  SELECT c_custkey, 'except_all' AS kind FROM (
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    EXCEPT ALL
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
  ) ea
) u
GROUP BY c_custkey, kind
"""


@query("setop_all_multiset", oracle=_SETOP_ALL_ORACLE, tags=("setop", "multiset"))
def setop_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir)["orders"]
    left = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.col("o_custkey").alias("c_custkey"))
    right = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    ia = left.intersectAll(right).withColumn("kind", F.lit("intersect_all"))
    ea = left.exceptAll(right).withColumn("kind", F.lit("except_all"))
    return (
        ia.unionByName(ea)
        .groupBy("c_custkey", "kind")
        .agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
        .select("c_custkey", "n_copies", "kind")
    )


# ---------------------------------------------------------------------------
# UNION ALL of heterogeneous relations + aggregation on top — the reference
# runs union branches in isolated task sets (ChildrenIsolatorUnionExec,
# src/execution_plans/children_isolator_union.rs:23-100); Spark schedules the
# branches as independent stage lineages natively.
# ---------------------------------------------------------------------------

_UNION_ORACLE = """
SELECT kind, COUNT(*) AS n, CAST(SUM(CAST(acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM (
  SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
  UNION ALL
  SELECT 'supplier' AS kind, s_acctbal AS acctbal FROM supplier
) u
GROUP BY kind
"""


@query("setop_union_all_balances", oracle=_UNION_ORACLE, tags=("union", "tpch"))
def union_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    cust = tb["customer"].select(
        F.lit("customer").alias("kind"), F.col("c_acctbal").alias("acctbal")
    )
    supp = tb["supplier"].select(
        F.lit("supplier").alias("kind"), F.col("s_acctbal").alias("acctbal")
    )
    return (
        cust.unionAll(supp)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dbl(F.sum(dec("acctbal", 12, 2))).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Theta (inequality) join — NestedLoopJoinExec analogue
# (/root/reference/src/distributed_planner/normalize_collect_joins.rs:55-99);
# Spark plans BroadcastNestedLoopJoin for the non-equi condition.
# ---------------------------------------------------------------------------

_THETA_ORACLE = """
SELECT r_name, COUNT(*) AS n_pairs
FROM nation n1
JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
JOIN region r ON r.r_regionkey = n1.n_regionkey
GROUP BY r_name
"""


@query("join_theta_nation_pairs", oracle=_THETA_ORACLE, tags=("theta-join",))
def theta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    n1 = tb["nation"].select(
        F.col("n_nationkey").alias("k1"), F.col("n_regionkey").alias("rk1")
    )
    n2 = tb["nation"].select(
        F.col("n_nationkey").alias("k2"), F.col("n_regionkey").alias("rk2")
    )
    pairs = n1.join(n2, (F.col("rk1") == F.col("rk2")) & (F.col("k1") < F.col("k2")))
    return (
        pairs.join(F.broadcast(tb["region"]), F.col("r_regionkey") == F.col("rk1"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Cross join — CrossJoinExec analogue (reference inject_network_boundaries.rs:308-312).
# ---------------------------------------------------------------------------

_CROSS_ORACLE = """
SELECT r_name, o_orderpriority
FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
"""


@query("join_cross_region_priority", oracle=_CROSS_ORACLE, tags=("cross-join",))
def cross_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    prios = tb["orders"].select("o_orderpriority").distinct()
    return tb["region"].select("r_name").crossJoin(prios)


# ---------------------------------------------------------------------------
# FULL OUTER join — build-side-emitting join type the reference must rewrite
# to Partitioned mode (normalize_collect_joins.rs:103-156); Spark plans SMJ.
# ---------------------------------------------------------------------------

_FULL_ORACLE = """
SELECT COALESCE(c.c_custkey, oo.o_custkey) AS custkey,
       CAST(c.c_custkey IS NOT NULL AS INTEGER) AS has_customer,
       CAST(COALESCE(oo.n_orders, 0) AS BIGINT) AS n_orders
FROM customer c
FULL JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders WHERE o_totalprice > 100.0 GROUP BY o_custkey
) oo ON c.c_custkey = oo.o_custkey
"""


@query("join_full_outer_customer_orders", oracle=_FULL_ORACLE, tags=("outer-join",))
def full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    tb = t(spark, sf_dir)
    oo = (
        tb["orders"]
        .filter(F.col("o_totalprice") > 100.0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    cust = tb["customer"]
    joined = cust.join(oo, cust.c_custkey == oo.o_custkey, "full")
    return joined.select(
        F.coalesce(cust.c_custkey, oo.o_custkey).alias("custkey"),
        cust.c_custkey.isNotNull().cast("int").alias("has_customer"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Range (interval) join, large-large: every purchase matched to ALL clicks in
# the following 60 s — no equi key at all. A naive formulation is a cartesian
# with a range filter (quadratic at scale); the scalable Spark plan is
# BUCKETED REPLICATION: quantize time into window-width buckets, replicate
# each probe row to the (at most 2) buckets its window overlaps, equi-join on
# the bucket id, then apply the exact range predicate. Shuffle volume is
# 2x probes + 1x builds — linear, skew bounded by events-per-minute.
# Oracle: DuckDB's native inequality join (IEJoin) on the same predicate.
# Comparison in epoch MICROS on both engines (see _SESSION_ORACLE note).
# ---------------------------------------------------------------------------

_RANGE_WIN_US = 60 * 1_000_000  # 60 s

_RANGE_ORACLE = f"""
WITH p AS (
  SELECT event_id, epoch_us(ts) AS us, date_trunc('hour', ts) AS hr
  FROM events WHERE event_type = 'purchase'
),
c AS (SELECT epoch_us(ts) AS us FROM events WHERE event_type = 'click')
SELECT strftime(p.hr, '%Y-%m-%d %H:%M:%S') AS hour,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT p.event_id) AS n_purchases
FROM p JOIN c ON c.us >= p.us AND c.us < p.us + {_RANGE_WIN_US}
GROUP BY 1
"""


@query("join_range_purchase_clicks", oracle=_RANGE_ORACLE, tags=("range-join",))
def range_purchase_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir)["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        us.alias("p_us"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
    )
    c = ev.filter(F.col("event_type") == "click").select(us.alias("c_us"))
    # Probe replicated to the <=2 window-width buckets its interval overlaps.
    p_b = p.withColumn(
        "bucket",
        F.explode(
            F.array(
                (F.col("p_us") / _RANGE_WIN_US).cast("bigint"),
                (F.col("p_us") / _RANGE_WIN_US).cast("bigint") + 1,
            )
        ),
    )
    c_b = c.withColumn("bucket", (F.col("c_us") / _RANGE_WIN_US).cast("bigint"))
    pairs = p_b.join(
        c_b,
        (p_b["bucket"] == c_b["bucket"])
        & (c_b["c_us"] >= p_b["p_us"])
        & (c_b["c_us"] < p_b["p_us"] + _RANGE_WIN_US),
    )
    return pairs.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("event_id").alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# Distribution window functions — ntile / percent_rank / cume_dist /
# nth_value (the remainder of the BoundedWindowAggExec function surface).
# (c_acctbal, c_custkey) is a unique sort key, so every rank-derived value
# is deterministic; percent_rank/cume_dist are single divisions of exact
# integer ranks — bit-portable.
# ---------------------------------------------------------------------------

_WIN_DIST_ORACLE = """
SELECT c_mktsegment, c_custkey,
  CAST(NTILE(10) OVER w AS INTEGER) AS decile,
  PERCENT_RANK() OVER w AS pct_rank,
  CUME_DIST() OVER w AS cume,
  NTH_VALUE(c_custkey, 3) OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS third_poorest
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


@query("win_distribution_funcs", oracle=_WIN_DIST_ORACLE, tags=("window",))
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir)["customer"]
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(10).over(w).cast("int").alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("c_custkey", 3).over(w_full).alias("third_poorest"),
    )


# ---------------------------------------------------------------------------
# PIVOT: order money by priority (rows) x status (columns). Spark's relational
# pivot with an explicit value list == the oracle's conditional-aggregation
# rewrite — which is also exactly how Catalyst lowers Pivot when the value
# list is known (no second pass to discover values).
# ---------------------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT o_orderpriority,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS "F",
  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS "O",
  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS "P"
FROM orders
GROUP BY o_orderpriority
"""


@query("pivot_priority_status", oracle=_PIVOT_ORACLE, tags=("pivot",))
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir)["orders"]
    cents_col = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        orders.select("o_orderpriority", "o_orderstatus", cents_col.alias("cents"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg((F.coalesce(F.sum("cents"), F.lit(0)).cast("double") / 100.0))
    )


# ---------------------------------------------------------------------------
# UNPIVOT (melt): wide per-priority measures back to (priority, measure,
# value) long form — Spark's Unpivot node vs the UNION-ALL rewrite.
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH agg AS (
  SELECT o_orderpriority, COUNT(*) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_orders' AS measure, CAST(n_orders AS BIGINT) AS value FROM agg
UNION ALL
SELECT o_orderpriority, 'cents' AS measure, CAST(cents AS BIGINT) AS value FROM agg
"""


@query("unpivot_priority_measures", oracle=_UNPIVOT_ORACLE, tags=("unpivot",))
def unpivot_priority_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir)["orders"]
    agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
    )
    return agg.unpivot(
        ["o_orderpriority"], ["n_orders", "cents"], "measure", "value"
    )


# ---------------------------------------------------------------------------
# RANGE-frame window (value-based bounds): per event, how many events the
# same user produced in the preceding hour (inclusive). RANGE BETWEEN is the
# one frame kind the round-1 window surface did not touch: Spark plans a
# RangeFrame in its window exec (BoundedWindowAggExec analogue with
# value-ordered bounds, reference complexity_memory.rs:73-84), and peers with
# equal order-values enter the frame together — semantics ROWS cannot
# express. Ordering key is epoch seconds (integer), portable to DuckDB.
# ---------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS events_last_hour
FROM (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec FROM events) e
"""


@query("win_range_frame_hour", oracle=_RANGE_FRAME_ORACLE, tags=("window", "range-frame"))
def win_range_frame_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir)["events"]
    base = events.select(
        "event_id",
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000))
        .cast("long")
        .alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
    return base.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("events_last_hour"),
    )


# ---------------------------------------------------------------------------
# FIRST_VALUE / LAST_VALUE with IGNORE NULLS over a running frame: carry the
# most recent fulfilled order's price forward across each customer's order
# history (NULL-gap fill — the standard "last observation carried forward"
# shape). IGNORE NULLS changes the window function's null semantics, a
# distinct code path from the plain first/last aggregates; DuckDB shares the
# ANSI `IGNORE NULLS` modifier so the oracle is direct.
# ---------------------------------------------------------------------------

_IGNORE_NULLS_ORACLE = """
SELECT o_custkey, o_orderkey,
  CAST(COALESCE(FIRST_VALUE(CASE WHEN o_orderstatus = 'F' THEN o_orderkey END IGNORE NULLS)
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), -1) AS BIGINT) AS first_f_orderkey,
  CAST(COALESCE(LAST_VALUE(CASE WHEN o_orderstatus = 'F'
                       THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END IGNORE NULLS)
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), -100) AS DOUBLE) / 100.0 AS last_f_price
FROM orders
"""


@query("win_ignore_nulls_carry", oracle=_IGNORE_NULLS_ORACLE, tags=("window", "ignore-nulls"))
def win_ignore_nulls_carry(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir)["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f_key = F.when(F.col("o_orderstatus") == "F", F.col("o_orderkey"))
    f_cents = F.when(
        F.col("o_orderstatus") == "F",
        F.round(F.col("o_totalprice") * 100, 0).cast("long"),
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.coalesce(F.first(f_key, ignorenulls=True).over(w), F.lit(-1))
        .cast("bigint")
        .alias("first_f_orderkey"),
        (
            F.coalesce(F.last(f_cents, ignorenulls=True).over(w), F.lit(-100))
            .cast("double")
            / 100.0
        ).alias("last_f_price"),
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM): the join surface
# where NULL keys MATCH each other instead of vanishing — DataFusion plans
# it as a hash join with null-safe key comparison, and so does Spark
# (EqualNullSafe is a hash-joinable predicate, NOT a nested-loop fallback;
# the plan-lint gate enforces that here). The nullable key is synthesized
# deterministically (NULLIF(user_id % 5, 0) — a fifth of the groups carry a
# NULL key), the two sides are disjoint halves of events, and the NULL row
# in the output proves the null-bucket actually joined.
# ---------------------------------------------------------------------------

_NULLSAFE_ORACLE = """
WITH a AS (
  SELECT NULLIF(user_id % 5, 0) AS k, COUNT(*) AS a_events,
         COUNT(DISTINCT user_id) AS a_users
  FROM events WHERE event_id % 2 = 0 GROUP BY NULLIF(user_id % 5, 0)
),
b AS (
  SELECT NULLIF(user_id % 5, 0) AS k, COUNT(*) AS b_events,
         COUNT(DISTINCT user_id) AS b_users
  FROM events WHERE event_id % 2 = 1 GROUP BY NULLIF(user_id % 5, 0)
)
SELECT a.k, a.a_events, a.a_users, b.b_events, b.b_users
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


@query("join_null_safe_eq", oracle=_NULLSAFE_ORACLE, tags=("join", "null-safe"))
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir)["events"]
    k = F.nullif(F.col("user_id") % 5, F.lit(0)).alias("k")

    def side(parity: int, prefix: str) -> DataFrame:
        return (
            ev.filter(F.col("event_id") % 2 == parity)
            .select(k, "user_id")
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias(f"{prefix}_events"),
                F.count_distinct("user_id").alias(f"{prefix}_users"),
            )
        )

    a, b = side(0, "a"), side(1, "b")
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "a_events", "a_users", "b_events", "b_users"
    )
