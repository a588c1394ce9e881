"""Literal-SQL parity lane: execute the reference's OWN query texts.

The reference proves itself by running the verbatim ``q1.sql .. q22.sql`` /
TPC-DS / ClickBench texts (/root/reference/tests/tpch_correctness_test.rs:
24-120, tests/tpcds_correctness_test.rs, tests/clickbench_correctness_test.rs).
This repo covers every query *class* with re-derived operators (necessarily —
the driver schema has no partsupp/hits), but a user porting a workload pastes
SQL text. This lane closes that gap: it registers SCHEMA-MAPPED views over
the driver tables and executes the literal reference texts through
``spark.sql`` — and, in tests, the identical text through DuckDB over
identically-derived views for a full differential comparison.

Adaptation contract (everything else is the verbatim file text):
- texts are read from the reference tree at runtime (never copied into this
  repo); ``--`` comment lines and the trailing ``;`` are stripped;
- schema gaps are filled by VIEWS, not by editing queries: missing TPC-H
  columns (l_commitdate, c_phone, p_container, the whole partsupp table, ...)
  are derived DETERMINISTICALLY from existing columns with integer-arithmetic
  hashes that evaluate bit-identically in Spark and DuckDB;
- TPC-DS star tables (store_sales/date_dim/item) and the ClickBench ``hits``
  table are views over the same driver tables;
- the optional ``date_shift_years`` run rewrites ``date 'YYYY-MM-DD'``
  literals forward by N years — the driver's order dates span 1995-2001 while
  the benchmark texts reference 1993-1998, so the verbatim run proves
  parse/plan/execute (sometimes on an empty selection) and the shifted run
  proves the VALUES on a populated selection. The rewrite is applied to the
  text fed to BOTH engines;
- ClickBench texts quote identifiers with double quotes; the lane sets
  ``spark.sql.ansi.doubleQuotedIdentifiers`` for the session (the reference
  needs a parquet conf for these same files —
  /root/reference/testdata/clickbench/queries/q0.sql header).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from .literal_tpcds import TPCDS_SUITE_VIEWS
from .literal_tpcds import view_definitions as _tpcds_view_definitions
from .tables import claim_views, load_tables, table_key

REFERENCE_QUERIES = "/root/reference/testdata"
# The lit_* registry entries execute these texts verbatim. A checkout does not
# carry them, so without them none of those entries registers.
HAVE_REFERENCE_QUERIES = os.path.isdir(REFERENCE_QUERIES)
NO_REFERENCE_QUERIES_REASON = f"reference query texts absent ({REFERENCE_QUERIES})"

# Base tables are re-registered under prefixed names so the padded views can
# take the bare benchmark names without self-reference.
_BASE_PREFIX = "lit_base_"


def _pick(expr: str, values: list[str]) -> str:
    """CASE (expr) WHEN i THEN values[i] ... — deterministic list pick."""
    arms = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(values))
    return f"CASE ({expr}) % {len(values)} {arms} END"


_SHIPMODES = ["MAIL", "SHIP", "AIR", "TRUCK", "RAIL", "REG AIR", "FOB"]
_SHIPINSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
_CONTAINERS = [
    "SM CASE", "SM BOX", "SM PACK", "SM PKG",
    "MED BAG", "MED BOX", "MED PKG", "MED PACK",
    "LG CASE", "LG BOX", "LG PACK", "LG PKG",
]
# The official TPC-H nation vocabulary (public spec, table 4.2.3) — the
# driver's synthetic NATION_i names would make the nation-literal queries
# (q7 FRANCE/GERMANY, q8 BRAZIL, q20 CANADA, q21 SAUDI ARABIA) vacuously
# empty; the view renames by key, keeping the driver's region links.
# Key assignment is part of the adaptation: the sf0.001 driver data has
# only 10 suppliers (nationkeys 3,8,12,13,15,18,19,20,21,24), so the
# supplier-filtered names are placed on supplier-populated keys
# (FRANCE->12, GERMANY->18, BRAZIL->8; CANADA=3 and SAUDI ARABIA=20
# already land on populated keys at their official positions).
_NATIONS = [
    "ALGERIA", "ARGENTINA", "INDIA", "CANADA", "EGYPT", "ETHIOPIA",
    "JAPAN", "CHINA", "BRAZIL", "INDONESIA", "IRAN", "IRAQ", "FRANCE",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "GERMANY", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
# TPC-H P_NAME color vocabulary sample (spec 4.2.3 colors list): prefixing
# part names with a deterministic color gives the color-pattern queries
# (q9 '%green%', q20 'forest%') a real selection on the driver data.
_COLORS = [
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
    "blanched", "blue", "blush", "brown", "burlywood", "burnished",
    "chartreuse", "chiffon", "chocolate", "coral", "cornflower", "cornsilk",
    "cream", "cyan", "dark", "deep", "dim", "dodger", "drab", "firebrick",
    "floral", "forest", "frosted", "gainsboro", "ghost", "goldenrod",
    "green", "grey", "honeydew", "hot", "indian", "ivory", "khaki",
]


# 16-way replica generator for the clickbench_dense lane (the tpcds
# inventory generate_series precedent): each engine's spelling of a 16-row
# series table whose column is ``rep``.
_REPS16 = {
    "spark": "(SELECT explode(sequence(0, 15)) AS rep) reps",
    "duck": "(SELECT unnest(generate_series(0, 15)) AS rep) reps",
}


def view_definitions(
    engine: str, base, tpch_exact: bool = False
) -> dict[str, str]:
    """View SELECT texts for one engine.

    ``engine`` is 'spark' or 'duck'; ``base(name)`` renders a reference to
    the raw driver table. Every derived column uses only constructs whose
    semantics are identical across the two engines (integer * + %, CASE,
    ||, substring, EXTRACT); the few spellings that differ (date+days,
    epoch-day numbering, string cast) are rendered per engine here, so the
    SAME derivation yields bit-identical values on both sides — that is
    what lets the literal texts run differentially.

    ``tpch_exact`` renders the TPC-H views' money columns ORDER-EXACT for
    double summation (the tpch_exact sibling suite — the TPC-DS floor-
    money trick generalized): prices quantize to whole dollars (integer-
    valued doubles) and rates (l_discount/l_tax) to 1/128-dyadic rationals,
    so every product l_extendedprice*(1±rate)(1±rate) is an exact multiple
    of 2^-14 and every partial sum stays exactly representable far beyond
    sf0.1 (sum_charge ~6.8e10 * 2^14 ~ 1.1e15 << 2^53). Any summation
    ORDER then yields the identical double, which is what lets verbatim
    float-sum texts (q1/q5/q6/q14/q17/q19) pass the driver's bit-exact
    hash gate. 1/128 (not 1/100) keeps the rates dyadic while preserving
    the texts' band predicates' selectivity (q6's BETWEEN 0.05 AND 0.07
    keeps exactly the source-0.06 rows as 0.0625)."""
    sp = engine == "spark"

    if tpch_exact:
        _EP = "ROUND(l_extendedprice)"
        # q8's selection predicate is the full spec p_type vocabulary
        # ('ECONOMY ANODIZED STEEL'); the driver's p_type carries only the
        # first word, so the conjunction is empty at every scale. The exact
        # lane pads a deterministic 1-in-7 slice to the full three-word
        # type (the dense-slice method: both engines read the identical
        # derivation, so the differential stays meaningful). q14's PROMO%
        # share shifts consistently in both engines.
        # Two deterministic p_type slices give the spec-vocabulary
        # predicates real selections: 1-in-7 rewrites to q8's exact
        # 'ECONOMY ANODIZED STEEL'; the next 1-in-7 APPENDS ' PLATED BRASS'
        # for q2's '%BRASS' suffix match (appending preserves q14's PROMO%
        # prefix semantics on those rows).
        _PTYPE = ("CASE WHEN p_partkey % 7 = 0 THEN 'ECONOMY ANODIZED STEEL' "
                  "WHEN p_partkey % 7 = 1 THEN p_type || ' PLATED BRASS' "
                  "ELSE p_type END")
        # q22's NOT EXISTS(orders) selection is structurally empty on the
        # driver data — the generator gives EVERY customer at least one
        # order at every scale. The exact lane appends a deterministic
        # order-less tail (one synthetic customer per 10 real ones, keys
        # shifted by 1e7 so they can never match an o_custkey; +13 keeps
        # about half above the acctbal average). Invisible to every other
        # exact-lane text: all of them reach customer THROUGH a join to
        # orders. Both engines read the identical derivation.
        _DISC = "(ROUND(l_discount * 128) / 128)"
        _TAX = "(ROUND(l_tax * 128) / 128)"
        _TOT = "ROUND(o_totalprice)"
        _CBAL = "ROUND(c_acctbal)"
        _SBAL = "ROUND(s_acctbal)"
        _RETP = "ROUND(p_retailprice)"
    else:
        _EP, _DISC, _TAX = "l_extendedprice", "l_discount", "l_tax"
        _TOT, _CBAL, _SBAL, _RETP = (
            "o_totalprice", "c_acctbal", "s_acctbal", "p_retailprice",
        )
        _PTYPE = "p_type"

    def DA(col: str, days: str) -> str:  # date + N days
        # Spark's date_add takes an INT day count (BIGINT is rejected under
        # ANSI); DuckDB adds integer days with plain +.
        return (
            f"date_add({col}, CAST({days} AS INT))"
            if sp
            else f"({col} + CAST({days} AS INTEGER))"
        )

    def ED(col: str) -> str:  # days since epoch as the surrogate date key
        return (
            f"datediff({col}, DATE '1970-01-01')"
            if sp
            else f"CAST({col} - DATE '1970-01-01' AS INTEGER)"
        )

    def S(x: str) -> str:  # integer -> string
        return f"CAST({x} AS STRING)" if sp else f"CAST({x} AS VARCHAR)"

    # ClickBench "EventTime" is Unix SECONDS; events.ts is TIMESTAMP_NTZ
    # (micros) on the Spark side and TIMESTAMP in DuckDB — both floor to
    # seconds with exact integer division (session tz is UTC, so the
    # NTZ->LTZ cast is an identity on the instant).
    ET = (
        "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000"
        if sp
        else "(epoch_us(ts) // 1000000)"
    )

    # Trailing-zero bucket: geometric key-frequency generator for the
    # clickbench_unique lane. For e uniform over [0, 2^17), bucket k has
    # probability 2^-(k+1) (k <= 16; the ELSE arm catches e = 0 at 2^-17)
    # — a Zipf-shaped frequency profile, derived with pure integer ops
    # that evaluate bit-identically in both engines. Real ClickBench
    # traffic is heavy-tailed; the default lane's UNIFORM picks produce
    # the degenerate rank-boundary count ties that rejected q8/q9/q11/
    # q14/q15 from the gate — geometric frequencies separate top-k counts
    # by ~2x per rank so the cuts are empirically total at every fixture
    # scale (screened, and asserted per-entry).
    def TZ(e: str) -> str:
        arms = " ".join(
            f"WHEN ({e}) % {2 ** (k + 1)} = {2 ** k} THEN {k}" for k in range(17)
        )
        return f"CASE {arms} ELSE 17 END"

    # Lane hashes: modulus BEFORE multiply keeps products in BIGINT range
    # at any scale (the inventory-spike lesson — Spark wraps silently
    # where DuckDB raises).
    _HU = "(((event_id % 100000) * 2654435761) % 2097152)"   # heavy split
    _HR = "(((event_id % 100000) * 1103515245) % 131072)"    # region
    _HP = "(((user_id % 100000) * 48271) % 655360)"          # phrase
    _HM = "(((user_id % 100000) * 7919) % 655360)"           # phone model
    _HL = "(((event_id % 100000) * 179426549) % 1703936)"    # URL
    _HT = "(((event_id % 100000) * 15485863) % 1441792)"     # title
    def IDIV(a: str, b: int) -> str:    # exact integer floor division (a >= 0)
        return f"(({a}) DIV {b})" if sp else f"(({a}) // {b})"

    # Exact-lane order-less customer tail (see the q22 note above). Rendered
    # here because it uses the per-engine S() cast.
    _CUST_TAIL = (
        f"""
UNION ALL
SELECT c_custkey + 10000000, 'Customer#' || {S("c_custkey + 10000000")},
       c_nationkey, {_CBAL} + 13, c_mktsegment,
       {S("10 + c_custkey % 25")} || '-555-' || {S("1000 + c_custkey % 9000")},
       'Address ' || {S("c_custkey + 10000000")},
       'silent customer'
FROM {base("customer")} WHERE c_custkey % 10 = 0"""
        if tpch_exact
        else ""
    )

    return {
        # ---- TPC-H: driver tables padded to the full spec column set ----
        "lineitem": f"""
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       {_EP} AS l_extendedprice, {_DISC} AS l_discount, {_TAX} AS l_tax,
       l_returnflag, l_linestatus,
       CAST(l_shipdate AS DATE) AS l_shipdate,
       {DA("CAST(l_shipdate AS DATE)", "(l_orderkey * 7 + l_linenumber * 3) % 61 - 30")} AS l_commitdate,
       {DA("CAST(l_shipdate AS DATE)", "(l_orderkey * 11 + l_linenumber * 5) % 30 + 1")} AS l_receiptdate,
       {_pick("l_orderkey * 13 + l_linenumber", _SHIPMODES)} AS l_shipmode,
       {_pick("l_orderkey * 17 + l_linenumber", _SHIPINSTRUCT)} AS l_shipinstruct,
       'line note ' || {S("l_linenumber")} AS l_comment
FROM {base("lineitem")}""",
        "orders": f"""
SELECT o_orderkey, o_custkey, o_orderstatus, {_TOT} AS o_totalprice,
       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
       CAST(o_orderkey % 3 AS INT) AS o_shippriority,
       'Clerk#' || {S("1 + o_orderkey % 1000")} AS o_clerk,
       CASE WHEN ((o_orderkey % 100000) * 2654435761) % 100 < 4
            THEN 'special requests handling'
            ELSE 'standard order note ' || {S("o_orderkey % 7")} END AS o_comment
FROM {base("orders")}""",
        "customer": f"""
SELECT c_custkey, c_name, c_nationkey, {_CBAL} AS c_acctbal, c_mktsegment,
       {S("10 + c_custkey % 25")} || '-555-' || {S("1000 + c_custkey % 9000")} AS c_phone,
       'Address ' || {S("c_custkey")} AS c_address,
       'customer note ' || {S("c_custkey % 11")} AS c_comment
FROM {base("customer")}{_CUST_TAIL}""",
        "supplier": f"""
SELECT s_suppkey, s_name, s_nationkey, {_SBAL} AS s_acctbal,
       'Depot ' || {S("s_suppkey")} AS s_address,
       {S("10 + s_suppkey % 25")} || '-555-' || {S("2000 + s_suppkey % 8000")} AS s_phone,
       CASE WHEN s_suppkey % 50 = 7 THEN 'noted Customer recurring Complaints'
            ELSE 'reliable supplier ' || {S("s_suppkey % 13")} END AS s_comment
FROM {base("supplier")}""",
        "part": f"""
SELECT p_partkey,
       {_pick("p_partkey * 23", _COLORS)} || ' ' || p_name AS p_name,
       p_brand, {_PTYPE} AS p_type, p_size, {_RETP} AS p_retailprice,
       'Manufacturer#' || {S("1 + p_partkey % 5")} AS p_mfgr,
       {_pick("p_partkey * 19", _CONTAINERS)} AS p_container,
       'part note ' || {S("p_partkey % 17")} AS p_comment
FROM {base("part")}""",
        # Synthesized partsupp: one row per distinct (part, supplier) pair
        # observed in lineitem; whole-number supplycost keeps the min()
        # comparisons float-exact across engines.
        "partsupp": f"""
SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       CAST((l_partkey * 37 + l_suppkey * 17) % 9999 + 1 AS INT) AS ps_availqty,
       CAST(1 + (l_partkey * 31 + l_suppkey * 7) % 1000 AS DOUBLE) AS ps_supplycost,
       'ps note ' || {S("(l_partkey + l_suppkey) % 23")} AS ps_comment
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM {base("lineitem")}) pairs""",
        "nation": f"""
SELECT n_nationkey,
       {_pick("n_nationkey", _NATIONS)} AS n_name,
       n_regionkey,
       'nation note ' || {S("n_nationkey")} AS n_comment
FROM {base("nation")}""",
        "region": f"SELECT * FROM {base('region')}",
        # ---- ClickBench hits over events ----
        # Mixed-case quoted column names: the suite runs with
        # double-quoted-identifier parsing on (see module docstring).
        "hits": f"""
SELECT event_id AS "WatchID",
       user_id AS "UserID",
       CASE WHEN ((event_id % 100000) * 2654435761) % 100 < 5
            THEN CAST(event_id % 17 + 1 AS INT) ELSE 0 END AS "AdvEngineID",
       CAST(800 + (event_id % 20) * 60 AS INT) AS "ResolutionWidth",
       CAST((user_id * 2654435761) % 4294967296 % 200 AS INT) AS "RegionID",
       CASE WHEN (event_id * 31) % 10 < 2
            THEN 'phrase ' || {S("event_id % 50")} ELSE '' END AS "SearchPhrase",
       CASE WHEN event_id % 13 = 0
            THEN 'http://google.com/search?q=' || {S("event_id % 100")}
            ELSE 'http://example.com/page/' || {S("(event_id * 7) % 1000")}
            END AS "URL",
       CAST(event_id % 2 AS INT) AS "IsRefresh",
       CAST((event_id * 41) % 100 AS INT) AS "CounterID",
       CAST(ts AS DATE) AS "EventDate",
       {ET} AS "EventTime",
       CAST(user_id % 4 AS INT) AS "MobilePhone",
       CASE WHEN user_id % 5 < 2 THEN 'Model ' || {S("user_id % 7")}
            ELSE '' END AS "MobilePhoneModel",
       CAST((event_id * 13) % 6 AS INT) AS "SearchEngineID",
       CASE WHEN event_id % 11 < 3 THEN 'Google Search ' || {S("event_id % 40")}
            ELSE 'Page Title ' || {S("event_id % 90")} END AS "Title",
       CAST((user_id * 48271) % 1000000 AS INT) AS "ClientIP",
       CASE WHEN event_id % 7 < 3
            THEN 'http://ref.example.com/' || {S("event_id % 200")}
            ELSE '' END AS "Referer",
       CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS "IsLink",
       CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS "IsDownload",
       CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END AS "DontCountHits",
       CAST(event_id % 9 - 1 AS INT) AS "TraficSourceID",
       ((event_id % 100000) * 2654435761) % 4294967296 AS "URLHash",
       ((event_id % 100000) * 1103515245) % 4294967296 AS "RefererHash",
       CAST(600 + (user_id % 13) * 50 AS INT) AS "WindowClientWidth",
       CAST(400 + (user_id % 11) * 40 AS INT) AS "WindowClientHeight"
FROM {base("events")}""",
        # ---- ClickBench unique/Zipf lane (r11): same table, key columns
        # re-derived with geometric (trailing-zero-bucket) frequencies and
        # a UNIQUE EventTime so the rank-boundary-tied texts' top-k cuts
        # become deterministic. RegionID/SearchPhrase/MobilePhoneModel
        # vocabularies are capped at 9 values (TZ over a mod-256 domain),
        # so the q8/q9/q11/q14 LIMIT-10 cuts are UNREACHABLE at any scale
        # (the q12 vocabulary-bound trick composed with geometric sizes —
        # with <= 9 groups the cut never fires, so group-count ties are
        # irrelevant). UserID/WatchID/ClientIP get the same <= 9-value
        # geometric cap, sharing ONE bucket (aligned entity identity), so
        # pair groupings like q31/q32's (WatchID, ClientIP) are 1:1 with
        # the bucket — 9 groups, cut unreachable. Heavy/tail splits were
        # screened first and REJECTED twice over: per-user tails' ~90
        # constant counts collided with the deep heavy ladder at q15's
        # rank-10 boundary at sf0.1, and count-1 tails tied q31/q32/q35's
        # boundaries at the smaller gate scales. UserID magnitudes are
        # bounded (~1e6) so q3's AVG sum stays far from int64 range at
        # any scale (the r8 q3 overflow class). Independent-hash product
        # counts (q16/q30's (engine, ip)-style pairings, q18's
        # (user, minute, phrase)) stay REJECTED: geometric x geometric
        # products tie structurally (2^-a * 2^-b equal whenever a+b is),
        # and q19's literal UserID cannot be planted without re-breaking
        # q3's sum bound.
        "hits_unique": f"""
SELECT 5000000000 + {TZ(f"{_HU} % 256")} AS "WatchID",
       1000000 + {TZ(f"{_HU} % 256")} AS "UserID",
       CASE WHEN ((event_id % 100000) * 2654435761) % 100 < 5
            THEN CAST(event_id % 17 + 1 AS INT) ELSE 0 END AS "AdvEngineID",
       CAST(800 + (event_id % 20) * 60 AS INT) AS "ResolutionWidth",
       CAST({TZ(f"{_HR} % 256")} AS INT) AS "RegionID",
       CASE WHEN {_HP} % 5 = 0
            THEN 'phrase ' || {S(TZ(f"{IDIV(_HP, 5)} % 256"))}
            ELSE '' END AS "SearchPhrase",
       CASE WHEN {_HL} % 13 = 0
            THEN 'http://google.com/search?q=' || {S(TZ(IDIV(_HL, 13)))}
            ELSE 'http://example.com/page/' || {S(TZ(IDIV(_HL, 13)))}
            END AS "URL",
       CAST(event_id % 2 AS INT) AS "IsRefresh",
       CAST((event_id * 41) % 100 AS INT) AS "CounterID",
       CAST(ts AS DATE) AS "EventDate",
       946684800 + event_id AS "EventTime",
       CAST({TZ(f"{IDIV(_HM, 5)} % 256")} % 4 AS INT) AS "MobilePhone",
       CASE WHEN {_HM} % 5 < 2 THEN 'Model ' || {S(TZ(f"{IDIV(_HM, 5)} % 256"))}
            ELSE '' END AS "MobilePhoneModel",
       CAST(CASE WHEN {_HP} % 5 = 0 THEN {TZ(f"{IDIV(_HP, 5)} % 256")} % 6
                 ELSE 0 END AS INT) AS "SearchEngineID",
       CASE WHEN {_HT} % 11 < 3 THEN 'Google Search ' || {S(TZ(IDIV(_HT, 11)))}
            ELSE 'Page Title ' || {S(TZ(IDIV(_HT, 11)))} END AS "Title",
       3000 + {TZ(f"{_HU} % 256")} AS "ClientIP",
       CASE WHEN event_id % 7 < 3
            THEN 'http://ref.example.com/' || {S("event_id % 200")}
            ELSE '' END AS "Referer",
       CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS "IsLink",
       CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS "IsDownload",
       CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END AS "DontCountHits",
       CAST(event_id % 9 - 1 AS INT) AS "TraficSourceID",
       ((event_id % 100000) * 2654435761) % 4294967296 AS "URLHash",
       ((event_id % 100000) * 1103515245) % 4294967296 AS "RefererHash",
       CAST(600 + (user_id % 13) * 50 AS INT) AS "WindowClientWidth",
       CAST(400 + (user_id % 11) * 40 AS INT) AS "WindowClientHeight"
FROM {base("events")}""",
        # ---- ClickBench density lane (r12): the tpcds_dense move applied
        # to ClickBench — the verbatim texts whose HAVING COUNT(*)>100000
        # floors and OFFSET 100..10000 windows are unreachable over 100 K
        # driver events get a 16x-replicated hits variant with ENGINEERED
        # group-count structure. All derivations are integer-exact and
        # bit-identical across engines; every LIMIT/OFFSET boundary is
        # tie-free BY CONSTRUCTION (not just screened):
        # - global row index r = event_id*16 + rep is contiguous [0, 16N);
        #   j = r%4 splits counters 3:1 (62 heavy / 41), block-local
        #   indexes q = 3*(r DIV 4) + j and m = r DIV 4 stay contiguous;
        # - the staircase g = floor((sqrt(8q+1)-1)/2) (inverse triangular;
        #   IEEE sqrt is correctly rounded, so both engines floor the same
        #   double) gives URL/Title/(SE,IP)/q39-tuple groups count g+1 —
        #   ALL DISTINCT — so top-10 cuts (q36/q37/q30) and the OFFSET-1000
        #   windows (q38/q39, reachable once G >= 1011 at sf0.1) never tie;
        # - q40/q41 plant the official texts' RefererHash/URLHash literals
        #   on exact index ranges shaped two-tier: OFFSET-many count-2
        #   groups + <= 5 count-1 singles, so the skipped prefix is exactly
        #   the tied count-2 block and the returned tail is whole;
        # - q27/q28's >100000 floors: counter/domain groups are 12N/4N rows
        #   (N = events rows) with CONSTANT per-group URL/Referer lengths,
        #   so AVG(length(...)) is an exact integer in double;
        # - EventTime = contiguous seconds over 2013-07-14/15 makes q42's
        #   ORDER-BY-minute (the group key itself) total with >= 1010
        #   distinct minutes from sf0.01 up; EventDate stays inside the
        #   texts' July-2013 window;
        # - UserID is 2-valued {the q19 text's official literal, 1000000}
        #   and SearchPhrase 4-valued functionally paired, so q17's
        #   un-ORDERed LIMIT 10 sees 8 = ALL groups (the q12 bound trick);
        #   the literal lives on a FIXED 2000-row slice (r even, < 4000) so
        #   q19's returned multiset stays gate-sized at every scale.
        "hits_dense": f"""
SELECT CAST(r AS BIGINT) AS "WatchID",
       CASE WHEN r % 2 = 0 AND r < 4000 THEN 435090932899640449
            ELSE 1000000 END AS "UserID",
       CAST(CASE WHEN j < 3 THEN g % 3 ELSE 0 END AS INT) AS "AdvEngineID",
       CAST(CASE WHEN j < 3 THEN 800 + (g % 20) * 60 ELSE 1024 END AS INT)
           AS "ResolutionWidth",
       CAST(1 AS INT) AS "RegionID",
       'phrase ' || {S(f"{IDIV('r', 2)} % 4")} AS "SearchPhrase",
       CASE WHEN j < 3 THEN 'http://example.com/page/' || LPAD({S("g")}, 9, '0')
            ELSE 'http://example.org/p/' || LPAD({S("m")}, 9, '0') END AS "URL",
       CAST(0 AS INT) AS "IsRefresh",
       CAST(CASE WHEN j < 3 THEN 62 ELSE 41 END AS INT) AS "CounterID",
       {DA("DATE '2013-07-14'", IDIV("(ix % 172800)", 86400))} AS "EventDate",
       1373760000 + (ix % 172800) AS "EventTime",
       CAST(0 AS INT) AS "MobilePhone",
       '' AS "MobilePhoneModel",
       CAST(CASE WHEN j < 3 THEN g % 4 ELSE 9 END AS INT) AS "SearchEngineID",
       CASE WHEN j < 3 THEN 'T62 ' || LPAD({S("g")}, 9, '0')
            ELSE 'T41 ' || LPAD({S("m")}, 9, '0') END AS "Title",
       CASE WHEN j < 3 THEN 3000 + g ELSE 99999 END AS "ClientIP",
       CASE WHEN j < 3 THEN 'https://go62.example.com/r/' || LPAD({S("g")}, 9, '0')
            ELSE 'http://r41.example.net/q/' || LPAD({S("m")}, 9, '0')
            END AS "Referer",
       CAST(1 AS INT) AS "IsLink",
       CAST(0 AS INT) AS "IsDownload",
       CAST(0 AS INT) AS "DontCountHits",
       CAST(CASE WHEN j < 3 THEN -1 + 7 * (g % 2) ELSE -1 END AS INT)
           AS "TraficSourceID",
       CASE WHEN j < 3 AND q < 20005 THEN 2868770270353813622
            WHEN j < 3 AND q >= 30000 AND q < 30205
                 THEN 7000000000000 + (CASE WHEN q < 30200
                                            THEN {IDIV("(q - 30000)", 2)}
                                            ELSE q - 30100 END)
            ELSE ((r % 100000) * 2654435761) % 4294967296 END AS "URLHash",
       CASE WHEN j < 3 AND q >= 30000 AND q < 30205 THEN 3594120000172545465
            ELSE ((r % 100000) * 1103515245) % 4294967296 END AS "RefererHash",
       CAST(CASE WHEN j < 3 THEN 400 + p % 128 ELSE 1 END AS INT)
           AS "WindowClientWidth",
       CAST(CASE WHEN j < 3 THEN 300 + {IDIV("p", 128)} ELSE 1 END AS INT)
           AS "WindowClientHeight"
FROM (
  SELECT r, j, m, q,
         CAST(FLOOR((SQRT(CAST(8 * q + 1 AS DOUBLE)) - 1) / 2) AS BIGINT) AS g,
         CASE WHEN j < 3 THEN q ELSE m END AS ix,
         CASE WHEN q < 20000 THEN {IDIV("q", 2)}
              WHEN q < 20005 THEN q - 10000 ELSE q END AS p
  FROM (
    SELECT r, r % 4 AS j, {IDIV("r", 4)} AS m,
           3 * {IDIV("r", 4)} + r % 4 AS q
    FROM (SELECT event_id * 16 + rep AS r
          FROM {base("events")} CROSS JOIN {_REPS16[engine]}) raw
  ) idx
) t""",
        # ---- TPC-DS: the full 24-table star schema lives in its own
        # module (round-7 widening) and is merged here so _lit_ctes and the
        # registries see one flat namespace.
        **_tpcds_view_definitions(engine, base),
    }


# (view_name, definition_key) registered per suite. Bare names are only
# overridden while the lane runs — see register_spark_views. The TPC-DS
# suite's `customer` is a DIFFERENT shape (c_customer_sk/c_current_addr_sk)
# than TPC-H's padded customer, hence the separate definition key.
SUITE_VIEWS = {
    "tpch": [
        (n, n)
        for n in (
            "lineitem", "orders", "customer", "supplier", "part",
            "partsupp", "nation", "region",
        )
    ],
    "tpcds": TPCDS_SUITE_VIEWS,
    # Dense-slice lane: the SAME 24 view names and query texts, rendered
    # with literal_tpcds.view_definitions(dense=True) — joint-conjunction
    # density raised so the SF>=1 texts (q24/q84/q85) populate below SF1
    # without touching the default lane's 93 value-checked texts.
    "tpcds_dense": TPCDS_SUITE_VIEWS,
    # Exact-item lane (r11): the SAME 24 view names and verbatim texts,
    # rendered with literal_tpcds.view_definitions(exact=True) — the item
    # view's money columns quantized whole-dollar and i_item_desc made
    # unique, so avg-of-price thresholds (q6) compare identical doubles
    # and desc-keyed LIMIT cuts (q65) are total. Fact money was already
    # order-exact on the default lane.
    "tpcds_exact": TPCDS_SUITE_VIEWS,
    # q64-taming sub-lane (r12): dense rendering + four fold overrides that
    # bring the cross-year self-join's output to gate scale (see
    # literal_tpcds.view_definitions dense64 notes).
    "tpcds_dense64": TPCDS_SUITE_VIEWS,
    # Ticket lane (r12): x4 store_sales line replication + per-order
    # purchase addresses — makes q34's 15-20-line ticket band and
    # q46/q68's bought-city <> current-city conjunctions reachable.
    "tpcds_dense34": TPCDS_SUITE_VIEWS,
    # Exact-summation lane (the dense-slice method applied to TPC-H float
    # sums): the SAME 8 view names and verbatim texts, money columns
    # rendered order-exact (whole-dollar prices, 1/128-dyadic rates — see
    # view_definitions) so float-sum texts hash bit-exactly across engines.
    "tpch_exact": [
        (n, n)
        for n in (
            "lineitem", "orders", "customer", "supplier", "part",
            "partsupp", "nation", "region",
        )
    ],
    "clickbench": [("hits", "hits")],
    # Unique/Zipf lane (r11): same verbatim texts, hits re-derived with
    # geometric key frequencies + unique EventTime (see the hits_unique
    # definition) so rank-boundary-tied top-k texts cut deterministically.
    "clickbench_unique": [("hits", "hits_unique")],
    # Density lane (r12): same verbatim texts, hits 16x-replicated with
    # engineered group counts so the HAVING>100000 / OFFSET 100..10000
    # texts become reachable and tie-free (see the hits_dense definition).
    "clickbench_dense": [("hits", "hits_dense")],
}

# Suites whose query TEXTS live under another suite's directory and whose
# view keys are re-rendered rather than re-listed.
_SUITE_TEXT_DIR = {
    "tpcds_dense": "tpcds",
    "tpcds_exact": "tpcds",
    "tpcds_dense64": "tpcds",
    "tpcds_dense34": "tpcds",
    "tpch_exact": "tpch",
    "clickbench_unique": "clickbench",
    "clickbench_dense": "clickbench",
}


def _suite_defs(engine: str, base, suite: str) -> dict[str, str]:
    defs = view_definitions(engine, base, tpch_exact=suite == "tpch_exact")
    if suite == "tpcds_dense":
        defs.update(_tpcds_view_definitions(engine, base, dense=True))
    elif suite == "tpcds_exact":
        defs.update(_tpcds_view_definitions(engine, base, exact=True))
    elif suite == "tpcds_dense64":
        defs.update(_tpcds_view_definitions(engine, base, dense64=True))
    elif suite == "tpcds_dense34":
        defs.update(_tpcds_view_definitions(engine, base, dense34=True))
    return defs


def register_spark_views(spark: SparkSession, sf_dir: str, suite: str) -> None:
    """Register the suite's schema-mapped views over the driver tables.

    Bases are re-registered under ``lit_base_*`` names so padded views can
    take the bare names. Overriding the bare TPC-H names is safe: every
    engine-native query path re-registers its views through
    ``tables.load_tables``, which re-claims them from this suite.

    Idempotent per (session, sf_dir, suite): re-registering 24 views on
    every literal query call cost ~100 ms of DDL each — at 83 ``lit_*``
    registry entries x 4 bench executions that was minutes of pure view
    churn. ``claim_views`` skips the DDL only while (table key, suite)
    still owns the bare views; ``load_tables(register=True)`` claims them
    for its table key, which invalidates this owner too."""
    claim_views(
        spark,
        (*table_key(spark, sf_dir), suite),
        lambda: _register_suite_views(spark, sf_dir, suite),
    )


def _register_suite_views(spark: SparkSession, sf_dir: str, suite: str) -> None:
    tables = load_tables(spark, sf_dir, register=False)
    from .operators._util import _fan_out

    for name, df in tables.items():
        # Conditional fan-out of the DENSE lane's events base (r13, guide
        # §2.5 input skew): the bench fixtures are single-row-group parquet
        # files, so every scan is ONE task and the hits_dense derivation
        # (16x replication, staircase SQRT, LPAD/concat string columns, the
        # q28 regex input) ran single-core under local[32] — one narrow
        # round-robin shuffle of the column-pruned events rows buys full
        # parallelism for everything above it (measured: lit_cb_q28
        # 2.99 -> 0.41 s, q27 1.17 -> 0.33 s, q36/q37 0.78/0.75 -> ~0.47).
        # NOT applied to the other suites: their per-row derivations are
        # light, so the added exchange is pure overhead on ~30 sub-second
        # entries (measured ~+0.15 s each on the plain clickbench lane),
        # and the fact texts consume lineitem through 2-4 self-join
        # branches, re-running the exchange per branch (q24 1.50 -> 1.81,
        # q75 1.78 -> 2.10, tpch q9 1.24 -> 1.62 — losses, reverted). At
        # 100 TB the events scan yields thousands of splits and this is a
        # no-op (same conditional as every other _fan_out site — df IS the
        # stamped table frame, so the probe memoizes per (sf_dir, table)).
        if name == "events" and suite == "clickbench_dense":
            df = _fan_out(df, src=df)
        df.createOrReplaceTempView(_BASE_PREFIX + name)
    defs = _suite_defs("spark", lambda n: _BASE_PREFIX + n, suite)
    prior = spark.conf.get("spark.sql.ansi.doubleQuotedIdentifiers", None)
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    try:
        for name, def_key in SUITE_VIEWS[suite]:
            spark.sql(
                f'CREATE OR REPLACE TEMPORARY VIEW "{name}" AS {defs[def_key]}'
            )
    finally:
        # Restore the caller's prior value rather than unconditionally
        # unsetting (which would reset a session-global enable).
        if prior is None:
            spark.conf.unset("spark.sql.ansi.doubleQuotedIdentifiers")
        else:
            spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", prior)


# Generated (non-parquet) tables DuckDB must see as TABLES, not views: its
# optimizer has no cardinality for a generate_series cross-join view and
# picks catastrophic join orders (q72 over the inventory VIEW: 545 s; over
# the same rows materialized: 0.4 s). Spark needs no equivalent — its
# size-estimated plans over the generated views are fine.
_DUCK_MATERIALIZED = {"inventory", "time_dim", "household_demographics"}


def register_duck_views(con, sf_dir: str, suite: str) -> None:
    def base(n: str) -> str:
        # Driver fixtures are single parquet FILES; Spark-written layouts
        # (the 10x scale-probe replica) are DIRECTORIES of part files —
        # DuckDB needs the explicit glob for those.
        path = f"{sf_dir.rstrip('/')}/{n}.parquet"
        if os.path.isdir(path) and not os.path.isfile(path):
            return f"read_parquet('{path}/*.parquet')"
        return f"read_parquet('{path}')"
    defs = _suite_defs("duck", base, suite)
    for name, key in SUITE_VIEWS[suite]:
        if name in _DUCK_MATERIALIZED:
            con.execute(f'CREATE OR REPLACE TEMP TABLE "{name}" AS {defs[key]}')
        else:
            con.execute(f'CREATE OR REPLACE VIEW "{name}" AS {defs[key]}')
    if suite.startswith("clickbench"):
        # Adaptation (documented, applied to both engines): q18/q42 call the
        # DataFusion-dialect to_timestamp_seconds(); register the equivalent
        # in each engine (DuckDB macro here, Spark SQL UDF in
        # run_literal_sql) rather than editing the query text.
        con.execute(
            "CREATE OR REPLACE MACRO to_timestamp_seconds(x) AS "
            "make_timestamp(CAST(x AS BIGINT) * 1000000)"
        )


# Matches every date-shaped quoted literal — q4 spells one bound as a bare
# string ('1993-07-01') and the other as date '1993-07-01'; both must shift
# together or the window silently widens.
_DATE_RE = re.compile(r"(')(\d{4})(-\d{2}-\d{2}')")
# Bare 4-digit YEAR literals (TPC-DS filters by integer d_year, often with
# arithmetic: `d_year = 2001+1`, `d_year IN (2001, 2001+1)`); the year-shift
# run rewrites every standalone 1990..2029 literal. Quoted zips ('24128'),
# month-seq literals (1200), and id bands (738+40) are outside the range or
# not 4-digit-year-shaped, so the blanket rewrite is safe for these texts.
_YEAR_RE = re.compile(r"\b(19[9]\d|20[0-2]\d)\b")
# d_month_seq literals ((year-1900)*12 + month-1: 1176 = 1998-01, 1200 =
# 2000-01, 1212 = 2001-01); a year shift of N must move these by 12*N or a
# text mixing d_year and d_month_seq predicates would straddle two
# different shifted periods. Every bare 1100..1299 literal in the 99 texts
# is a month_seq (audited; the one lookalike, zip '51200', is digit-
# adjacent so \b does not match).
_MONTH_SEQ_RE = re.compile(r"\b(1[12]\d\d)\b")
_CREATE_VIEW_RE = re.compile(r"^\s*create\s+view\b", re.IGNORECASE)


def load_literal_statements(
    suite: str, name: str, date_shift_years: int = 0, year_shift: int = 0
) -> list[str]:
    """Read a reference query text; strip comments; split on ';' (some
    texts are CREATE VIEW / SELECT / DROP VIEW scripts — q15).
    ``date_shift_years`` rewrites date literals forward (see module doc);
    ``year_shift`` additionally rewrites bare integer year literals — the
    TPC-DS analogue of the date shift (texts filtering d_year = 2002 are
    provably empty on the driver's 1995..2001-08 data; shifting by -1
    proves the VALUES on a populated selection). Both rewrites feed the
    text given to BOTH engines."""
    path = os.path.join(
        REFERENCE_QUERIES, _SUITE_TEXT_DIR.get(suite, suite), "queries",
        f"{name}.sql",
    )
    with open(path) as f:
        lines = [l for l in f.read().splitlines() if not l.lstrip().startswith("--")]
    text = "\n".join(lines)
    if date_shift_years:
        text = _DATE_RE.sub(
            lambda m: f"'{int(m.group(2)) + date_shift_years}{m.group(3)}",
            text,
        )
    if year_shift:
        text = _YEAR_RE.sub(lambda m: str(int(m.group(1)) + year_shift), text)
        text = _MONTH_SEQ_RE.sub(
            lambda m: str(int(m.group(1)) + 12 * year_shift), text
        )
    # None of the benchmark texts embed ';' inside string literals.
    return [s.strip() for s in text.split(";") if s.strip()]


def load_literal_text(
    suite: str, name: str, date_shift_years: int = 0, year_shift: int = 0
) -> str:
    """Single-statement convenience over load_literal_statements."""
    stmts = load_literal_statements(suite, name, date_shift_years, year_shift)
    assert len(stmts) == 1, f"{suite}/{name} is a multi-statement script"
    return stmts[0]


def run_literal_sql(
    spark: SparkSession,
    sf_dir: str,
    suite: str,
    name: str,
    date_shift_years: int = 0,
    year_shift: int = 0,
) -> DataFrame:
    """Execute one literal reference query text through spark.sql over the
    schema-mapped views; multi-statement scripts (q15's CREATE VIEW /
    SELECT / DROP VIEW) run in order, with ``create view`` rewritten to a
    temporary view (no persistent catalog in the session — the one
    statement-level adaptation). Returns the SELECT's (lazy) frame; Spark
    resolves views at spark.sql time, so the later DROP VIEW does not
    invalidate it."""
    register_spark_views(spark, sf_dir, suite)
    stmts = load_literal_statements(suite, name, date_shift_years, year_shift)
    # clickbench quotes column identifiers; tpcds quotes aliases (q50/q62's
    # "30 days" buckets) — both need identifier-style double quotes.
    quoted = suite in (
        "clickbench", "clickbench_unique", "clickbench_dense",
        "tpcds", "tpcds_dense", "tpcds_exact", "tpcds_dense64",
        "tpcds_dense34",
    )
    prior = spark.conf.get("spark.sql.ansi.doubleQuotedIdentifiers", None)
    if quoted:
        spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    try:
        result = None
        for stmt in stmts:
            stmt_sp = _CREATE_VIEW_RE.sub("CREATE OR REPLACE TEMPORARY VIEW", stmt)
            if suite.startswith("clickbench"):
                # Per-engine spellings of two DataFusion tokens (same
                # adaptation contract as the date shift; DuckDB runs the
                # verbatim text via its own backreference dialect / macro):
                # - q28's REGEXP_REPLACE backreference: PG/DataFusion '\1'
                #   is Java-regex (Spark) '$1';
                # - q18/q42's to_timestamp_seconds() IS Spark's native
                #   timestamp_seconds() (a SQL-UDF shim trips a Spark 4
                #   resolver bug under extract(... FROM udf(...)) + ORDER
                #   BY COUNT(*), so spell-map the name instead).
                stmt_sp = stmt_sp.replace("'\\1')", "'$1')")
                stmt_sp = re.sub(
                    r"\bto_timestamp_seconds\s*\(",
                    "timestamp_seconds(",
                    stmt_sp,
                    flags=re.IGNORECASE,
                )
            df = spark.sql(stmt_sp)
            if stmt.lstrip().lower().startswith(("select", "with", "(")):
                result = df
        assert result is not None, f"{suite}/{name}: no SELECT statement"
        return result
    finally:
        if quoted:
            if prior is None:
                spark.conf.unset("spark.sql.ansi.doubleQuotedIdentifiers")
            else:
                spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", prior)


def run_literal_duck(
    con, suite: str, name: str, date_shift_years: int = 0, year_shift: int = 0
):
    """Execute the same statements through DuckDB; returns (columns, rows)
    of the SELECT, materialized before any trailing DROP VIEW runs."""
    cols = rows = None
    for stmt in load_literal_statements(suite, name, date_shift_years, year_shift):
        stmt_dk = _CREATE_VIEW_RE.sub("CREATE OR REPLACE VIEW", stmt)
        rel = con.sql(stmt_dk)
        if stmt.lstrip().lower().startswith(("select", "with", "(")):
            cols, rows = rel.columns, rel.fetchall()
    assert rows is not None, f"{suite}/{name}: no SELECT statement"
    return cols, rows
