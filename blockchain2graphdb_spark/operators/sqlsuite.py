"""SQL API surface (SURVEY.md §3 lifecycle parity): the same Catalyst
plans are reachable through `spark.sql`, demonstrated with TPC-H-shaped
analytics adapted to the fixture schema. These are also the heavyweight
bench queries — multi-join, selective-filter, top-k shapes whose plans
must survive 100×.

Spark SQL and the DuckDB oracle share most of each query's text; the
money arithmetic goes through exact DECIMAL (see exact.py) so the
hash gate matches bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import TABLES, prep, table
from ..registry import query


# Last-registered view state per session (r16 optimization round):
# `createOrReplaceTempView` costs ~15 ms of py4j per table even warm,
# ×10 tables ×every SQL-suite builder call. catalog.table() is plan-
# memoized, so the tuple of plan serials captures everything that
# could change a view (sf_dir, fixture mtime/size, chaos spec) — when
# it matches what this session last registered, re-registering would
# bind the exact same plans and is skipped. Nothing else in the
# package (or tests) writes these view names.
_VIEWS_STATE: dict = {}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the fixture tables to spark.sql under their plain names."""
    from ..catalog import session_token

    dfs = {t: table(spark, sf_dir, t) for t in TABLES}
    # session_token, not id(spark): a recycled object id must never
    # skip registration for a fresh session (ADVICE r16)
    skey = (spark.sparkContext.applicationId, session_token(spark))
    state = tuple(df._b2g_plan_serial for df in dfs.values())
    # belt-and-braces sentinel (ADVICE r16): an external dropTempView
    # of ANY view would leave _VIEWS_STATE claiming the views exist
    # forever; one catalog existence probe per view is ~1 ms each
    if _VIEWS_STATE.get(skey) == state and all(
        spark.catalog.tableExists(t) for t in TABLES
    ):
        return
    for t, df in dfs.items():
        df.createOrReplaceTempView(t)
    _VIEWS_STATE[skey] = state


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    prep(spark)
    register_views(spark, sf_dir)
    return spark.sql(text)


_Q1 = """
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2)
            AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1", oracle=_Q1)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary — the scan→filter→wide-agg spine.

    sum_charge's precisions are deliberately TIGHT (12,2)x(4,2)x(4,2) ->
    DECIMAL(24,6): the r14 form's (18,2)-based triple product needed
    ideal precision 58 > 38, where the engines silently diverge —
    Spark truncates scale (stays exact), DuckDB promotes the product
    to DOUBLE (order-dependent float accumulation). First observed as
    a 1-ULP sum_charge mismatch at the synthesized sf1 decade (1.5M
    rows per group); invisible at sf<=0.1. The sum is then ROUND()ed
    to scale 2 before the double cast: ROUND is the one scale-reducer
    both engines agree on (probed: both half-away-from-zero, while
    CAST to a lower-scale DECIMAL truncates in DuckDB but rounds
    HALF_UP in Spark), and at scale 2 the integer value stays < 2^53
    so the decimal->double cast is exact in both engines at any
    audited scale (DuckDB's cast of scale-6 decimals above 2^53
    micro-units is not correctly rounded — measured 1 ULP at sf1)."""
    return _sql(spark, sf_dir, _Q1)


_Q3 = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("tpch_q3", oracle=_Q3)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: shipping priority — selective dim filter, two fact
    joins, top-k on an aggregate."""
    return _sql(spark, sf_dir, _Q3)


_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@query("tpch_q5", oracle=_Q5)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier volume — 6-way join with two
    broadcastable dims and a same-nation theta condition."""
    return _sql(spark, sf_dir, _Q5)


_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("tpch_q6", oracle=_Q6)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast revenue — pure pushdown filter + global agg."""
    return _sql(spark, sf_dir, _Q6)


_Q10 = """
SELECT c_custkey,
       c_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("tpch_q10", oracle=_Q10)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item reporting — fact joins + grouped
    top-k."""
    return _sql(spark, sf_dir, _Q10)


# Q2 adapted: the fixture set has no partsupp table, so the supplied-by
# relation is derived as DISTINCT (l_partkey, l_suppkey) from lineitem.
# Keeps Q2's defining feature — a correlated scalar subquery (best
# supplier per part) that Catalyst must decorrelate into an aggregate
# + self-join rather than executing per-row.
_Q2 = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, s_suppkey
FROM part
JOIN ps       ON p_partkey = ps.l_partkey
JOIN supplier ON s_suppkey = ps.l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND p_size = 15
  AND s_acctbal = (
    SELECT MAX(s2.s_acctbal)
    FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, p_partkey, s_suppkey
LIMIT 100
"""


# Spark-side form (r16 optimization round, guide §3.2 "reduce the big
# side before shuffling it"): the supplied-by CTE is pruned to the
# partkeys that can survive the p_size = 15 filter BEFORE the DISTINCT
# — both consumers of ps (the outer join and the decorrelated MAX
# subquery) are keyed on p_partkey of p_size-15 parts, so restricting
# ps to exactly those partkeys provably changes nothing, while the
# lineitem DISTINCT (the query's dominant shuffle at scale — at 100 TB
# p_size = 15 is ~1/50 of parts, so ~50x fewer distinct-shuffle bytes)
# shrinks by the filter's selectivity. Planned as a broadcast semi-join
# under the scan. The DuckDB oracle keeps the UNPRUNED original text,
# so the differential gate itself proves the rewrite's equivalence
# (verified identical at sf0.1 too; 0.85s -> 0.55s noop-sink at sf0.1).
_Q2_SPARK = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 15))
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, s_suppkey
FROM part
JOIN ps       ON p_partkey = ps.l_partkey
JOIN supplier ON s_suppkey = ps.l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND p_size = 15
  AND s_acctbal = (
    SELECT MAX(s2.s_acctbal)
    FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, p_partkey, s_suppkey
LIMIT 100
"""


@query("tpch_q2", oracle=_Q2)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier — correlated scalar subquery
    (decorrelated by Catalyst), two broadcast dims, top-k. Spark runs
    `_Q2_SPARK` (ps pruned by the part filter before the DISTINCT —
    see its comment for the equivalence argument); the oracle stays the
    original `_Q2`, so the hash gate checks the rewrite every round."""
    return _sql(spark, sf_dir, _Q2_SPARK)


# Q7 adapted: single-nation pairs are empty at sf0.001, so the
# bi-national volume query is widened to a region pair (ASIA suppliers
# shipping to EUROPE customers) — same 6-way join + year rollup shape.
_Q7 = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       YEAR(l_shipdate) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
WHERE r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'
GROUP BY n1.n_name, n2.n_name, YEAR(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7", oracle=_Q7)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: volume shipping between two regions — double
    nation/region dimension join (both broadcast) + calendar rollup."""
    return _sql(spark, sf_dir, _Q7)


_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("tpch_q13", oracle=_Q13)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution — outer join
    with an ON-clause residual predicate, then an aggregate of an
    aggregate (two shuffles, second one tiny)."""
    return _sql(spark, sf_dir, _Q13)


_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# Spark-side form (r16 optimization round, guide §2.4 "two operations
# keyed the same way can share one exchange"): the original text
# aggregates lineitem by l_orderkey TWICE — once in the HAVING
# subquery, once (after the semi-join) re-deriving the same per-order
# sum under the customer/order group keys. o_orderkey is the orders
# table's key (one row per order in every fixture and in TPC-H), so
# grouping by (c_name, c_custkey, o_orderkey, o_orderdate,
# o_totalprice) IS per-order grouping and the outer SUM equals the
# subquery's sq. Compute the per-order sum once, filter > 250 (a
# handful of orders), and broadcast-join orders + customer: one
# lineitem scan + one aggregation instead of two of each, and at scale
# the orders/customer side is probed by a tiny filtered build side.
# The DuckDB oracle keeps the original double-aggregation text, so the
# hash gate proves equivalence every round (verified identical at
# sf0.1; 1.6s -> 1.16s noop-sink).
_Q18_SPARK = """
WITH qty AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sq AS DOUBLE) AS sum_qty
FROM qty
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("tpch_q18", oracle=_Q18)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume customers — IN subquery with HAVING.
    Spark runs `_Q18_SPARK` (the HAVING aggregate reused as the output
    sum — see its comment for the equivalence argument, which rests on
    o_orderkey being the orders key); the oracle stays the original
    `_Q18` double-aggregation text, hash-gated every round."""
    return _sql(spark, sf_dir, _Q18_SPARK)


# Q22 adapted to the fixture schema (no c_phone, and every customer has
# at least one order): customers with above-average account balance and
# no URGENT orders — a scalar subquery gate plus a correlated NOT EXISTS
# (anti-join with a residual predicate). The average comparison is
# expressed as balance*count > total to stay in exact DECIMAL
# arithmetic across engines.
_Q22 = """
SELECT c_nationkey AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0.0)
      > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,2))) FROM customer c3 WHERE c3.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY cntrycode
"""


@query("tpch_q22", oracle=_Q22)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global-sales opportunity — scalar subquery
    threshold + correlated NOT EXISTS anti-join."""
    return _sql(spark, sf_dir, _Q22)


_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("tpch_q4", oracle=_Q4)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking — correlated EXISTS
    planned as a left-semi join against the filtered fact."""
    return _sql(spark, sf_dir, _Q4)


# Q14: promo revenue share. The ratio of two filtered DECIMAL sums is
# computed in DECIMAL and rounded to 6 on both engines.
_Q14 = """
SELECT CAST(ROUND(
         100.00 * SUM(CASE WHEN p_type = 'PROMO'
                           THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                           ELSE CAST(0 AS DECIMAL(18,2)) END)
         / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 6) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
"""


@query("tpch_q14", oracle=_Q14)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion effect — conditional aggregate ratio
    over a fact-dim join (dim broadcast)."""
    return _sql(spark, sf_dir, _Q14)


# Q16 adapted: supplied-by pairs derived from lineitem (no partsupp).
_Q16 = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 14, 23, 45, 9, 19, 36, 49)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("tpch_q16", oracle=_Q16)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: parts/supplier relationship — NOT IN anti-join
    plus grouped count-distinct over a derived relation."""
    return _sql(spark, sf_dir, _Q16)


# Q19: disjunction of conjunctive predicate blocks — the OR-of-ANDs
# must still push the shared join key and let Catalyst split the
# residual per-branch predicates.
_Q19 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
"""


@query("tpch_q19", oracle=_Q19)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue — disjunctive predicate
    blocks over a fact-dim join."""
    return _sql(spark, sf_dir, _Q19)


# Q17: small-quantity-order revenue — correlated aggregate subquery
# per part (avg quantity), the decorrelate-into-groupBy-then-join shape.
_Q17 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
       AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)
"""


@query("tpch_q17", oracle=_Q17)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity-order revenue — correlated AVG
    subquery decorrelated into a per-part aggregate + join. The
    l_quantity < avg comparison is engine-exact: the average is a
    double computed from the same doubles in both engines via a single
    partial/final sum (few values per part)."""
    return _sql(spark, sf_dir, _Q17)


# Q20 adapted (no partsupp): suppliers who shipped more than 50 units
# of PROMO parts — nested IN with HAVING over the fact table.
_Q20 = """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'PROMO'
  GROUP BY l_suppkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
ORDER BY s_name
"""


@query("tpch_q20", oracle=_Q20)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: potential part promotion — IN over a grouped
    HAVING fact aggregate, planned as aggregate → semi-join."""
    return _sql(spark, sf_dir, _Q20)


# Q21 adapted (no l_commitdate/l_receiptdate): "late" = shipped more
# than 60 days after the order date. Keeps Q21's defining plan shape —
# a fact row filtered by BOTH a correlated EXISTS (another supplier
# participated) and a correlated NOT EXISTS (no other supplier was
# late), i.e. one semi-join and one anti-join against the same fact.
_Q21 = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@query("tpch_q21", oracle=_Q21)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who kept orders waiting — correlated
    EXISTS (semi-join) and NOT EXISTS (anti-join) against the same fact
    table in one query."""
    return _sql(spark, sf_dir, _Q21)


# Q8: market share of one nation's suppliers inside one region's
# customer orders, by year — conditional-sum ratio over a 7-way join.
_Q8 = """
SELECT o_year,
       CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,2)) END)
                  / SUM(volume), 6) AS DOUBLE) AS mkt_share
FROM (
  SELECT YEAR(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@query("tpch_q8", oracle=_Q8)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — conditional-aggregate
    ratio over a 7-way join with double nation dimension."""
    return _sql(spark, sf_dir, _Q8)


# Q9 adapted (no partsupp): supply cost approximated by
# p_retailprice * l_quantity — same join tree and profit-by-
# nation-and-year rollup as the original.
_Q9 = """
SELECT nation, o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                - CAST(p_retailprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
         l_extendedprice, l_discount, p_retailprice, l_quantity
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@query("tpch_q9", oracle=_Q9)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit — LIKE-filtered dim join,
    profit expression, nation×year rollup."""
    return _sql(spark, sf_dir, _Q9)


# Q15: top supplier(s) by windowed revenue — scalar MAX subquery over a
# shared CTE; the revenue equality comparison stays in exact DECIMAL.
_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@query("tpch_q15", oracle=_Q15)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier — scalar MAX subquery against a
    shared aggregate CTE, equality on exact DECIMAL revenue."""
    return _sql(spark, sf_dir, _Q15)


# Q11 adapted (no partsupp): a part's "value" held by one nation's
# suppliers = revenue shipped by them; keep parts above a fixed
# fraction of the total — grouped aggregate filtered by a scalar
# subquery over the SAME aggregate (the shape that forces a reused
# subplan rather than a rescan). Exact DECIMAL throughout.
_Q11 = """
WITH val AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS v
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey)
SELECT l_partkey, CAST(v AS DOUBLE) AS value
FROM val
WHERE v > (SELECT CAST(0.01 AS DECIMAL(8,2)) * SUM(v) FROM val)
ORDER BY value DESC, l_partkey
"""


@query("tpch_q11", oracle=_Q11)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: important stock identification — grouped
    aggregate gated by a scalar fraction of its own total."""
    return _sql(spark, sf_dir, _Q11)
