"""Classic TPC-H query patterns, submitted through the SQL entry point.

Adapted to the fixture schema (FIXTURES.md keeps a subset of TPC-H's
columns). These are the canonical decision-support shapes — a filter-only
aggregate (Q6), a left-join distribution (Q13), and a having-subquery join
(Q18) — run as SQL text over the registered views so the parser/analyzer/
optimizer path carries real benchmark queries, not just DataFrame calls.

The reference cannot express any of these (no joins, no aggregates beyond
user reduce fns — SURVEY §2.2); they exist here as the north-star OLAP
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pythonmapreduce_spark.catalog import register_views
from pythonmapreduce_spark.plans.registry import register

_Q6 = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

# one row per distinct order count (about 20): sorted in one task
_Q13 = """
SELECT /*+ COALESCE(1) */ c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_totalprice,
       SUM(l_quantity) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
"""


@register("tpch_q6", oracle=_Q6)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-row filter aggregate — the pushdown showcase.

    All four predicates reach the parquet scan (row-group statistics prune
    whole chunks); no shuffle at all until the final 1-row combine.
    """
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_Q6)


@register("tpch_q13", oracle=_Q13)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution.

    Left join with a join-side predicate (customers with zero qualifying
    orders must count as c_count = 0), then a second aggregation over the
    first — two shuffles, both on low-cardinality keys.
    """
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_Q13)


@register("tpch_q18", oracle=_Q18)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders (HAVING subquery + 3-way join).

    Catalyst rewrites the IN-subquery to a left-semi join against the
    having-filtered aggregate — lineitem is scanned twice but shuffled on
    the same key both times, so AQE can reuse the exchange.
    """
    register_views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(_Q18)


# one row per order priority (5): sorted in one task
_Q4 = """
SELECT /*+ COALESCE(1) */ o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# one row per return flag (3): sorted in one task
_Q12 = """
SELECT /*+ COALESCE(1) */ l_returnflag AS shipmode,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                       OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
                      AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("tpch_q4", oracle=_Q4)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: order-priority checking (correlated EXISTS over lineitem).

    Catalyst decorrelates the EXISTS into a left-semi join on l_orderkey
    with the l_shipdate > o_orderdate residual inside it; the orders date
    filter reaches the parquet scan first. (Fixture schema keeps a subset
    of TPC-H columns; the shape is Q4's.)
    """
    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_Q4)


@register("tpch_q12", oracle=_Q12)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: shipping-priority distribution via conditional aggregates
    (the fixture schema has no l_shipmode; l_returnflag plays its role —
    the CASE-pivot aggregation shape is Q12's).
    """
    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_Q12)


# ---------------------------------------------------------------------------
# Round-2 pack: the remaining classic TPC-H optimizer shapes, adapted to the
# fixture subset schema (no partsupp — lineitem's (l_partkey, l_suppkey,
# price/qty) plays the supplier-offer role where needed; no l_commitdate —
# l_shipdate > o_orderdate plays the "late" role in Q21). Each query keeps
# the *optimizer shape* that makes the original interesting: correlated
# scalar-agg (Q2, Q17), region-constrained cyclic join (Q5), self-joined
# dimension (Q7), share-of-window two-level agg (Q8), multi-way profit
# rollup (Q9), group-then-topk (Q10), join-free ratio agg (Q14), CTE + MAX
# scalar subquery (Q15), NOT IN + distinct-agg (Q16), OR-of-ANDs DNF
# pushdown (Q19), EXISTS/NOT EXISTS anti-correlation (Q21), anti-join +
# scalar-avg filter (Q22).
# ---------------------------------------------------------------------------

_Q2 = """
WITH offers AS (
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
)
SELECT p_partkey, p_name, s_name, ROUND(o.unit_cost, 4) AS best_cost
FROM part
JOIN offers o ON p_partkey = o.l_partkey
JOIN supplier ON s_suppkey = o.l_suppkey
WHERE p_size <= 10
  AND o.unit_cost = (
      SELECT MIN(o2.unit_cost) FROM offers o2 WHERE o2.l_partkey = p_partkey
  )
ORDER BY p_partkey, s_name
"""

# one row per nation of one region (5): sorted in one task
_Q5 = """
SELECT /*+ COALESCE(1) */ n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, CAST(YEAR(l_shipdate) AS BIGINT)
"""

_Q8 = """
SELECT o_year,
       ROUND(SUM(CASE WHEN r_name = 'ASIA' THEN volume ELSE 0 END)
             / SUM(volume), 4) AS mkt_share
FROM (
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           r_name
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    JOIN part     ON l_partkey = p_partkey
    WHERE p_type = 'STANDARD'
) all_nations
GROUP BY o_year
"""

_Q9 = """
SELECT n_name, o_year, ROUND(SUM(amount), 4) AS sum_profit
FROM (
    SELECT n_name, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           l_extendedprice * (1 - l_discount)
             - p_retailprice * l_quantity * 0.1 AS amount
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%a%'
) profit
GROUP BY n_name, o_year
"""

_Q10 = """
SELECT c_custkey, c_name, n_name, ROUND(c_acctbal, 2) AS acctbal,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

_Q14 = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-12-01'
"""

_Q15 = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-07-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
"""

_Q17 = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
      SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = p_partkey
  )
"""

_Q19 = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""

_Q21 = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      JOIN orders o2 ON o2.o_orderkey = l3.l_orderkey
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o2.o_orderdate
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""

_Q22 = """
SELECT n_name AS cntry, COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0
)
  AND NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey
  )
GROUP BY n_name
"""


@register("tpch_q2", oracle=_Q2)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part.

    The fixture schema has no partsupp, so the supplier-offer relation is
    derived from lineitem (min unit price per (part, supplier)). The
    interesting part survives intact: a correlated scalar-MIN subquery over
    the same derived relation, which Catalyst decorrelates into an
    aggregate + join rather than a per-row re-scan. The offers CTE is
    evaluated twice (once per side) but shuffles on the same l_partkey both
    times, so AQE reuses the exchange.
    """
    register_views(spark, sf_dir, ["part", "supplier", "lineitem"])
    return spark.sql(_Q2)


@register("tpch_q5", oracle=_Q5)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: local-supplier volume — the cyclic-join showcase.

    The c_nationkey = s_nationkey residual closes a cycle in the join
    graph (customer-orders-lineitem-supplier-nation), so the optimizer
    must pick an order that keeps the big fact tables from re-shuffling;
    nation/region broadcast below the autoBroadcast threshold.
    """
    register_views(
        spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"]
    )
    return spark.sql(_Q5)


@register("tpch_q7", oracle=_Q7)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: volume shipping between distinct nation pairs.

    nation joins twice under different roles (supplier side, customer
    side) — alias-resolution plus two independent broadcasts of the same
    25-row dim; the <> predicate is applied after both are attached.
    """
    register_views(spark, sf_dir, ["supplier", "lineitem", "orders", "customer", "nation"])
    return spark.sql(_Q7)


@register("tpch_q8", oracle=_Q8)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: market share — a ratio of conditional aggregates.

    Five-way star join feeding a single GROUP BY with a CASE-guarded
    numerator; one shuffle on o_year at the top, everything below is
    broadcast dims against the lineitem spine.
    """
    register_views(
        spark, sf_dir, ["lineitem", "orders", "supplier", "nation", "region", "part"]
    )
    return spark.sql(_Q8)


@register("tpch_q9", oracle=_Q9)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: product-type profit by nation and year.

    p_retailprice * quantity stands in for ps_supplycost (no partsupp in
    the fixture schema); the LIKE filter prunes part before the fact join,
    and the profit expression is computed pre-shuffle so only (nation,
    year, amount) crosses the exchange.
    """
    register_views(spark, sf_dir, ["part", "lineitem", "supplier", "orders", "nation"])
    return spark.sql(_Q9)


@register("tpch_q10", oracle=_Q10)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item reporting, top 20 customers by lost revenue.

    Group-then-topk: the ORDER BY ... LIMIT on the rounded aggregate
    becomes TakeOrderedAndProject above the final HashAggregate — only 20
    rows ever reach the driver. Ranking on the rounded alias keeps the
    cross-engine order deterministic (c_custkey tiebreak).
    """
    register_views(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    return spark.sql(_Q10)


@register("tpch_q14", oracle=_Q14)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion revenue ratio — two aggregates in one pass.

    Both SUMs share a single scan+join; the date filter reaches the
    lineitem parquet scan, and part broadcasts.
    """
    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_Q14)


@register("tpch_q15", oracle=_Q15)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier by revenue (CTE + scalar MAX subquery).

    The revenue CTE feeds both the join and the MAX; rounding the per-
    supplier totals to 2dp BEFORE the max-equality comparison makes the
    tie test stable across engines (raw double sums can differ in the last
    ulp between summation orders).
    """
    register_views(spark, sf_dir, ["supplier", "lineitem"])
    return spark.sql(_Q15)


@register("tpch_q16", oracle=_Q16)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: supplier count by part attributes, excluding flagged
    suppliers (NOT IN on a not-null key → null-safe anti join) with a
    COUNT(DISTINCT) on top."""
    register_views(spark, sf_dir, ["part", "lineitem", "supplier"])
    return spark.sql(_Q16)


@register("tpch_q17", oracle=_Q17)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: small-quantity-order revenue.

    The correlated AVG-per-part subquery decorrelates into a groupBy on
    l_partkey joined back to the filtered fact — one extra shuffle of
    (partkey, avg) instead of a per-row re-scan.
    """
    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_Q17)


@register("tpch_q19", oracle=_Q19)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive brand/size/quantity predicates.

    The OR-of-ANDs can't be pushed as a whole, but its common sub-
    predicates (p_size lower bounds, l_quantity range hull) are extracted
    and pushed to both scans; the rest evaluates post-join in one codegen
    stage.
    """
    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_Q19)


@register("tpch_q21", oracle=_Q21)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the sole late shipper.

    l_shipdate > o_orderdate plays the late role (no l_commitdate /
    l_receiptdate in the fixture schema). EXISTS becomes a left-semi and
    NOT EXISTS a left-anti join against the same lineitem-orders spine —
    three scans of lineitem, all shuffled on l_orderkey so the exchanges
    line up.
    """
    register_views(spark, sf_dir, ["supplier", "lineitem", "orders"])
    return spark.sql(_Q21)


@register("tpch_q22", oracle=_Q22)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: high-balance customers who never ordered.

    The uncorrelated AVG scalar computes once and broadcasts as a literal
    filter; NOT EXISTS lowers to a left-anti join against orders' custkey
    projection (2 columns scanned, not the whole orders table).
    """
    register_views(spark, sf_dir, ["customer", "nation", "orders"])
    return spark.sql(_Q22)


_Q3 = """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

_Q11 = """
WITH partvalue AS (
    SELECT l_partkey, SUM(l_extendedprice * l_quantity) AS val
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE s_nationkey < 13
    GROUP BY l_partkey
)
SELECT l_partkey AS ps_partkey, ROUND(val, 2) AS part_value
FROM partvalue
WHERE val > (SELECT AVG(val) * 1.5 FROM partvalue)
"""

_Q20 = """
SELECT s_name, ROUND(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'large%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(l_quantity) > 55
)
ORDER BY s_name
"""


@register("tpch_q3", oracle=_Q3)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: shipping-priority top-10 (o_orderpriority stands in for
    the fixture's missing o_shippriority).

    Both date predicates push to their scans before the joins; the top-10
    lowers to TakeOrderedAndProject (per-partition heap + driver merge of
    10×P rows, never a full sort). Ranking on the ROUNDED revenue with
    l_orderkey tiebreak keeps the LIMIT boundary deterministic across
    engines — the same policy the kNN tier uses for its rank-k edge.
    """
    register_views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(_Q3)


@register("tpch_q11", oracle=_Q11)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose derived stock value exceeds a fraction
    of the national total (lineitem×supplier stands in for partsupp, as in
    tpch_q2 — the fixture has no partsupp table).

    The interesting plan property survives the adaptation: the same
    aggregate CTE feeds both the row stream and the uncorrelated scalar
    total, so the partvalue shuffle is computed once and the scalar side
    reduces it to a single literal broadcast into the filter — not a
    re-scan of lineitem.
    """
    register_views(spark, sf_dir, ["lineitem", "supplier"])
    return spark.sql(_Q11)


@register("tpch_q20", oracle=_Q20)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers with excess movement in one part family
    (shipped-quantity-per-(supplier, part) stands in for partsupp
    availability).

    A two-level reduction inside an IN-subquery: the inner GROUP BY
    (l_suppkey, l_partkey) + HAVING prunes to qualifying pairs, then the
    IN collapses to a distinct l_suppkey semi-join against the 10-row
    supplier dim — supplier broadcasts, lineitem never shuffles twice.
    The p_name LIKE prefix pushes to the part scan as a range predicate.
    """
    register_views(spark, sf_dir, ["supplier", "lineitem", "part"])
    return spark.sql(_Q20)
