"""Join operators.

The reference has NO join operator of any kind (SURVEY §2.2: the fixed
``{job_id}_input`` wiring at /root/reference/master.py:33 cannot express two
map stages meeting on a key). This module supplies the full join surface the
new engine declares: inner/left/semi/anti, broadcast dim joins, non-equi
range joins, and the multi-way star join that is the engine's flagship path.

Scale notes (100 TB):
- Fact⋈fact joins (lineitem⋈orders) shuffle on the join key — both sides
  hash-partitioned by Catalyst; AQE handles skew splitting.
- Dim joins (nation/region, fixed cardinality) are ALWAYS broadcast — an
  explicit ``F.broadcast`` hint so the plan never degrades to a shuffle even
  if stats are missing.
- The range join is banded: each side is bucketed by price band so the
  theta-join becomes an equi-join on band + residual filter, avoiding the
  O(n²) nested-loop cross product (same trick as banded as-of joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.registry import register

# Date window used by the star-join queries (within orders' 1995..2001 span).
_STAR_LO = "1996-01-01"
_STAR_HI = "1998-01-01"


def star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q5-style star join over the full fact chain.

    lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region, date-filtered, revenue
    per (region, nation), sorted. Exercises scan+pushdown, two shuffle
    joins, two broadcast joins, partial aggregation, sort, in one plan.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(_STAR_LO)) & (F.col("o_orderdate") < F.lit(_STAR_HI))
    )
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")

    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .join(customer, F.col("o_custkey") == F.col("c_custkey"), "inner")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"), "inner")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"), "inner")
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        # one row per nation: at most 25 rows, sorted in one task
        .coalesce(1)
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


register(
    "join_star",
    oracle=f"""
    SELECT r_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '{_STAR_LO}'
      AND o_orderdate <  TIMESTAMP '{_STAR_HI}'
    GROUP BY r_name, n_name
    ORDER BY revenue DESC, n_name
    """,
)(star_join)


@register(
    "join_inner",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 150000
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain equi inner join (orders ⋈ customer) with a pushed-down filter."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000)
    customer = load(spark, sf_dir, "customer")
    return orders.join(customer, F.col("o_custkey") == F.col("c_custkey"), "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_left",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 200000
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a join-side predicate (nulls preserved)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (F.col("o_totalprice") > 200000)
    return customer.join(orders, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one urgent order."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no large (>400k) orders."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "join_broadcast",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(dim chain): supplier+nation broadcast to lineitem.

    At 100 TB, lineitem never shuffles here — both dims replicate to every
    executor; the aggregation does a map-side partial before its exchange.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    dim = supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"), "inner")
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 4).alias("revenue"))
    )


@register(
    "join_range",
    oracle="""
    SELECT p1.p_partkey AS k1, p2.p_partkey AS k2,
           p1.p_retailprice AS price1, p2.p_retailprice AS price2
    FROM part p1 JOIN part p2
      ON p1.p_partkey <> p2.p_partkey
     AND p1.p_retailprice BETWEEN p2.p_retailprice AND p2.p_retailprice * 1.01
    WHERE p1.p_partkey <= 100 AND p2.p_partkey <= 100
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join: parts within +1% of another part's price.

    Implementation is BANDED, not nested-loop: each left row is assigned to
    the price bands its window can overlap, then an equi-join on band plus a
    residual filter. Equi-join ⇒ hash join ⇒ scales linearly with data per
    band instead of O(n²) — the standard interval-bucketing strategy for
    range joins at scale.
    """
    part = load(spark, sf_dir, "part").where(F.col("p_partkey") <= 100)
    band_width = 25.0  # ≥ max window width (1% of max retailprice ~ 21)

    p2 = part.select(
        F.col("p_partkey").alias("k2"),
        F.col("p_retailprice").alias("price2"),
        F.floor(F.col("p_retailprice") / band_width).cast("long").alias("band"),
    )
    # Left rows probe their own band and the next one (window spans ≤ 2 bands
    # because band_width ≥ window width).
    p1 = (
        part.select(
            F.col("p_partkey").alias("k1"),
            F.col("p_retailprice").alias("price1"),
            F.floor(F.col("p_retailprice") / band_width).cast("long").alias("b0"),
        )
        .withColumn("band", F.explode(F.array(F.col("b0") - 1, F.col("b0"))))
        .drop("b0")
    )
    return (
        p1.join(p2, "band", "inner")
        .where(
            (F.col("k1") != F.col("k2"))
            & (F.col("price1") >= F.col("price2"))
            & (F.col("price1") <= F.col("price2") * 1.01)
        )
        .select("k1", "k2", "price1", "price2")
    )


@register(
    "subquery_in",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    )
    """,
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery, decorrelated to a left-semi join (what Catalyst's
    RewritePredicateSubquery produces for SQL IN as well)."""
    orders = load(spark, sf_dir, "orders")
    top_cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    return orders.join(
        top_cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate: orders 50% above the mean price.

    Decorrelated form: the scalar aggregate is computed once and joined as
    a 1-row broadcast (what Catalyst produces for the SQL form as well) —
    no per-row recomputation.
    """
    orders = load(spark, sf_dir, "orders")
    threshold = orders.agg((F.avg("o_totalprice") * 1.5).alias("thr"))
    return (
        orders.join(F.broadcast(threshold))
        .where(F.col("o_totalprice") > F.col("thr"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "join_salted",
    oracle="""
    SELECT l_orderkey, l_extendedprice, o_orderpriority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join, result-identical to the plain join.

    The fact side appends a random-free deterministic salt (hash of its
    row identity mod N) to the key; the dimension side explodes each row N
    ways. A hot key's rows then spread over N shuffle partitions instead of
    one straggler. This is the manual fallback where AQE skew-join can't
    see the skew (e.g. pre-shuffle aggregation absent); the oracle proves
    salting never changes results.
    """
    n_salt = 8
    lineitem = load(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salt))
    )
    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        lineitem["salt"] == orders["salt"]
    )
    return lineitem.join(orders, cond, "inner").select(
        "l_orderkey", "l_extendedprice", "o_orderpriority"
    )


@register(
    "join_full",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer FULL JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 300000
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: unmatched rows of BOTH sides survive with nulls.

    Orders below the price threshold fail the join condition and come back
    customer-less; customers with no qualifying order come back order-less.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (F.col("o_totalprice") > 300000)
    return customer.join(orders, cond, "full").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two fixed-cardinality dims (5 × 25 rows).

    Cross joins only belong on provably tiny inputs; Spark plans this as
    BroadcastNestedLoopJoin. Anything fact-sized must be banded/bucketed
    first (see join_range) — an unbounded cross join at 100 TB is a bug.
    """
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    return region.crossJoin(F.broadcast(nation)).select("r_name", "n_name")


@register(
    "join_null_safe",
    oracle="""
    SELECT c_custkey, n_name
    FROM (SELECT c_custkey,
                 CASE WHEN c_nationkey = 5 THEN NULL ELSE c_nationkey END AS ck
          FROM customer) c
    JOIN (SELECT n_name,
                 CASE WHEN n_nationkey = 7 THEN NULL ELSE n_nationkey END AS nk
          FROM nation) n
      ON c.ck IS NOT DISTINCT FROM n.nk
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=>): NULL keys match each other.

    Keys are nulled asymmetrically (customer nation 5, nation 7) so the
    null-bucket match is observable: nation-5 customers land on nation 7.
    Null-safe equality stays a hash join (null is just another key value),
    unlike `a = b OR (a IS NULL AND b IS NULL)` which degrades to
    nested-loop.
    """
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_nationkey") == 5, None).otherwise(F.col("c_nationkey")).alias("ck"),
    )
    nation = load(spark, sf_dir, "nation").select(
        "n_name",
        F.when(F.col("n_nationkey") == 7, None).otherwise(F.col("n_nationkey")).alias("nk"),
    )
    return customer.join(
        F.broadcast(nation), F.col("ck").eqNullSafe(F.col("nk")), "inner"
    ).select("c_custkey", "n_name")


@register(
    "subquery_correlated",
    oracle="""
    SELECT c_custkey, c_name,
           (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
               AS max_order
    FROM customer
    WHERE c_acctbal > 8000
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, submitted through the SQL entry point.

    Written as SQL text (not DataFrame calls) to exercise the parser →
    analyzer → optimizer path end-to-end; Catalyst decorrelates the per-row
    subquery into a left outer aggregate-join (RewriteCorrelatedScalarQuery)
    — it never executes once per customer row.
    """
    from pythonmapreduce_spark.catalog import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
                   AS max_order
        FROM customer
        WHERE c_acctbal > 8000
        """
    )


@register(
    "subquery_exists",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL entry point.

    Catalyst's RewritePredicateSubquery turns this into a left-semi join on
    the correlation key with the extra predicate pushed below the join —
    the subquery never executes per outer row. (The reference's fixed
    two-stage pipeline cannot express any subquery — SURVEY §2.2.)
    """
    from pythonmapreduce_spark.catalog import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
        """
    )


@register(
    "subquery_not_exists",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_partkey = p_partkey AND l_quantity > 45
    )
    """,
)
def subquery_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS with a non-key predicate, as a left-anti join.

    The filter on the inner side (quantity > 45) runs BEFORE the anti join,
    so at scale the anti join's build side is the filtered subset, not the
    full fact table — same plan Catalyst produces for the SQL form.
    """
    part = load(spark, sf_dir, "part")
    heavy = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return part.join(
        heavy, F.col("p_partkey") == F.col("l_partkey"), "left_anti"
    ).select("p_partkey", "p_name", "p_retailprice")


@register(
    "merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_custkey AS c_custkey, ROUND(SUM(o_totalprice), 2) AS spend
        FROM orders GROUP BY o_custkey
        UNION ALL
        SELECT c_custkey + 1000000, 999.0 FROM customer WHERE c_custkey <= 5
    )
    SELECT COALESCE(b.c_custkey, u.c_custkey) AS c_custkey,
           COALESCE(b.c_name, 'inserted') AS c_name,
           ROUND(COALESCE(b.c_acctbal, 0) + COALESCE(u.spend, 0) * 0.001, 5)
               AS c_acctbal
    FROM customer b FULL OUTER JOIN updates u ON b.c_custkey = u.c_custkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: matched rows update,
    unmatched source rows insert, unmatched target rows carry over —
    expressed as one full outer join + coalesce projection.

    This is the engine-level kernel a Delta/Iceberg MERGE lowers to; on a
    lake table the same plan runs copy-on-write per touched file. The
    update set derives from orders (per-customer spend) plus synthetic
    insert keys so BOTH merge branches are exercised deterministically.
    """
    base = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    cust = load(spark, sf_dir, "customer")
    updates = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("u_key"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .unionByName(
            cust.where(F.col("c_custkey") <= 5).select(
                (F.col("c_custkey") + 1000000).alias("u_key"), F.lit(999.0).alias("spend")
            )
        )
    )
    return base.join(updates, F.col("c_custkey") == F.col("u_key"), "full_outer").select(
        F.coalesce("c_custkey", "u_key").alias("c_custkey"),
        F.coalesce("c_name", F.lit("inserted")).alias("c_name"),
        # 5 = the sum's TRUE decimal precision (4dp balance + 2dp spend
        # x 0.001); rounding below it lands on half boundaries where the
        # engines' rounding modes diverge
        F.round(
            F.coalesce("c_acctbal", F.lit(0.0)) + F.coalesce("spend", F.lit(0.0)) * 0.001, 5
        ).alias("c_acctbal"),
    )


_LATERAL = """
SELECT c_custkey, c_mktsegment, t.o_orderkey,
       ROUND(t.o_totalprice, 2) AS totalprice
FROM customer,
LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 2
) t
"""


@register("join_lateral", oracle=_LATERAL)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each customer's top-2 orders by price,
    written as a per-row subquery in the FROM clause.

    The point is what Catalyst does with it: a naive reading re-executes
    the subquery per outer row (the reference's only analog would be a
    full re-scan per record), but DecorrelateInnerQuery + the rank-limit
    rewrite turn this into one orders-side window (row_number ≤ 2 per
    custkey) joined back to customer — identical machinery to
    topk_per_group, arrived at from SQL instead of the DataFrame API.
    Same SQL text runs on DuckDB, which plans it the same way.
    """
    from pythonmapreduce_spark.catalog import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_LATERAL)


@register(
    "join_semi_reduction",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_acctbal, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 9000
    """,
)
def join_semi_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction: the fact side is pre-filtered by a broadcast of
    the selective dimension's DISTINCT JOIN KEYS before the wide shuffle
    join — the exact-filter form of the runtime Bloom-filter pushdown
    (Catalyst's InjectRuntimeFilter plants `bloom_filter_agg`/
    `might_contain` pairs for exactly this shape when the dim side exceeds
    broadcast size; tests/test_plans.py pins that injection separately).

    Why it matters at 100 TB: a wide dim (big payload columns) can exceed
    the broadcast threshold while its bare key set still fits in a few MB.
    Without reduction every fact row shuffles for the join and most die at
    the probe; with it, non-matching fact rows are dropped INSIDE the scan
    stage by the broadcast semi join (zero extra shuffle), so the expensive
    exchange moves only survivors — here ~13% of orders. The wide join is
    hinted shuffle-hash to model the dim-exceeds-broadcast regime; the
    result is provably identical to the plain join (the reduction is a
    superset filter), which is what the oracle checks.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)

    # Bare key set: narrow (one long per row) no matter how wide the dim is.
    keys = customer.select(F.col("c_custkey").alias("k")).distinct()
    reduced = orders.join(
        F.broadcast(keys), F.col("o_custkey") == F.col("k"), "left_semi"
    )
    return (
        reduced.join(
            customer.hint("shuffle_hash"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "o_totalprice", "c_name", "c_acctbal", "c_mktsegment")
    )


@register(
    "join_hint_merge",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderpriority
    """,
)
def join_hint_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit MERGE (sort-merge) join hint overriding the planner's
    broadcast choice — the escape hatch for the cases where the
    optimizer's size estimate is wrong in the DANGEROUS direction: a
    "small" dim that is small on disk but explodes decompressed, or a
    driver already at memory pressure where one more broadcast is the
    OOM. The hint pins the shuffle-based strategy; results are identical
    by definition (the oracle is the plain join), and
    tests/test_plans.py asserts the physical plan actually honored it —
    an unhonored hint is silent at runtime, which is exactly why the
    plan gate exists.
    """
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        customer.hint("merge"), F.col("o_custkey") == F.col("c_custkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count_distinct("c_mktsegment").cast("long").alias("n_segments"),
    )
