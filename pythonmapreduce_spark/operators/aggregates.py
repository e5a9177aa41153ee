"""Aggregation operators: hash agg, distinct agg, having, rollup/cube/
grouping sets, approximate sketches.

The reference's only aggregate is the user reduce-fn applied per key with NO
partial aggregation — every (word, 1) pair individually crosses the network
(/root/reference/mapper_node.py:23-37 has no combine step; SURVEY §4.1).
Spark's HashAggregate(partial) → Exchange → HashAggregate(final) is the
single biggest structural win at scale: only (group, partial-state) rows
shuffle, not input rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.operators.quantiles import weighted_quantiles
from pythonmapreduce_spark.plans.registry import register


@register(
    "agg_basic",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                           AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)        AS sum_disc_price,
           CAST(ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6)
                               AS DECIMAL(28,6))), 2) AS DOUBLE)    AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                           AS avg_price,
           ROUND(AVG(l_discount), 4)                                AS avg_disc,
           COUNT(*)                                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the canonical wide hash aggregate (8 aggs, 2 group keys).

    Float policy (cross-engine hash stability): disc_price has exactly 4
    true decimals (2dp price × 2dp discount) so ROUND(sum, 4) is exact on
    both engines; charge has 6 true decimals and large sums, so it goes
    through an exact DECIMAL accumulation (round-half drift on doubles is
    otherwise possible at the cent boundary).
    """
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(F.round(charge, 6).cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # returnflag × linestatus: at most 6 rows, sorted in one task
        .coalesce(1)
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*)                  AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (planned as a two-phase expand+agg by Catalyst)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_having",
    oracle="""
    SELECT l_partkey, ROUND(SUM(l_quantity), 2) AS total_qty,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_partkey
    HAVING SUM(l_quantity) > 150
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .where(F.col("_raw_qty") > 150)
        .drop("_raw_qty")
    )


# GROUPING-SETS family. DuckDB and Spark both emit NULL for the rolled-up
# dimension and support GROUPING() — we include grouping IDs so subtotal rows
# are unambiguous in the order-insensitive hash.


@register(
    "rollup_op",
    oracle="""
    SELECT n_name, c_mktsegment,
           GROUPING(n_name)      AS g_nation,
           GROUPING(c_mktsegment) AS g_segment,
           ROUND(SUM(c_acctbal), 2) AS total_bal,
           COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
)
def rollup_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (nation, segment) → (nation) → ()."""
    joined = _customer_nation(spark, sf_dir)
    return joined.rollup("n_name", "c_mktsegment").agg(
        F.grouping("n_name").cast("long").alias("g_nation"),
        F.grouping("c_mktsegment").cast("long").alias("g_segment"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "cube_op",
    oracle="""
    SELECT n_name, c_mktsegment,
           GROUPING(n_name)      AS g_nation,
           GROUPING(c_mktsegment) AS g_segment,
           ROUND(SUM(c_acctbal), 2) AS total_bal,
           COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY CUBE (n_name, c_mktsegment)
    """,
)
def cube_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping combinations of (nation, segment)."""
    joined = _customer_nation(spark, sf_dir)
    return joined.cube("n_name", "c_mktsegment").agg(
        F.grouping("n_name").cast("long").alias("g_nation"),
        F.grouping("c_mktsegment").cast("long").alias("g_segment"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "grouping_sets",
    oracle="""
    SELECT n_name, c_mktsegment,
           GROUPING(n_name)      AS g_nation,
           GROUPING(c_mktsegment) AS g_segment,
           ROUND(SUM(c_acctbal), 2) AS total_bal,
           COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — via the SQL API (same Catalyst Expand plan)."""
    _customer_nation(spark, sf_dir).createOrReplaceTempView("_gs_cust_nation")
    return spark.sql(
        """
        SELECT n_name, c_mktsegment,
               CAST(GROUPING(n_name) AS BIGINT)       AS g_nation,
               CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_segment,
               ROUND(SUM(c_acctbal), 2) AS total_bal,
               COUNT(*) AS n_customers
        FROM _gs_cust_nation
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        """
    )


def _customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name", "c_mktsegment", "c_acctbal")


@register(
    "approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_ok
    FROM events GROUP BY event_type
    """,
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type, emitted as a
    driver-checkable error contract: (group, exact count, estimate within
    5% of exact). The estimate itself is engine-specific so it can't be
    value-compared; the CONTRACT can — the oracle recomputes the exact
    count and asserts hll_ok literally TRUE, so an HLL regression past
    5·rsd flips the Spark-side boolean and the compare goes red.

    The sketch is mergeable: partial HLL registers per partition, merged at
    the exchange — constant memory per group regardless of input size, the
    only sane distinct-count at 100 TB (where the exact twin computed here
    for calibration would be the thing you CAN'T run). rsd=0.01 ⇒ ~1%
    stddev; the 5% gate is 5σ.
    """
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").cast("long").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("hll_ok"),
        )
    )


@register(
    "percentile_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           ROUND(MAX(l_extendedprice), 2)                 AS p_max
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (≡ SQL quantile_cont),
    computed as a weighted quantile over the collapsed value distribution
    instead of Spark's ``percentile`` aggregate.

    Why not the built-in: ``percentile`` runs as ObjectHashAggregate whose
    per-group buffer holds EVERY value until finalization — executor
    memory bounds the approach at one group's row count x 8 bytes, and the
    exchange ships whole-group object buffers to one task per group (at
    sf0.1 that is ~200k values x 3 groups on 3 of 32 cores; at 100 TB a
    single group's buffer would be ~2 TB and cannot spill). The collapsed
    form is ks_statistic/auc_roc's discipline: one combine-enabled count
    per distinct (group, value) [shuffle width = |distinct|, not |rows|],
    a per-group running count over the sorted distinct values (window
    sort, which SPILLS via the external sorter instead of OOMing), and the
    quantile_cont selection cum >= floor/ceil(p*(n-1))+1 with linear
    interpolation — exact at any group size. approx_percentile (t-digest,
    mergeable, constant memory) remains the recommended 100 TB path; this
    exact twin is the oracle that calibrates that sketch's error.

    Round-12 decision (closes the two-level-exact-quantile question): a
    range-bucketed exact quantile (histogram pass to find each target
    bucket, then sort only within it) would parallelize the per-group
    running count beyond |groups| tasks — but it costs a second full
    pass over the distribution, and the ONLY consumer of exact
    quantiles at scale is sketch calibration, which runs on samples. In
    production the sketch IS the path (constant memory, mergeable,
    single pass); the exact twin exists to be trustworthy, not fast,
    and its window sort spills rather than OOMs. Not implemented, by
    decision.

    NULL semantics match the aggregate form: NULL values sort first with a
    zero running count, so they never satisfy the selection, n counts
    non-NULL only, and an all-NULL group yields NULL percentiles but still
    appears (p_max is NULL too, like MAX).
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    )
    q = weighted_quantiles(
        li,
        ["l_returnflag"],
        "v",
        {"p50_raw": 0.5, "p95_raw": 0.95},
        extra={"vmax": F.max("v")},
    )
    return q.select(
        "l_returnflag",
        F.round("p50_raw", 4).alias("p50"),
        F.round("p95_raw", 4).alias("p95"),
        F.round("vmax", 2).alias("p_max"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS qty_stddev,
           ROUND(VAR_SAMP(l_quantity), 4) AS qty_var,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS qty_price_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance.

    All four are single-pass partial-aggregatable (Welford-style moment
    merging), so they combine map-side like sum/count — no second scan.
    """
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
        )
    )


@register(
    "agg_minmax_by",
    oracle="""
    SELECT o_orderpriority,
           ARG_MAX(o_totalprice, o_orderkey) AS latest_price,
           ARG_MIN(o_totalprice, o_orderkey) AS first_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregates: the value at the extreme of another column.

    Anchored on the unique o_orderkey so the answer is deterministic (ties
    on a non-unique ordering column would make max_by engine-dependent).
    """
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.max_by("o_totalprice", "o_orderkey").alias("latest_price"),
            F.min_by("o_totalprice", "o_orderkey").alias("first_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register(
    "agg_collect",
    oracle="""
    SELECT o_custkey,
           ARRAY_TO_STRING(LIST(o_orderkey ORDER BY o_orderkey), ',') AS orderkeys,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_custkey <= 50
    GROUP BY o_custkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-array aggregate, sorted then serialized for comparison.

    collect_list order is partition-arrival order in Spark — an artifact,
    not a semantic — so the contract here is the SORTED list, emitted as a
    ','-joined string: array-typed result cells crash column-order-agnostic
    comparators (pandas sort_values can't factorize lists), so the
    compare-stable form is the string, exactly as inverted_index does
    (sources/text_corpus.py). Bounded to 50 customers: collected arrays are
    driver-memory-shaped, not a fact-table-scale construct.
    """
    return (
        load(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 50)
        .groupBy("o_custkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("o_orderkey")), ",").alias("orderkeys"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "approx_quantile",
    oracle="""
    SELECT l_returnflag,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via the mergeable quantile sketch, emitted
    as a driver-checkable rank-error contract.

    approx_percentile keeps a bounded sketch per partition and merges
    map-side — one narrow pass + tiny shuffle at ANY scale, versus the
    exact percentile's full sort per group; it is the only percentile
    that works at 100 TB. accuracy=10000 hard-bounds rank error at
    N/10000, so each estimate must lie between the exact interpolated
    quantiles at q∓0.002 (10× the guaranteed rank slack, so tie plateaus
    and interpolation can't flake it). The oracle asserts the three
    booleans literally TRUE per group; a sketch regression flips them.
    """
    qs = F.expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
    bounds = F.expr(
        "percentile(l_extendedprice,"
        " array(0.498, 0.502, 0.898, 0.902, 0.988, 0.992))"
    )
    agg = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(qs.alias("q"), bounds.alias("b"))
    )

    def ok(i: int) -> F.Column:
        return (F.col("q")[i] >= F.col("b")[2 * i]) & (
            F.col("q")[i] <= F.col("b")[2 * i + 1]
        )

    return agg.select(
        "l_returnflag",
        ok(0).alias("p50_ok"),
        ok(1).alias("p90_ok"),
        ok(2).alias("p99_ok"),
    )


@register(
    "agg_bool",
    oracle="""
    SELECT o_orderpriority,
           BOOL_AND(o_totalprice > 1000) AS all_over_1k,
           BOOL_OR(o_totalprice > 400000) AS any_jumbo,
           CAST(COUNT_IF(o_orderstatus = 'F') AS BIGINT) AS n_finished
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates: bool_and / bool_or / count_if."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_jumbo"),
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        )
    )


@register(
    "agg_stringagg",
    oracle="""
    SELECT n_regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_stringagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation with deterministic ordering, built from
    sort_array(collect_list) → array_join (ordering pinned, unlike bare
    collect_list whose order is partition arrival). Spark 4.0 added the
    SQL-standard native form — listagg WITHIN GROUP — registered
    separately as listagg_op; this composition remains the pre-4.0
    equivalent and pins that both produce identical results."""
    return (
        load(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations")
        )
    )


@register(
    "value_histogram",
    oracle="""
    SELECT CASE WHEN l_quantity < 0 THEN 0
                WHEN l_quantity >= 50 THEN 11
                ELSE CAST(FLOOR(l_quantity / 5) + 1 AS BIGINT) END AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(l_quantity), 2) AS lo,
           ROUND(MAX(l_quantity), 2) AS hi
    FROM lineitem
    GROUP BY bucket
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound equi-width histogram via the SQL-standard width_bucket.

    Fixed bounds (not data-dependent min/max) make this a single partial+
    final aggregate — one pass, no pre-scan for extrema, which is the only
    formulation that stays one-pass at 100 TB. 10 buckets over [0, 50).
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.width_bucket("l_quantity", F.lit(0), F.lit(50), F.lit(10)).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_quantity"), 2).alias("lo"),
            F.round(F.max("l_quantity"), 2).alias("hi"),
        )
    )


_BITMAP_ORACLE = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


@register("bitmap_distinct", oracle=_BITMAP_ORACLE)
def bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct count via Roaring-style bitmaps — the
    precise counterpart of hll_rollup, proven exact by the oracle's plain
    COUNT(DISTINCT).

    Pattern: ids are split into (bucket, bit-position) pairs
    (bitmap_bucket_number / bitmap_bit_position, 32k bits per bucket);
    fine-grain groups build per-bucket bitmaps ONCE with
    bitmap_construct_agg, every coarser rollup is bitmap_or_agg +
    bitmap_count — an algebraic merge that never re-touches raw data,
    unlike COUNT(DISTINCT) whose exact re-aggregation requires the
    original values. At 100 TB this is how per-hour uniques roll into
    per-day/per-month uniques exactly: OR-ing kilobyte bitmaps instead of
    re-shuffling the id universe. Cost scales with the id range per
    bucket, the reason HLL (hll_rollup) exists as the fixed-size
    approximate alternative.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.selectExpr(
            "event_type",
            "CAST(ts AS DATE) AS day",
            "bitmap_bucket_number(user_id) AS bkt",
            "bitmap_bit_position(user_id) AS pos",
        )
        .groupBy("event_type", "day", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    merged = (
        daily.groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("event_type")
        .agg(F.expr("CAST(SUM(bitmap_count(bm)) AS BIGINT)").alias("n_users"))
    )
    return merged


@register(
    "mode_per_group",
    oracle="""
    SELECT l_returnflag, l_quantity AS mode_qty, n
    FROM (
        SELECT l_returnflag, l_quantity, CAST(COUNT(*) AS BIGINT) AS n,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(*) DESC, l_quantity) AS rn
        FROM lineitem GROUP BY l_returnflag, l_quantity
    )
    WHERE rn = 1
    """,
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with an explicit deterministic tiebreak
    (smallest value wins among equally frequent).

    Built as count-then-rank rather than the engine ``mode()`` aggregate
    precisely BECAUSE of ties: engines resolve mode ties arbitrarily
    (Spark picks an arbitrary value, DuckDB another), which is exactly
    the kind of silent cross-engine divergence this registry pins down.
    Two partial-agg exchanges; the rank window runs on |groups × values|
    rows, not raw data.
    """
    counts = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.partitionBy("l_returnflag").orderBy(F.col("n").desc(), "l_quantity")
    return (
        counts.select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            "n",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag, l_extendedprice AS price, l_quantity AS wt,
               SUM(l_quantity) OVER (PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cum_wt,
               SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS total_wt
        FROM lineitem
    )
    SELECT l_returnflag,
           MIN(price) AS weighted_median
    FROM w
    WHERE cum_wt >= total_wt / 2
    GROUP BY l_returnflag
    """,
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the volume-
    weighted percentile no built-in percentile computes (engine
    percentiles weight every row equally; pricing/inventory analytics
    need "the price at which half the VOLUME clears").

    Sort each group once by (price, unique key), running-sum the weights,
    and the weighted median is the first price whose cumulative weight
    crosses half the group total. One window sort per group partition +
    one aggregate; the deterministic (price, orderkey, linenumber) sort
    key makes the crossing row identical across engines and
    partitionings.
    """
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_all = W.partitionBy("l_returnflag")
    flagged = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.sum("l_quantity").over(w_cum).alias("cum_wt"),
        F.sum("l_quantity").over(w_all).alias("total_wt"),
    )
    return (
        flagged.where(F.col("cum_wt") >= F.col("total_wt") / 2)
        .groupBy("l_returnflag")
        .agg(F.min("price").alias("weighted_median"))
    )


@register(
    "ols_fit",
    oracle="""
    SELECT l_returnflag,
           ROUND(COVAR_POP(l_extendedprice, l_quantity)
                 / VAR_POP(l_quantity), 4) + 0.0 AS slope,
           ROUND(AVG(l_extendedprice)
                 - COVAR_POP(l_extendedprice, l_quantity)
                   / VAR_POP(l_quantity) * AVG(l_quantity), 2) + 0.0
               AS intercept,
           ROUND(POWER(CORR(l_quantity, l_extendedprice), 2), 4) + 0.0 AS r2,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (price ~ quantity) in ONE
    aggregation pass: slope = cov(x,y)/var(x), intercept from the means,
    R² = corr² — the closed-form OLS that distributes as plain moment
    aggregates (partial sums of x, y, x², xy combine map-side), i.e.
    regression at 100 TB without any iterative solver or driver-side
    math.

    agg_stats exposes the raw moments; this is the fitted-model view a
    pricing/forecast pipeline actually consumes. Population (not sample)
    covariance/variance so the slope is the exact least-squares
    estimator on both engines.
    """
    slope = F.covar_pop("l_extendedprice", "l_quantity") / F.var_pop("l_quantity")
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            (F.round(slope, 4) + 0.0).alias("slope"),
            (
                F.round(
                    F.avg("l_extendedprice") - slope * F.avg("l_quantity"), 2
                )
                + 0.0
            ).alias("intercept"),
            (
                F.round(
                    F.pow(F.corr("l_quantity", "l_extendedprice"), 2), 4
                )
                + 0.0
            ).alias("r2"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


@register(
    "histogram_equidepth",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(o_totalprice, 0.25) AS q1,
               quantile_cont(o_totalprice, 0.50) AS q2,
               quantile_cont(o_totalprice, 0.75) AS q3
        FROM orders
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM (
        SELECT o_totalprice,
               CASE WHEN o_totalprice <  b.q1 THEN 0
                    WHEN o_totalprice <  b.q2 THEN 1
                    WHEN o_totalprice <  b.q3 THEN 2
                    ELSE 3 END AS bin
        FROM orders, b
    )
    GROUP BY bin
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: four quantile-bounded bins with their row
    counts and actual value ranges — the histogram optimizers and
    skew-aware partitioners actually use (value_histogram's equi-WIDTH
    bins tell you where values sit; equi-depth tells you where the ROWS
    sit, which is what balancing work across ranges needs).

    Exact quartile bounds come from one collapsed weighted-quantile pass
    (operators/quantiles.py — count per distinct value, spillable sorted
    cumsum, never a whole-table percentile buffer; 1 row broadcast
    back); bin assignment is a stateless CASE inside the second scan,
    then a 4-group partial+final count. Strict-< bin edges on both
    engines so boundary-valued rows land identically.
    """
    orders = load(spark, sf_dir, "orders")
    b = weighted_quantiles(
        orders, [], "o_totalprice", {"q1": 0.25, "q2": 0.50, "q3": 0.75}
    )
    binned = orders.crossJoin(F.broadcast(b)).select(
        "o_totalprice",
        F.when(F.col("o_totalprice") < F.col("q1"), 0)
        .when(F.col("o_totalprice") < F.col("q2"), 1)
        .when(F.col("o_totalprice") < F.col("q3"), 2)
        .otherwise(3)
        .alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "customer_pareto",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, SUM(o_totalprice) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT revenue,
               ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey) AS rnk,
               SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                   ROWS UNBOUNDED PRECEDING) AS cum_rev,
               SUM(revenue) OVER () AS total_rev,
               COUNT(*) OVER () AS n_cust
        FROM per_cust
    )
    SELECT threshold_pct,
           MIN(rnk) AS n_customers,
           ROUND(MIN(rnk) * 100.0 / MIN(n_cust), 2) + 0.0 AS pct_customers
    FROM (
        SELECT t.threshold_pct, r.rnk, r.n_cust
        FROM ranked r,
             (VALUES (50), (80), (95)) AS t(threshold_pct)
        WHERE r.cum_rev >= r.total_rev * t.threshold_pct / 100.0
    )
    GROUP BY threshold_pct
    """,
)
def customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 readout): how many of the
    highest-revenue customers it takes to cover 50 / 80 / 95 % of total
    revenue, absolute and as a share of the customer base — the Lorenz-
    curve crossing points account teams actually quote.

    Aggregate-then-window: orders collapse to |customers| rows before
    the descending revenue sort; the three thresholds are a 3-row
    broadcast joined against the cumulative curve and reduced with MIN —
    one |customers|-row window, three summary rows out. Deterministic
    (revenue, custkey) tiebreak pins equal-revenue orderings.
    """
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w_rank = W.orderBy(F.col("revenue").desc(), "o_custkey")
    w_cum = w_rank.rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy()
    ranked = per_cust.select(
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("revenue").over(w_cum).alias("cum_rev"),
        F.sum("revenue").over(w_all).alias("total_rev"),
        F.count(F.lit(1)).over(w_all).alias("n_cust"),
    )
    # One partition: the broadcast of thresholds runs one task, not nproc.
    thresholds = per_cust.sparkSession.createDataFrame(
        [(50,), (80,), (95,)], "threshold_pct int"
    ).coalesce(1)
    return (
        ranked.crossJoin(F.broadcast(thresholds))
        .where(
            F.col("cum_rev") >= F.col("total_rev") * F.col("threshold_pct") / 100.0
        )
        .groupBy("threshold_pct")
        .agg(
            F.min("rnk").alias("n_customers"),
            (F.round(F.min("rnk") * 100.0 / F.min("n_cust"), 2) + 0.0).alias(
                "pct_customers"
            ),
        )
    )


@register(
    "rate_wilson",
    oracle="""
    WITH per_type AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hits
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, hits,
           ROUND(hits * 1.0 / n, 4) + 0.0 AS rate,
           ROUND((hits * 1.0 / n + 1.92072944 / n
                  - 1.959964 * SQRT((hits * 1.0 / n) * (1 - hits * 1.0 / n) / n
                                    + 0.96036472 / (n * n)))
                 / (1 + 3.84145888 / n), 4) + 0.0 AS wilson_lo,
           ROUND((hits * 1.0 / n + 1.92072944 / n
                  + 1.959964 * SQRT((hits * 1.0 / n) * (1 - hits * 1.0 / n) / n
                                    + 0.96036472 / (n * n)))
                 / (1 + 3.84145888 / n), 4) + 0.0 AS wilson_hi
    FROM per_type
    """,
)
def rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group proportion with its Wilson 95% confidence interval —
    the monitoring statistic for rates on uneven sample sizes (a naive
    rate hides that 3/4 and 3000/4000 are very different evidence; the
    Wilson interval is the standard small-sample-safe band, z=1.959964).

    One partial+final aggregate to (n, hits) per group; the interval is
    scalar arithmetic on those two numbers. Constants are spelled as
    exact literals (z, z², z²/2, z²/4) so both engines evaluate the
    identical expression tree — no engine math beyond sqrt.
    """
    per_type = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("value") >= 100).cast("long")).cast("long").alias("hits"),
        )
    )
    p = F.col("hits") * 1.0 / F.col("n")
    z, z2 = 1.959964, 3.84145888
    half_z2, quarter_z2 = 1.92072944, 0.96036472
    denom = 1 + z2 / F.col("n")
    center = p + half_z2 / F.col("n")
    margin = z * F.sqrt(p * (1 - p) / F.col("n") + quarter_z2 / (F.col("n") * F.col("n")))
    return per_type.select(
        "event_type",
        "n",
        "hits",
        (F.round(p, 4) + 0.0).alias("rate"),
        (F.round((center - margin) / denom, 4) + 0.0).alias("wilson_lo"),
        (F.round((center + margin) / denom, 4) + 0.0).alias("wilson_hi"),
    )


@register(
    "gini_coefficient",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, SUM(o_totalprice) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT revenue,
               ROW_NUMBER() OVER (ORDER BY revenue, o_custkey) AS i,
               COUNT(*) OVER () AS n,
               SUM(revenue) OVER () AS total
        FROM per_cust
    )
    SELECT ROUND(2.0 * SUM(i * revenue) / (MIN(n) * MIN(total))
                 - (MIN(n) + 1.0) / MIN(n), 4) + 0.0 AS gini,
           CAST(MIN(n) AS BIGINT) AS n_customers
    FROM ranked
    """,
)
def gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the scalar inequality
    summary of the same Lorenz curve customer_pareto reads pointwise
    (0 = perfectly even book, →1 = one whale), via the rank formula
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending revenue.

    Orders collapse to |customers| rows first; one ascending window
    rank with a deterministic key tiebreak, then a single global
    aggregate — the whole statistic is two exchanges regardless of
    order volume.
    """
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w_rank = W.orderBy("revenue", "o_custkey")
    w_all = W.partitionBy()
    ranked = per_cust.select(
        "revenue",
        F.row_number().over(w_rank).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("revenue").over(w_all).alias("total"),
    )
    return ranked.agg(
        (
            F.round(
                2.0 * F.sum(F.col("i") * F.col("revenue"))
                / (F.min("n") * F.min("total"))
                - (F.min("n") + 1.0) / F.min("n"),
                4,
            )
            + 0.0
        ).alias("gini"),
        F.min("n").cast("long").alias("n_customers"),
    )


@register(
    "agg_filter_clause",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE l_quantity > 30) AS BIGINT) AS n_bulk,
           ROUND(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
               AS discounted_revenue,
           ROUND(AVG(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4)
               AS avg_qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard ``FILTER (WHERE ...)`` aggregate modifiers — several
    differently-filtered aggregates over ONE scan and ONE hash aggregate,
    the conditional-aggregation syntax that replaces CASE-WHEN pivoting
    (dow_hour_activity's form) with declared intent. Issued through
    ``spark.sql`` to exercise the parser path; Catalyst compiles each
    FILTER into the same conditional partial aggregate the CASE form
    produces — one pass either way, verified by the shared oracle.
    """
    from pythonmapreduce_spark.catalog import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER (WHERE l_quantity > 30) AS BIGINT) AS n_bulk,
               ROUND(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
                   AS discounted_revenue,
               ROUND(AVG(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4)
                   AS avg_qty_filled
        FROM lineitem GROUP BY l_returnflag
        """
    )


@register(
    "hll_intersect_est",
    oracle="""
    WITH a AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ),
    b AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT)
               AS n_exact_both,
           CAST(5.0 AS DOUBLE) AS err_bound_pct,
           TRUE AS est_ok
    """,
)
def hll_intersect_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set-algebra audience overlap: distinct users who BOTH clicked
    and purchased, estimated by inclusion-exclusion over mergeable
    sketches (|A and B| = est(A) + est(B) - est(A union B)) and emitted as
    a driver-checkable error contract against the exact intersection.

    Why it matters at 100 TB: sketches make set ALGEBRA algebraic — the
    per-segment sketches are built once in a single filtered-aggregate
    pass over events (FILTER-clause aggs, one partial+final HashAggregate,
    kilobytes per sketch), then any cross-segment overlap question is
    driver-side arithmetic on merged sketches, never a re-shuffle of the
    user-id universe. The exact side here (a user-key distinct + semi
    join) exists only to PIN the estimate; production asks the sketches.
    HLL estimates are engine-internal, so the emitted columns are the
    exact count and the contract verdict (|est - exact| within 5% of the
    exact UNION size, a bound inclusion-exclusion obeys when both input
    sketches hold their ~1.6% standard error at lgK=12) — the same
    contract pattern as ann_ivf_recall/hll_rollup.
    """
    ev = load(spark, sf_dir, "events")
    sketches = ev.agg(
        F.expr(
            "hll_sketch_estimate(hll_sketch_agg(user_id) "
            "FILTER (WHERE event_type = 'click'))"
        ).alias("est_a"),
        F.expr(
            "hll_sketch_estimate(hll_sketch_agg(user_id) "
            "FILTER (WHERE event_type = 'purchase'))"
        ).alias("est_b"),
        F.expr(
            "hll_sketch_estimate(hll_sketch_agg(user_id) "
            "FILTER (WHERE event_type IN ('click', 'purchase')))"
        ).alias("est_union"),
    )
    exact = (
        ev.where(
            F.col("event_type").isin("click", "purchase")
            & F.col("user_id").isNotNull()  # sketch side and oracle's
            # JOIN USING both exclude NULL users; the exact side must too
        )
        .groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("n_types"))
        .agg(
            F.sum((F.col("n_types") == 2).cast("long"))
            .cast("long")
            .alias("n_exact_both"),
            F.count(F.lit(1)).cast("long").alias("n_exact_union"),
        )
    )
    # two one-row aggregates; the cross join is a broadcast of one row
    return (
        exact.crossJoin(sketches)
        .select(
            "n_exact_both",
            F.lit(5.0).alias("err_bound_pct"),
            (
                F.abs(
                    (F.col("est_a") + F.col("est_b") - F.col("est_union"))
                    - F.col("n_exact_both")
                )
                <= F.col("n_exact_union") * 0.05
            ).alias("est_ok"),
        )
    )


@register(
    "chi2_independence",
    oracle="""
    WITH cont AS (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
               CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    cells AS (
        SELECT s.seg, n.nat, COALESCE(c.cnt, 0.0) AS cnt
        FROM (SELECT DISTINCT seg FROM cont) s
        CROSS JOIN (SELECT DISTINCT nat FROM cont) n
        LEFT JOIN cont c ON c.seg = s.seg AND c.nat = n.nat
    ),
    tot AS (
        SELECT seg, nat, cnt,
               SUM(cnt) OVER (PARTITION BY seg) AS rt,
               SUM(cnt) OVER (PARTITION BY nat) AS ct,
               SUM(cnt) OVER () AS n
        FROM cells
    )
    SELECT ROUND(SUM((cnt - rt * ct / n) * (cnt - rt * ct / n)
                     / (rt * ct / n)), 4) AS chi2,
           CAST((COUNT(DISTINCT seg) - 1) * (COUNT(DISTINCT nat) - 1)
                AS BIGINT) AS dof,
           CAST(MAX(n) AS BIGINT) AS n_obs
    FROM tot
    """,
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence over the market-segment x
    nation contingency table — the categorical counterpart of
    welch_ttest's numeric comparison (is the segment mix the same across
    nations, is a feature independent of the label, did an experiment's
    arm assignment skew by country).

    Scale shape: ONE combine-enabled pass over the 100 TB side builds the
    |segments| x |nations| contingency table, which its three consumers
    (the seg margin, the nat margin, and the cell join) read. Zero-count
    cells (which still contribute (0-E)^2/E = E to the statistic —
    dropping them understates chi2) are restored by crossing the two tiny
    margins; every window and the final sum run on the |r x c|-row table.
    The statistic, degrees of freedom, and N are closed-form double math,
    identical cross-engine at 4dp.
    """
    from pythonmapreduce_spark.plans.materialize import iter_materialize

    # Kept (c): lazy, the final plan scans customer 3x with no exchange reuse.
    cont = iter_materialize(
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat"))
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    from pyspark.sql import Window

    segs = cont.select("seg").distinct()
    nats = cont.select("nat").distinct()
    cells = (
        segs.crossJoin(nats)
        .join(cont, ["seg", "nat"], "left")
        .select("seg", "nat", F.coalesce("cnt", F.lit(0.0)).alias("cnt"))
    )
    by_seg, by_nat = Window.partitionBy("seg"), Window.partitionBy("nat")
    # cells is the full segs x nats grid, so a segment's non-null nats
    # are |nats| and a nation's non-null segs |segs|, as COUNT(DISTINCT)
    # counts them: dof comes from the margin windows, with no count_distinct
    # (whose Expand orders its groups per build). An empty grid counts 0.
    tot = cells.select(
        "seg",
        "nat",
        "cnt",
        F.sum("cnt").over(by_seg).alias("rt"),
        F.sum("cnt").over(by_nat).alias("ct"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
        F.count("nat").over(by_seg).alias("n_nat"),
        F.count("seg").over(by_nat).alias("n_seg"),
    )
    # A NULL key's grid row or column joins no count, so its expected
    # counts are 0: try_divide gives NULL, as the oracle's / does, not
    # ANSI's DIVIDE_BY_ZERO, and SUM skips it.
    e = F.try_divide(F.col("rt") * F.col("ct"), F.col("n"))
    d = F.col("cnt") - e
    n_segs, n_nats = (F.coalesce(F.max(c), F.lit(0)) for c in ("n_seg", "n_nat"))
    return tot.agg(
        F.round(F.sum(F.try_divide(d * d, e)), 4).alias("chi2"),
        ((n_segs - 1) * (n_nats - 1)).cast("long").alias("dof"),
        F.max("n").cast("long").alias("n_obs"),
    )


@register(
    "listagg_op",
    oracle="""
    SELECT n_regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
           STRING_AGG(DISTINCT SUBSTR(n_name, 1, 1), '' ORDER BY SUBSTR(n_name, 1, 1))
               AS initials
    FROM nation
    GROUP BY n_regionkey
    """,
)
def listagg_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ordered string aggregation — Spark 4.0's ``listagg(...)
    WITHIN GROUP (ORDER BY ...)`` (SQL:2016), including the DISTINCT
    form. agg_stringagg predates this function and builds the same result
    from sort_array(collect_list); this registers the first-class parser/
    aggregate path so users migrating warehouse SQL keep their syntax.
    The WITHIN GROUP ordering is the load-bearing part: an unordered
    string_agg is partition-arrival-ordered and non-deterministic at any
    scale.
    """
    from pythonmapreduce_spark.catalog import register_views

    register_views(spark, sf_dir, ["nation"])
    return spark.sql(
        """
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               listagg(DISTINCT SUBSTR(n_name, 1, 1), '')
                   WITHIN GROUP (ORDER BY SUBSTR(n_name, 1, 1)) AS initials
        FROM nation
        GROUP BY n_regionkey
        """
    )


@register(
    "regr_funcs",
    oracle="""
    SELECT l_returnflag,
           CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
           ROUND(REGR_AVGX(l_extendedprice, l_quantity), 4) AS avg_x,
           ROUND(REGR_AVGY(l_extendedprice, l_quantity), 4) AS avg_y
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def regr_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard linear-regression AGGREGATE family (regr_slope /
    regr_intercept / regr_r2 / regr_count / regr_avgx / regr_avgy) —
    one-pass moment-based OLS as built-ins on BOTH engines. ols_fit
    derives the same statistics from hand-rolled moment aggregates; this
    row certifies the engine-native family warehouse SQL actually calls.
    Like every moment aggregate here it partial-aggregates map-side: six
    regression statistics cost one partial+final HashAggregate, not six
    passes.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.expr("CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)").alias("n"),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4).alias(
            "intercept"
        ),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
        F.round(F.expr("regr_avgx(l_extendedprice, l_quantity)"), 4).alias("avg_x"),
        F.round(F.expr("regr_avgy(l_extendedprice, l_quantity)"), 4).alias("avg_y"),
    )


@register(
    "distinct_salted",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
    """,
)
def distinct_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof COUNT(DISTINCT) via two-level aggregation: distinct
    values of a HOT key are first counted per (key, salt) where salt =
    a hash of the VALUE (so each value lands in exactly one salt bucket
    and bucket distincts are disjoint), then the per-bucket counts sum.
    Result is provably identical to plain COUNT(DISTINCT) — which is the
    oracle — but no single task ever holds a hot key's full value set:
    the classic rewrite for the one aggregation shape partial-aggregation
    does NOT save (a distinct agg must see all values of a key in one
    place; with 10^9 users on one key that task OOMs; 16-way salting
    bounds it at 1/16th, and the second stage sums 16 tiny rows).

    The exact companion counter (n_events) rides the first stage for
    free, partial-aggregated as usual.
    """
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    salted = ev.groupBy(
        "event_type",
        F.pmod(F.xxhash64("user_id"), F.lit(16)).alias("salt"),
    ).agg(
        F.count_distinct("user_id").alias("nd"),
        F.count(F.lit(1)).alias("nr"),
    )
    return salted.groupBy("event_type").agg(
        F.sum("nd").cast("long").alias("n_users"),
        F.sum("nr").cast("long").alias("n_events"),
    )


@register(
    "share_of_parent",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               ROUND(SUM(o.o_totalprice), 2) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY region), 4)
               AS share_of_region,
           ROUND(SUM(revenue) OVER (PARTITION BY region)
                 / SUM(revenue) OVER (), 4) AS region_share_of_total
    FROM rev
    """,
)
def share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent: each nation's share of ITS region's
    revenue, and each region's share of the grand total — the two-level
    drill-down readout every BI hierarchy renders (share_of_total is the
    single-level case). Same aggregate-then-window policy: the orders
    fact aggregates down to |nations| rows through broadcast dims, and
    BOTH share windows run on that tiny table — the region partition
    window and the unpartitioned total window cost nothing there,
    while computing shares before aggregating would window the raw fact.
    """
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", F.col("n_name").alias("nation")
    )
    region = load(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region")
    )
    rev = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("region", "nation")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    wreg = Window.partitionBy("region")
    wall = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(wreg), 4).alias(
            "share_of_region"
        ),
        F.round(F.sum("revenue").over(wreg) / F.sum("revenue").over(wall), 4).alias(
            "region_share_of_total"
        ),
    )


@register(
    "corr_matrix",
    oracle="""
    SELECT 'l_quantity' AS var_a, 'l_extendedprice' AS var_b,
           ROUND(CORR(l_quantity, l_extendedprice), 6) + 0.0 AS r
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           ROUND(CORR(l_quantity, l_discount), 6) + 0.0 FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_tax',
           ROUND(CORR(l_quantity, l_tax), 6) + 0.0 FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           ROUND(CORR(l_extendedprice, l_discount), 6) + 0.0 FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_tax',
           ROUND(CORR(l_extendedprice, l_tax), 6) + 0.0 FROM lineitem
    UNION ALL
    SELECT 'l_discount', 'l_tax',
           ROUND(CORR(l_discount, l_tax), 6) + 0.0 FROM lineitem
    """,
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (upper triangle) over four
    numeric measures in ONE aggregation pass — the first-look EDA screen
    for collinear features before any modeling. All k(k-1)/2
    correlations ride a single partial+final HashAggregate (each CORR is
    five moment partials; the pass costs one scan regardless of k), not
    k²/2 separate jobs — the multi-statistic twin of regr_funcs' policy.
    Emitted long-form (var_a, var_b, r), the shape a heatmap consumes;
    the `+ 0.0` normalizes the IEEE -0.0 a rounded near-zero correlation
    can produce on one engine and not the other (registry docstring
    rule).
    """
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"),
        ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"),
        ("l_discount", "l_tax"),
    ]
    wide = li.agg(
        *[
            (F.round(F.corr(a, b), 6) + 0.0).alias(f"r_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stacked = ", ".join(
        f"'{a}', '{b}', r_{i}" for i, (a, b) in enumerate(pairs)
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stacked}) AS (var_a, var_b, r)"
    )
