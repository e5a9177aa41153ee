"""Scan / project / filter / distinct / set-ops / sort / top-k.

The reference can only express projection or filtering *inside* a user map
function, after the full dataset has already crossed the network twice
(SURVEY §2.2; /root/reference/master.py:27-40 always ships whole lines).
Here every one of these is declarative, so Catalyst pushes predicates and
projections into the parquet scan — at 100 TB the scan reads only the
row-groups and columns the query touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.registry import register


@register(
    "scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS revenue
    FROM lineitem
    """,
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + computed column; scan reads only the 5 needed columns."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4).alias("revenue"),
    )


@register(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE (l_quantity BETWEEN 10 AND 20 AND l_discount > 0.05)
       OR (l_returnflag IN ('R', 'A') AND l_quantity < 5)
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound AND/OR/BETWEEN/IN predicate, pushed to the parquet scan."""
    li = load(spark, sf_dir, "lineitem")
    cond = (
        (F.col("l_quantity").between(10, 20)) & (F.col("l_discount") > 0.05)
    ) | ((F.col("l_returnflag").isin("R", "A")) & (F.col("l_quantity") < 5))
    return li.where(cond).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"
    )


@register(
    "distinct_vals",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_vals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct on a low-cardinality column (partial-agg dedup before the
    exchange, so at scale only distinct values shuffle, not rows)."""
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


def _seg_keys(spark: SparkSession, sf_dir: str, segment: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == segment)
        .select("c_custkey")
    )


def _bal_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 5000)
        .select("c_custkey")
    )


@register(
    "union_all",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics — duplicates kept, no shuffle at all)."""
    return _seg_keys(spark, sf_dir, "BUILDING").unionAll(_bal_keys(spark, sf_dir))


@register(
    "intersect_op",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def intersect_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics; Catalyst plans it as an aggregate+semi-join)."""
    return _seg_keys(spark, sf_dir, "BUILDING").intersect(_bal_keys(spark, sf_dir))


@register(
    "except_op",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def except_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics → Spark ``exceptAll`` on distinct input)."""
    return _seg_keys(spark, sf_dir, "BUILDING").distinct().exceptAll(
        _bal_keys(spark, sf_dir).distinct()
    )


@register(
    "sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
    """,
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column global sort with a unique-key tiebreak.

    Global sorts range-partition (sample → range exchange → per-partition
    sort); at 100 TB this is the one operator where output partitioning is
    dictated by the sort, so it sits last in the plan. That is the rule for
    output that grows with sf, like this one. A final ORDER BY whose rows
    are bounded by a dimension domain (``agg_basic``'s ≤ 6 groups,
    ``join_star``'s 25 nations) sorts on one partition instead:
    ``.coalesce(1)`` right before ``.orderBy``, or ``/*+ COALESCE(1) */``
    in the outer SELECT of SQL text, plans no sampling job and no range
    exchange.
    """
    return (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy(
            F.col("o_orderpriority").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
    )


@register(
    "topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by price with deterministic tiebreak.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject: each partition
    keeps its local top-k and only k rows per partition reach the driver —
    no global sort, no full shuffle. This is the scalable top-k at 100 TB.
    """
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_custkey) AS rn
        FROM customer
    )
    WHERE rn % 10 = 1
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 1-in-10 sample: every stratum (market
    segment) keeps exactly ⌈n/10⌉ rows, systematically by key order.

    Random `sampleBy` gives binomial per-stratum counts and engine-specific
    RNG streams; the systematic form is reproducible everywhere — the
    property a training-data pipeline needs for auditable subsampling. One
    window sort per stratum, no shuffle beyond the partitionBy.
    """
    w = W.partitionBy("c_mktsegment").orderBy("c_custkey")
    return (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") % 10 == 1)
        .drop("rn")
    )


@register(
    "sort_nulls",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
    FROM customer
    ORDER BY bal DESC NULLS FIRST, c_custkey
    """,
)
def sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null placement in sort order (NULLS FIRST on DESC).

    Engines disagree on default null order (Spark: nulls last on DESC,
    DuckDB: nulls last too, but SQL dialects vary) — production sorts pin
    it explicitly. Negative balances are nulled to create the null bucket.
    """
    bal = F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal"))
    return (
        load(spark, sf_dir, "customer")
        .select("c_custkey", bal.alias("bal"))
        .orderBy(F.col("bal").desc_nulls_first(), F.col("c_custkey"))
    )


@register(
    "paginate",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-stable pagination: total order + OFFSET/LIMIT (page 3 of 20).

    Valid only over a TOTAL order (the o_orderkey tiebreak); at scale
    prefer keyset pagination (WHERE key > last_seen) — OFFSET must still
    sort-and-skip everything before the page.
    """
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(40)
        .limit(20)
    )


@register(
    "sample_weighted",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE (((o_orderkey % 2147483648) * 2654435761) % 4294967296) / 4294967296.0
          < o_totalprice / 600000.0
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional Bernoulli sample (probability ∝ o_totalprice),
    driven by the Knuth multiplicative hash of the stable row key instead
    of an RNG stream.

    `df.sample()` draws from engine-specific RNGs (not reproducible across
    engines, or across partitionings of the same engine); the hash form
    gives every row a fixed uniform deviate, so the sample is identical
    everywhere and re-runnable — the audit property curation pipelines
    need. Pure scan-side filter: no shuffle, no state, pushes down to the
    parquet scan's batch filter at any scale.
    """
    u = (((F.col("o_orderkey") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(
        4294967296.0
    )
    return (
        load(spark, sf_dir, "orders")
        .where(u < F.col("o_totalprice") / F.lit(600000.0))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "sample_reservoir_group",
    oracle="""
    SELECT c_custkey, c_mktsegment, sample_rank
    FROM (
        SELECT c_custkey, c_mktsegment,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY ((c_custkey % 2147483648) * 2654435761) % 4294967296, c_custkey
               ) AS BIGINT) AS sample_rank
        FROM customer
    )
    WHERE sample_rank <= 5
    """,
)
def sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sample (k=5) by ranking on the Knuth hash of
    the row key — the deterministic equivalent of per-group reservoir
    sampling, completing the sampling trio (systematic 1-in-n:
    sample_stratified; weight-proportional Bernoulli: sample_weighted).

    The hash order is a fixed pseudo-random permutation, so the chosen 5
    are uniform-ish AND identical across engines, partitionings and
    reruns — what reservoir sampling's RNG stream cannot promise.
    WindowGroupLimit keeps k rows per group inside the sort, so the full
    stratum never materializes.
    """
    u = ((F.col("c_custkey") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296)
    w = W.partitionBy("c_mktsegment").orderBy(u, "c_custkey")
    return (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.row_number().over(w).cast("long").alias("sample_rank"),
        )
        .where(F.col("sample_rank") <= 5)
    )


@register(
    "shard_rendezvous",
    oracle="""
    WITH docs8 AS (
        SELECT d.doc_id, s.shard,
               ('0x' || substr(md5(d.doc_id::VARCHAR || '#' || s.shard::VARCHAR),
                               1, 15))::BIGINT AS w
        FROM documents d, (SELECT UNNEST(range(8)) AS shard) s
    ),
    hrw8 AS (
        SELECT doc_id, ARG_MAX(shard, w) AS shard8 FROM docs8 GROUP BY doc_id
    ),
    docs9 AS (
        SELECT d.doc_id, s.shard,
               ('0x' || substr(md5(d.doc_id::VARCHAR || '#' || s.shard::VARCHAR),
                               1, 15))::BIGINT AS w
        FROM documents d, (SELECT UNNEST(range(9)) AS shard) s
    ),
    hrw9 AS (
        SELECT doc_id, ARG_MAX(shard, w) AS shard9 FROM docs9 GROUP BY doc_id
    ),
    moves AS (
        SELECT 'hrw' AS strategy,
               CAST(SUM(CASE WHEN h8.shard8 <> h9.shard9 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_moved,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM hrw8 h8 JOIN hrw9 h9 ON h8.doc_id = h9.doc_id
        UNION ALL
        SELECT 'mod' AS strategy,
               CAST(SUM(CASE WHEN doc_id % 8 <> doc_id % 9 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_moved,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents
    )
    SELECT strategy, n_docs, n_moved,
           ROUND(n_moved * 1.0 / n_docs, 4) AS pct_moved
    FROM moves
    """,
)
def shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding vs modulo sharding
    under a reshard from 8 to 9 shards — the quantitative case for HRW:
    mod moves ~8/9 of all keys (every residue reshuffles), HRW moves
    only ~1/9 (a key moves only if the NEW shard wins its argmax). This
    is the assignment stability that makes shard-local caches, persisted
    LSH band tables, and bucketed layouts survive cluster resizes.

    Both strategies and both shard counts compute in one pass over the
    key column: weights are md5-derived BIGINTs (engine-portable), the
    per-key argmax is ARG_MAX/max_by on a scalar key, and the output is
    two accounting rows. Measured on the fixture: mod = 0.888, hrw = 0.090
    — the ~9× movement gap, demonstrated not asserted.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")

    # LITERALLY one pass (round 6; previously the 8-shard argmax, the
    # 9-shard argmax, and the mod accounting each re-scanned the key
    # column): one crossJoin against the 9-shard broadcast computes both
    # assignments — the 8-shard winner is the same argmax with the
    # shard-8 candidate's weight nulled out (max_by skips null weights) —
    # and the mod comparison rides the same aggregated frame.
    shards = spark.range(9).select(F.col("id").alias("shard"))
    w = F.expr(
        "cast(conv(substring(md5(concat(cast(doc_id as string), '#', "
        "cast(shard as string))), 1, 15), 16, 10) as bigint)"
    )
    assigned = (
        docs.crossJoin(F.broadcast(shards))
        .select("doc_id", "shard", w.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.max_by("shard", F.when(F.col("shard") < 8, F.col("w"))).alias(
                "shard8"
            ),
            F.max_by("shard", "w").alias("shard9"),
        )
    )
    stats = assigned.agg(
        F.sum((F.col("shard8") != F.col("shard9")).cast("int"))
        .cast("long")
        .alias("hrw_moved"),
        F.sum((F.col("doc_id") % 8 != F.col("doc_id") % 9).cast("int"))
        .cast("long")
        .alias("mod_moved"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return stats.selectExpr(
        "stack(2, 'hrw', n_docs, hrw_moved, 'mod', n_docs, mod_moved) "
        "AS (strategy, n_docs, n_moved)"
    ).select(
        "strategy",
        "n_docs",
        "n_moved",
        F.round(F.col("n_moved") * 1.0 / F.col("n_docs"), 4).alias("pct_moved"),
    )
