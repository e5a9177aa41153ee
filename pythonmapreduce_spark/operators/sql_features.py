"""Spark 4 SQL-language features: recursive CTEs and collations.

Both are parser/analyzer capabilities rather than new physical operators —
they matter because users of a SQL surface reach for them (hierarchies,
case-insensitive semantics) and because each lowers to plans this engine
already certifies: a recursive CTE is an iterative union-loop the engine
executes to fixpoint (the declarative twin of dedup_clusters' hand-rolled
label propagation), and a collated comparison changes equality/grouping
semantics inside ordinary hash aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import register_views
from pythonmapreduce_spark.plans.registry import register

# Implicit binary-tree hierarchy over supplier keys (parent = key / 2):
# fixture tables are flat, so the hierarchy is derived deterministically.
# Identical SQL text runs on DuckDB.
_RECURSIVE = """
WITH RECURSIVE tree(s_suppkey, depth) AS (
    SELECT s_suppkey, 0 FROM supplier WHERE s_suppkey = 1
    UNION ALL
    SELECT s.s_suppkey, t.depth + 1
    FROM supplier s
    JOIN tree t ON CAST(FLOOR(s.s_suppkey / 2) AS BIGINT) = t.s_suppkey
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM tree
GROUP BY depth
"""


@register("recursive_cte", oracle=_RECURSIVE)
def recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): transitive closure over an implicit
    binary-tree hierarchy (parent = suppkey/2), counting nodes per depth.

    The declarative form of iterative graph traversal: the engine re-runs
    the recursive step (a join against the previous frontier) until the
    frontier empties — exactly the loop dedup_clusters drives by hand
    with localCheckpoint, here planned and terminated by the engine. Per
    iteration only the FRONTIER joins the base table, so work is
    O(edges) total, not O(edges × depth); at 100 TB the base side's join
    key pushdown prunes each round's scan.
    """
    register_views(spark, sf_dir, ["supplier"])
    return spark.sql(_RECURSIVE)


_COLLATION_SPARK = """
WITH mixed AS (
    SELECT CASE WHEN p_partkey % 2 = 0 THEN lower(p_type) ELSE p_type END AS ptype,
           p_retailprice
    FROM part
)
SELECT lower(ptype) AS ptype_ci,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT ptype COLLATE UTF8_LCASE) AS BIGINT) AS n_ci_variants
FROM mixed
GROUP BY ptype COLLATE UTF8_LCASE, lower(ptype)
"""

_COLLATION_ORACLE = """
WITH mixed AS (
    SELECT CASE WHEN p_partkey % 2 = 0 THEN lower(p_type) ELSE p_type END AS ptype,
           p_retailprice
    FROM part
)
SELECT lower(ptype) AS ptype_ci,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(1 AS BIGINT) AS n_ci_variants
FROM mixed
GROUP BY lower(ptype)
"""


@register("collation_group", oracle=_COLLATION_ORACLE)
def collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4): a deterministically mixed-case
    column grouped under UTF8_LCASE merges case variants in the HASH
    AGGREGATE ITSELF — no lower() preprocessing of the grouped column.

    The emitted key is normalized with lower() only for a stable display
    form; the grouping and the distinct-count run on the collated raw
    values (COUNT(DISTINCT x COLLATE UTF8_LCASE) = 1 per group proves the
    collation, not lower(), did the merging). DuckDB has no per-
    expression collation syntax, so the oracle is the lower()-normalized
    equivalent — same groups, same counts, and a constant 1 where Spark
    must also produce 1.
    """
    register_views(spark, sf_dir, ["part"])
    return spark.sql(_COLLATION_SPARK)


_SQL_UDF_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
           AS total_charge
FROM lineitem
WHERE l_extendedprice * (1 - l_discount) > 1000
GROUP BY l_returnflag
"""


@register("sql_udf", oracle=_SQL_UDF_ORACLE)
def sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language scalar UDFs (Spark 4 ``CREATE FUNCTION ... RETURN``):
    the business-logic authoring surface for users who never leave SQL —
    named, typed, reusable expressions (here TPC-H's revenue and charge
    formulas) declared once and called like built-ins.

    Why this beats a Python UDF for the same job: the analyzer INLINES the
    function body into the calling expression tree, so the call costs
    nothing — predicates written through the UDF still push down, the
    whole expression stays inside WholeStageCodegen, and no Python worker
    ever starts. The oracle is the hand-inlined SQL: identical results
    prove the inlining is semantically transparent. Functions are session-
    scoped (TEMPORARY); a shared catalog would hold the production
    equivalents.
    """
    register_views(spark, sf_dir, ["lineitem"])
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION line_revenue(price DOUBLE, disc DOUBLE) "
        "RETURNS DOUBLE RETURN price * (1 - disc)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION line_charge(price DOUBLE, disc DOUBLE, tax DOUBLE) "
        "RETURNS DOUBLE RETURN line_revenue(price, disc) * (1 + tax)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(SUM(line_charge(l_extendedprice, l_discount, l_tax)), 2)
                   AS total_charge
        FROM lineitem
        WHERE line_revenue(l_extendedprice, l_discount) > 1000
        GROUP BY l_returnflag
        """
    )


_UNION_BY_NAME_ORACLE = """
SELECT o_orderkey, o_totalprice, CAST(NULL AS DATE) AS o_orderdate,
       'price_feed' AS src
FROM orders WHERE o_orderkey % 7 = 0
UNION ALL
SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice, o_orderdate,
       'date_feed' AS src
FROM orders WHERE o_orderkey % 11 = 0
"""


@register("union_by_name", oracle=_UNION_BY_NAME_ORACLE)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: two feeds of the same entity with DIFFERENT
    column sets combined by COLUMN NAME (``unionByName`` with
    ``allowMissingColumns``), absent columns NULL-filled per branch.

    This is the ingestion reality union positional UNION ALL gets wrong:
    batches produced by different pipeline versions (source_schema_
    evolution's regime) must align on names, not positions — a reordered
    or missing column in positional union silently corrupts rows at 100 TB
    (no error, wrong data). unionByName is a zero-exchange plan: each
    branch is scanned with its own projection and concatenated; the NULL
    fill is a literal in the narrower branch's project node.
    """
    from pythonmapreduce_spark.catalog import load

    orders = load(spark, sf_dir, "orders")
    price_feed = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_totalprice", F.lit("price_feed").alias("src")
    )
    date_feed = orders.where(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey", "o_orderdate", F.lit("date_feed").alias("src")
    )
    return price_feed.unionByName(date_feed, allowMissingColumns=True)


# rounds sit at the TRUE decimal precision of each expression (price is
# 2dp, *0.9 -> 3dp, *0.07 -> 5dp) so no value lands on a round-half
# boundary — the cross-engine drift rule from the registry docstring.
_LATERAL_ALIAS_ORACLE = """
SELECT o_orderkey,
       ROUND(o_totalprice * 0.9, 3) AS discounted,
       ROUND(ROUND(o_totalprice * 0.9, 3) + 5.0, 3) AS with_fee,
       ROUND((ROUND(o_totalprice * 0.9, 3) + 5.0) * 0.07, 5) AS fee_tax
FROM orders WHERE o_orderkey % 13 = 0
"""


@register("lateral_alias", oracle=_LATERAL_ALIAS_ORACLE)
def lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+): a SELECT-list expression
    referencing an alias defined EARLIER IN THE SAME SELECT — the way
    analysts actually build derived-metric chains, instead of nesting
    subqueries or repeating the expression. The analyzer rewrites each
    reference to the aliased expression (inlining, like sql_udf), so the
    chain stays one Project node inside WholeStageCodegen — no extra plan
    nodes, no re-evaluation barrier. Oracle is the hand-expanded SQL;
    identical results prove the rewrite is transparent.
    """
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderkey,
               ROUND(o_totalprice * 0.9, 3) AS discounted,
               ROUND(discounted + 5.0, 3) AS with_fee,
               ROUND((discounted + 5.0) * 0.07, 5) AS fee_tax
        FROM orders WHERE o_orderkey % 13 = 0
        """
    )


_SQL_PARAMS_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderpriority <> '1-URGENT'
GROUP BY o_orderpriority
"""


@register("sql_params", oracle=_SQL_PARAMS_ORACLE)
def sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+ named parameter markers): values
    arrive as TYPED literals through ``spark.sql(query, args=...)``, never
    string-spliced into the query text. This is the SQL-injection-safe
    templating surface every job scheduler needs (the reference splices
    config values straight into ini files and commands,
    /root/reference/master.py:108-121); parameters bind in the analyzer,
    so constant folding and predicate pushdown see real literals — the
    plan is byte-identical to the inlined query, which is the oracle.
    """
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderpriority <> :excl_prio
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000.0, "excl_prio": "1-URGENT"},
    )


_SQL_VARIABLES_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
WHERE o_totalprice > 175000.0 AND o_orderdate >= DATE '1995-01-01'
GROUP BY o_orderpriority
"""


@register("sql_variables", oracle=_SQL_VARIABLES_ORACLE)
def sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 ``DECLARE VARIABLE`` / ``SET
    VARIABLE``): typed, session-scoped named values referenced directly
    in queries — the scripting-state surface for multi-statement SQL
    jobs (thresholds computed once, reused across statements) that
    otherwise forces string templating. Variables resolve in the
    analyzer to literals, so pushdown and constant folding see real
    constants — same transparency contract as sql_params (per-call
    binding) and sql_udf (named expressions); the oracle is the
    hand-inlined query.
    """
    register_views(spark, sf_dir, ["orders"])
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE since_date DATE DEFAULT DATE '1990-01-01'")
    spark.sql("SET VARIABLE price_floor = 175000.0")
    spark.sql("SET VARIABLE since_date = DATE '1995-01-01'")
    out = spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_totalprice > price_floor AND o_orderdate >= since_date
        GROUP BY o_orderpriority
        """
    )
    # variables resolve to literals during the (eager) analysis above;
    # drop them so no session-global state leaks past this query
    spark.sql("DROP TEMPORARY VARIABLE IF EXISTS price_floor")
    spark.sql("DROP TEMPORARY VARIABLE IF EXISTS since_date")
    return out


_SQL_PIPE_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'O'
GROUP BY c_mktsegment
ORDER BY revenue DESC
LIMIT 3
"""


@register("sql_pipe_syntax", oracle=_SQL_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, from the GoogleSQL/ZetaSQL proposal):
    queries written as a top-to-bottom dataflow — ``FROM … |> WHERE …
    |> JOIN … |> AGGREGATE … |> ORDER BY`` — instead of the inside-out
    SELECT order. Each |> stage is sugar over the same logical operators
    (the plan is identical to the classic form, which is the oracle), so
    the feature is purely parser-level: the readability of a DataFrame
    chain with the portability of SQL text.
    """
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> JOIN customer ON o_custkey = c_custkey
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                     ROUND(SUM(o_totalprice), 2) AS revenue
           GROUP BY c_mktsegment
        |> ORDER BY revenue DESC
        |> LIMIT 3
        """
    )


_ANALYZE_ORACLE = """
SELECT 'n_nationkey' AS col_name, 'min' AS stat,
       CAST(MIN(n_nationkey) AS VARCHAR) AS value FROM nation
UNION ALL
SELECT 'n_nationkey', 'max', CAST(MAX(n_nationkey) AS VARCHAR) FROM nation
UNION ALL
SELECT 'n_nationkey', 'num_nulls',
       CAST(COUNT(*) - COUNT(n_nationkey) AS VARCHAR) FROM nation
UNION ALL
SELECT 'n_nationkey', 'distinct_count',
       CAST(COUNT(DISTINCT n_nationkey) AS VARCHAR) FROM nation
UNION ALL
SELECT 'n_regionkey', 'min', CAST(MIN(n_regionkey) AS VARCHAR) FROM nation
UNION ALL
SELECT 'n_regionkey', 'max', CAST(MAX(n_regionkey) AS VARCHAR) FROM nation
UNION ALL
SELECT 'n_regionkey', 'num_nulls',
       CAST(COUNT(*) - COUNT(n_regionkey) AS VARCHAR) FROM nation
UNION ALL
SELECT 'n_regionkey', 'distinct_count',
       CAST(COUNT(DISTINCT n_regionkey) AS VARCHAR) FROM nation
"""


@register("analyze_table_stats", oracle=_ANALYZE_ORACLE)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`` — the catalog
    statistics that FEED the cost-based optimizer: row counts size join
    orders, column min/max drive range-predicate selectivity, NDV drives
    join-cardinality estimates. Without them the CBO falls back to raw
    file sizes; at 100 TB a wrong join order from a missing ANALYZE is a
    thousand-executor mistake. This query writes a managed table, ANALYZEs
    two columns, and reads the stats BACK OUT OF THE CATALOG (DESCRIBE
    EXTENDED table col) — the oracle recomputes each statistic directly,
    so any catalog-side drift (stale stats, lossy serialization) fails
    the compare. NDV is exact here (25 rows; the HLL±5% kicks in at
    cardinalities where exactness is priced accordingly).
    """
    import uuid

    from pythonmapreduce_spark.catalog import load
    from pythonmapreduce_spark.sources.bucketing import drop_managed_table

    tbl = f"analyze_stats_{uuid.uuid4().hex[:12]}"
    load(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(tbl)
    spark.sql(
        f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS n_nationkey, n_regionkey"
    )
    wanted = ("min", "max", "num_nulls", "distinct_count")
    parts = []
    for col in ("n_nationkey", "n_regionkey"):
        d = (
            spark.sql(f"DESCRIBE EXTENDED {tbl} {col}")
            .where(F.col("info_name").isin(*wanted))
            .select(
                F.lit(col).alias("col_name"),
                F.col("info_name").alias("stat"),
                F.col("info_value").alias("value"),
            )
        )
        parts.append(d)
    out = parts[0].unionAll(parts[1])
    # DESCRIBE is a command — its rows are already materialized in the
    # plan, so the scratch table can be dropped before returning
    drop_managed_table(spark, tbl)
    return out


# one row per (lang, source): at most 5 × 20 rows, sorted in one task
_GROUP_ORDER_ALL_ORACLE = """
SELECT /*+ COALESCE(1) */ lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY ALL
ORDER BY ALL
"""


@register("group_order_by_all", oracle=_GROUP_ORDER_ALL_ORACLE)
def group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (Spark 3.4+/4, matching the
    DuckDB-popularized shorthand): every non-aggregate SELECT item groups,
    every output column orders — the repetition-free form analysts write
    for wide rollups, where re-listing twelve dimension columns twice is
    where grouping bugs come from. The analyzer expands ALL to the
    explicit lists, so the plan is the ordinary partial+final aggregate +
    sort; the oracle runs the IDENTICAL text on DuckDB, pinning that the
    two engines expand ALL the same way.
    """
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(_GROUP_ORDER_ALL_ORACLE)
