"""Data-quality and warehouse-maintenance operators: column profiling,
CDC snapshot diffing, and declarative constraint checking.

A 100 TB pipeline spends as much time *validating* data as querying it:
every ingest batch gets profiled (null rates, cardinalities, value ranges),
diffed against the previous snapshot (what changed?), and gated on
constraints (orphan keys, domain violations) before it is published. The
reference has no notion of any of this — its only runtime checking is
comparing KV-protocol responses to "STORED\\r\\n"
(/root/reference/master.py:118, mapper_node.py:45); a malformed record is
silently dropped (/root/reference/reducer_node.py:41-42). Here the checks
are first-class relational queries, so they run distributed and their cost
is one scan, not a driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.registry import register

# Columns profiled by profile_columns, in output order. A representative
# slice of lineitem's types: integer keys, a double measure, two low-card
# strings, a timestamp.
_PROFILE_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_val,
       CAST(MAX({c}) AS VARCHAR) AS max_val
FROM lineitem"""
    for c in _PROFILE_COLS
)


@register("profile_columns", oracle=_PROFILE_ORACLE)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: null count, exact distinct count, and min/max per
    column, emitted long-form (one row per column) as ONE wide stats
    pass plus ONE single-column pruned scan PER profiled column.

    Why this decomposition:
    - 8 COUNT(DISTINCT col)s in one aggregate makes Catalyst group by
      all 8 columns + gid over an 8× Expand — a 9-key SortAggregate over
      a corpus-×8 wide sort (measured 18 s at sf0.1, ~25× everything
      else here). Never that.
    - nulls/min/max for all columns compute in ONE plain HashAggregate
      pass on native types (min/max must NOT be computed on stringified
      values — "10" < "9"); results stack()ed long-form, 8 rows.
    - each distinct count runs over its OWN column-pruned scan (a
      parquet reader touching exactly that column's chunks — the 8
      scans together read ≈ one full-table's bytes, the columnar way to
      spell "per-column work"), as a native-typed partial-distinct hash
      aggregate whose exchange carries |distinct(col)| values, unioned
      into an 8-row result. This replaced a round-7-and-earlier stack()
      vertical explode (1 scan, then 8×|rows| stringified (col, val)
      pairs through one aggregate): native values skip 8n string casts
      and the wide explode, measured 2.0-2.8 s → 1.4-1.5 s at sf0.1.
    The two 8-row results broadcast-join on col_name. Nothing here ever
    sorts the corpus; the 9 scans are disjoint column slices, argued in
    tests/test_plan_audit.py's ALLOW table.
    """
    li = load(spark, sf_dir, "lineitem")

    mm_aggs = []
    for c in _PROFILE_COLS:
        mm_aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    mm_stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__min, {c}__max" for c in _PROFILE_COLS
    )
    minmax = li.agg(*mm_aggs).selectExpr(
        f"stack({len(_PROFILE_COLS)}, {mm_stack}) AS (col_name, n_nulls, min_val, max_val)"
    )

    distincts = None
    for c in _PROFILE_COLS:
        d = (
            li.select(F.lit(c).alias("col_name"), F.col(c).alias("v"))
            .groupBy("col_name")
            .agg(F.count_distinct("v").alias("n_distinct"))
        )
        distincts = d if distincts is None else distincts.unionAll(d)

    return minmax.join(F.broadcast(distincts), "col_name").select(
        "col_name", "n_nulls", "n_distinct", "min_val", "max_val"
    )


_CDC_OLD = """
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS price
    FROM orders WHERE o_orderkey % 50 <> 0
"""
_CDC_NEW = """
    SELECT o_orderkey,
           ROUND(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.05
                      ELSE o_totalprice END, 4) AS price
    FROM orders WHERE o_orderkey % 43 <> 0
"""

_CDC_ORACLE = f"""
WITH v_old AS ({_CDC_OLD}), v_new AS ({_CDC_NEW})
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       o.price AS old_price,
       n.price AS new_price
FROM v_old o FULL JOIN v_new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.price <> n.price
"""


@register("cdc_diff", oracle=_CDC_ORACLE)
def cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC: compute the insert/update/delete delta between two
    table versions via one full outer join on the key.

    The two "versions" are carved deterministically from orders (every
    50th key missing from v_old → inserts; every 43rd missing from v_new →
    deletes; every 7th repriced → updates). This is the change-capture
    kernel a lakehouse MERGE/incremental-sync pipeline runs between
    snapshots: both sides shuffle once on the key, unchanged rows are
    filtered post-join so only the delta survives the exchange output. At
    100 TB both snapshots are bucketed on the key and the join is
    exchange-free.
    """
    orders = load(spark, sf_dir, "orders")
    v_old = (
        orders.where(F.col("o_orderkey") % 50 != 0)
        .select("o_orderkey", F.round("o_totalprice", 4).alias("price"))
    )
    v_new = (
        orders.where(F.col("o_orderkey") % 43 != 0)
        .select(
            "o_orderkey",
            F.round(
                F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.05)
                .otherwise(F.col("o_totalprice")),
                4,
            ).alias("price"),
        )
    )
    o, n = v_old.alias("o"), v_new.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    return (
        joined.select(
            F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
            F.when(F.col("o.o_orderkey").isNull(), "insert")
            .when(F.col("n.o_orderkey").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("o.price").alias("old_price"),
            F.col("n.price").alias("new_price"),
        )
        .where(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
    )


_CONSTRAINT_ORACLE = """
SELECT 'lineitem_orphan_order' AS constraint_name,
       CAST(COUNT(*) AS BIGINT) AS violations
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'orders_orphan_customer',
       CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'negative_extendedprice', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_extendedprice < 0
UNION ALL
SELECT 'discount_out_of_range', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_discount < 0 OR l_discount > 0.5
UNION ALL
SELECT 'null_orderkey', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_orderkey IS NULL
UNION ALL
SELECT 'duplicate_orderkey', CAST(COUNT(*) AS BIGINT)
FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1) d
"""


@register("constraint_check", oracle=_CONSTRAINT_ORACLE)
def constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: six constraint families (referential
    integrity, domain ranges, nullability, key uniqueness) evaluated as
    relational queries, one row of violation counts each.

    Referential checks are left-anti joins (the FK side streams, the PK
    side's key projection broadcasts when small); domain/null checks are
    scan-local filter+counts Catalyst collapses into single-stage
    aggregates; uniqueness is a groupBy-HAVING. A real deployment runs
    these as the publish gate on every ingest batch — all six here share
    scans where the plan allows, and none collects anything to the driver
    but the six final counts.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("violations")).select(
            F.lit(name).alias("constraint_name"), "violations"
        )

    checks = [
        one(
            "lineitem_orphan_order",
            li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti"),
        ),
        one(
            "orders_orphan_customer",
            orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti"),
        ),
        one("negative_extendedprice", li.where(F.col("l_extendedprice") < 0)),
        one(
            "discount_out_of_range",
            li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)),
        ),
        one("null_orderkey", orders.where(F.col("o_orderkey").isNull())),
        one(
            "duplicate_orderkey",
            orders.groupBy("o_orderkey").count().where(F.col("count") > 1),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@register(
    "hll_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS sketch_ok
    FROM events GROUP BY event_type
    """,
)
def hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog rollup: per-day user sketches unioned into a
    per-event-type distinct-user estimate WITHOUT re-scanning the events.

    This is the two-level sketch pattern every 100 TB metrics pipeline
    runs: the expensive pass builds small (≤ lgConfigK=12 → 4 KB) HLL
    sketches at fine grain (event_type × day) once; every coarser rollup
    (per type, per week, global) is then a cheap union of sketches — an
    algebraic re-aggregation that never touches the raw data again.
    approx_count_distinct gives the same estimate but is NOT reusable:
    its intermediate dies inside one query, while hll_sketch_agg's binary
    sketch is a storable, mergeable column. The estimate itself is
    Datasketches-specific, so the emitted row is the CONTRACT instead:
    (group, exact count, estimate within 5% of exact) — the oracle
    recomputes the exact distinct and asserts sketch_ok literally TRUE,
    making the two-level sketch driver-checkable (the same gate
    tests/test_sketches.py pins locally).
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id", 12).alias("sketch"))
    )
    merged = (
        daily.groupBy("event_type")
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "event_type",
            F.hll_sketch_estimate("merged").alias("approx_users"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("sketch_ok"),
    )


_INCR_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice) / COUNT(*), 4) AS avg_price,
       CAST(MIN(l_shipdate) AS VARCHAR) AS first_ship,
       CAST(MAX(l_shipdate) AS VARCHAR) AS last_ship
FROM lineitem
GROUP BY l_returnflag
"""


@register("incremental_agg", oracle=_INCR_ORACLE)
def incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation: merge two pre-aggregated batches into the
    same result a full recompute gives — proven BY the oracle, which runs
    the full recompute.

    The pattern that keeps 100 TB metrics pipelines from re-scanning
    history on every ingest: store per-batch partial aggregates
    (algebraic: count, sum, min, max — avg is DERIVED from merged
    sum/count, never averaged-of-averages), and fold each new batch in
    with a re-aggregation over |groups| x |batches| tiny rows. Here the
    "batches" are lineitem split at a ship-date cutoff; the merge is a
    unionAll + groupBy whose input is two pre-aggregated frames, so the
    second aggregation touches hundreds of rows regardless of corpus
    size. This is also exactly what a partial+final HashAggregate does
    inside one query — materialized across pipeline runs instead.
    """
    li = load(spark, sf_dir, "lineitem")
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sq"),
            F.sum("l_extendedprice").alias("se"),
            F.min("l_shipdate").alias("mn"),
            F.max("l_shipdate").alias("mx"),
        )

    old_b = partial(li.where(F.col("l_shipdate") < cutoff))
    new_b = partial(li.where(F.col("l_shipdate") >= cutoff))
    return (
        old_b.unionAll(new_b)
        .groupBy("l_returnflag")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.round(F.sum("sq"), 2).alias("sum_qty"),
            F.round(F.sum("se") / F.sum("n"), 4).alias("avg_price"),
            F.min("mn").cast("string").alias("first_ship"),
            F.max("mx").cast("string").alias("last_ship"),
        )
    )


@register(
    "key_skew_profile",
    oracle="""
    WITH counts AS (
        SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT key, n_rows,
           ROUND(100.0 * n_rows / SUM(n_rows) OVER (), 4) AS share_pct,
           ROUND(n_rows / AVG(n_rows) OVER (), 4) AS skew_ratio
    FROM counts
    ORDER BY n_rows DESC, key
    LIMIT 10
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic: the 10 heaviest join/agg keys with
    their share of all rows and their ratio to the mean key load.

    This is the measurement you run BEFORE choosing salting (join_salted)
    or AQE skew-join for a hot key. Aggregate-then-window: the raw table
    collapses to |keys| rows in a partial+final count, and only that
    aggregate flows through the unpartitioned stats window — the window
    never sees raw rows, so the single-partition stage is bounded by key
    cardinality, not data size.
    """
    counts = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    w = W.partitionBy()
    return (
        counts.select(
            "key",
            "n_rows",
            F.round(100.0 * F.col("n_rows") / F.sum("n_rows").over(w), 4).alias(
                "share_pct"
            ),
            F.round(F.col("n_rows") / F.avg("n_rows").over(w), 4).alias(
                "skew_ratio"
            ),
        )
        .orderBy(F.col("n_rows").desc(), "key")
        .limit(10)
    )


@register(
    "id_gaps",
    oracle="""
    WITH keyed AS (
        SELECT o_orderkey AS id,
               LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS next_id
        FROM orders
    )
    SELECT id + 1 AS gap_start, next_id - 1 AS gap_end,
           CAST(next_id - id - 1 AS BIGINT) AS n_missing
    FROM keyed
    WHERE next_id - id > 1
    """,
)
def id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection over the order key: every missing id range
    with its width — the ingestion-completeness audit run after every
    bulk load (a gap means a dropped batch, a filtered partition, or an
    upstream delete).

    One global sort + lead(); at scale the total order comes from range
    partitioning (Spark's sort exchange samples boundaries), and the
    output is |gaps| rows, not |ids|. The same shape over timestamps is
    the heartbeat-loss detector.
    """
    w = W.orderBy("o_orderkey")
    keyed = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.lead("o_orderkey").over(w).alias("next_id"),
    )
    return keyed.where(F.col("next_id") - F.col("id") > 1).select(
        (F.col("id") + 1).alias("gap_start"),
        (F.col("next_id") - 1).alias("gap_end"),
        (F.col("next_id") - F.col("id") - 1).cast("long").alias("n_missing"),
    )


@register(
    "benford_check",
    oracle="""
    WITH digits AS (
        -- FLOOR before the integer cast: DuckDB's DOUBLE->BIGINT cast rounds
        -- while Spark's truncates; floor() pins truncation on both engines
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS BIGINT) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT SUM(n) AS total FROM obs)
    SELECT d,
           n,
           ROUND(n * 1.0 / tot.total, 4) + 0.0 AS observed,
           ROUND(LOG10(1.0 + 1.0 / d), 4) + 0.0 AS benford,
           ROUND(ABS(n * 1.0 / tot.total - LOG10(1.0 + 1.0 / d)), 4) + 0.0
               AS abs_dev
    FROM obs, tot
    """,
)
def benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals: observed
    leading-digit share vs the log10(1 + 1/d) expectation — the
    classic statistical screen for fabricated or truncated numeric
    data (a synthetic uniform price book fails it loudly, which is
    itself the informative result on generated data).

    First digit extracted by integer-truncating then taking the first
    character — identical string semantics both engines (no float
    formatting involved). Collapses to ≤9 rows in one partial+final
    aggregate; the 1-row total broadcasts back.
    """
    digits = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("long")
            .alias("d")
        )
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    share = F.col("n") * 1.0 / F.col("total")
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        (F.round(share, 4) + 0.0).alias("observed"),
        (F.round(benford, 4) + 0.0).alias("benford"),
        (F.round(F.abs(share - benford), 4) + 0.0).alias("abs_dev"),
    )
