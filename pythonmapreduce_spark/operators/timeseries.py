"""Time-series resampling: calendar densification + forward fill.

The classic gap-fill operator: aggregate an event stream to a fixed grain
(daily), materialize the FULL calendar for every series (days with no
events included), and forward-fill each gap with the most recent observed
value. The reference cannot express this at all — it has no notion of time,
ordering, or missing data (SURVEY §2.2: no sort operator, no window
functions).

Scale shape: the calendar grid is |series| × |days| — tiny relative to the
event table (it's the *output* grain) — and is built by exploding a
per-series date sequence, never by a driver-side loop. The forward fill is
one window sort per series partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.operators.graphs import basket_pair_rows
from pythonmapreduce_spark.operators.quantiles import weighted_quantiles
from pythonmapreduce_spark.plans.materialize import iter_materialize, materialize_observed
from pythonmapreduce_spark.plans.registry import register


@register(
    "resample_ffill",
    oracle="""
    WITH span AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
    ), days AS (
        SELECT CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                           CAST(d1 AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM span
    ), series AS (
        SELECT DISTINCT user_id FROM events WHERE user_id <= 20
    ), grid AS (
        SELECT user_id, day FROM series CROSS JOIN days
    ), observed AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               ROUND(ARG_MAX(value, event_id), 4) AS day_value
        FROM events
        WHERE user_id <= 20
        GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT g.user_id, CAST(g.day AS VARCHAR) AS day,
           LAST_VALUE(o.day_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
    FROM grid g LEFT JOIN observed o
      ON g.user_id = o.user_id AND g.day = o.day
    """,
)
def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample of `events.value` per user with forward fill.

    Per (user, day) the observed value is arg_max(value, event_id) — the
    value of that day's latest event, anchored on the unique event_id so
    the pick is deterministic. Days before a series' first observation
    stay NULL (nothing to fill from).

    Scale shape: two events scans — the global day span (1-row bounds
    aggregate over the unfiltered table; its calendar is global by
    design) and the per-(user,day) aggregate over the pushed-down user
    slice. The series' user list derives from the MATERIALIZED observed
    aggregate (|users × days| rows), not a third corpus scan: distinct
    user_id over the aggregate equals distinct user_id over the slice by
    construction (groupBy keeps every user with ≥1 event), and the
    pre-reshape third scan reused nothing at runtime.
    """
    events = load(spark, sf_dir, "events").where(F.col("user_id") <= 20)
    day = F.to_date("ts")

    # Global day span: one row, broadcast into the grid build.
    span = load(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )

    # Kept (c): lazy, the final plan scans events 3x instead of 2x.
    observed = iter_materialize(
        events.groupBy(F.col("user_id"), day.alias("day")).agg(
            F.round(F.max_by("value", "event_id"), 4).alias("day_value")
        )
    )
    series = observed.select("user_id").distinct()
    grid = series.crossJoin(F.broadcast(days))

    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(observed, ["user_id", "day"], "left")
        .select(
            "user_id",
            # ISO string: DATE round-trips differently through pandas in the
            # two engines; the string form is compare-stable.
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.last("day_value", ignorenulls=True).over(w).alias("value_ffill"),
        )
    )


@register(
    "rollup_time",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY CAST(ts AS DATE), event_type
    """,
)
def rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup: hourly aggregates cascaded into daily.

    The hypertable/continuous-aggregate pattern: the daily tier re-aggregates
    the HOURLY aggregate (sum of sums, sum of counts, max of maxes) instead
    of re-scanning raw events. At 100 TB the hourly tier is the materialized
    rollup (24×|types| rows/day regardless of event volume) and every
    coarser grain derives from it — the oracle proves the cascade is exact
    by computing daily straight from the raw table. Only works for
    decomposable aggregates (sum/count/min/max — avg must be carried as
    sum+count, which is why the hourly tier stores those, not the ratio).
    """
    events = load(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("total_value"),
            F.max("max_value").alias("max_value"),
        )
    )


@register(
    "funnel_steps",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= s1.t_signup
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= s2.t_click
        GROUP BY e.user_id
    )
    SELECT 1 AS step, 'signup' AS name, (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL
    SELECT 2, 'click_after_signup', (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase_after_click', (SELECT COUNT(*) FROM s3)
    """,
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: signup → first click after signup →
    purchase after that click; one row per step with surviving user count.

    Each stage is a groupBy on user_id joined to the previous stage's
    per-user timestamp — at scale all three stages shuffle on the SAME key
    (user_id), so the exchanges line up and AQE reuses the partitioning;
    no per-user driver logic, no window over the full event stream. Each
    survivor table feeds the next stage's join; the first two step counts
    are observed by the passes that materialize s1 and s2 and return as
    one local partition, and only the last step's count is an aggregate.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    n_users = F.count(F.lit(1)).alias("n_users")
    # Kept (d): lazy, s1 raises shuffle bytes 3,151 -> 3,752 B at sf0.01.
    s1, c1 = materialize_observed(
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup")),
        n_users,
    )
    # Kept (d): lazy, s2 raises CPU min 0.068 -> 0.080 s (0.007 s spread).
    s2, c2 = materialize_observed(
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click")),
        n_users,
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") >= F.col("t_click"))
        .select("user_id")
        .distinct()
    )
    observed = spark.createDataFrame(
        [(1, "signup", c1["n_users"]), (2, "click_after_signup", c2["n_users"])],
        "step int, name string, n_users long",
    ).coalesce(1)
    return observed.unionByName(
        s3.agg(n_users).select(
            F.lit(3).alias("step"), F.lit("purchase_after_click").alias("name"), "n_users"
        )
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE)
                   AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)
                   AS active_week
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_week AS VARCHAR) AS cohort_week,
           CAST(date_diff('day', cohort_week, active_week) / 7 AS BIGINT)
               AS week_offset,
           COUNT(DISTINCT user_id) AS n_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    in each subsequent active week.

    The cohort week is a MIN window over user_id, not a groupBy+self-join:
    one events scan and one user_id exchange produce (user, cohort_week,
    active_week) directly — the pre-reshape groupBy-then-join form ran 3
    events scans with zero exchange reuse at runtime (the aggregate's and
    the probe side's pruned column sets differ, so AQE never collapsed
    them). The retention matrix itself is tiny (weeks²).
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    per_user = W.partitionBy("user_id")
    activity = ev.select(
        "user_id",
        F.date_trunc("week", F.min("ts").over(per_user)).cast("date").alias("cohort_week"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("active_week"),
    ).distinct()
    return (
        activity.groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        # dates cross the comparison boundary as ISO strings: pandas
        # promotes SQL DATE to Timestamp, which would never hash-match
        # Spark's datetime.date
        .withColumn("cohort_week", F.col("cohort_week").cast("string"))
    )


@register(
    "event_pattern",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           MIN(CAST(e.ts AS TIMESTAMP)) AS first_error_ts
    FROM events p
    JOIN events e
      ON e.user_id = p.user_id
     AND e.event_type = 'error'
     AND CAST(e.ts AS TIMESTAMP) > CAST(p.ts AS TIMESTAMP)
     AND CAST(e.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.user_id, p.event_id, p.ts
    """,
)
def event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence pattern: purchases followed by an error within one hour for
    the same user (first matching error per purchase).

    Equi-join on user_id carries the heavy lifting (hash/sort-merge,
    co-partitioned); the time-range predicates evaluate inside the join.
    Both sides filter to their event type BEFORE the join, so at 100 TB the
    shuffle moves only the two relevant event slices, not the full stream.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    e = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("error_ts")
    )
    return (
        p.join(
            e,
            (F.col("e_user") == F.col("user_id"))
            & (F.col("error_ts") > F.col("purchase_ts"))
            & (F.col("error_ts") <= F.col("purchase_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id", "purchase_id", "purchase_ts")
        .agg(F.min("error_ts").alias("first_error_ts"))
    )


@register(
    "scd2_snapshot",
    oracle="""
    SELECT user_id,
           value,
           CAST(ts AS TIMESTAMP) AS valid_from,
           LEAD(CAST(ts AS TIMESTAMP))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (LEAD(CAST(ts AS TIMESTAMP))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
               AS is_current
    FROM events
    WHERE event_type = 'signup' OR event_type = 'purchase'
    """,
)
def scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) intervals from a change stream:
    each state change becomes a row with [valid_from, valid_to) validity,
    open-ended (NULL) for the current state.

    The warehouse pattern for turning an event log into a point-in-time
    joinable dimension. One window sort per user partition; at 100 TB the
    shuffle key (user_id) is the same key downstream as-of joins use, so
    the partitioning is reused. Deterministic tiebreak on event_id.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            "value",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


@register(
    "point_in_time_join",
    oracle="""
    WITH dim AS (
        SELECT user_id,
               value AS state_value,
               CAST(ts AS TIMESTAMP) AS valid_from,
               COALESCE(
                   LEAD(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   TIMESTAMP '9999-12-31') AS valid_to
        FROM events
        WHERE event_type = 'signup' OR event_type = 'purchase'
    )
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           d.state_value, d.valid_from
    FROM events e
    JOIN dim d
      ON e.user_id = d.user_id
     AND CAST(e.ts AS TIMESTAMP) >= d.valid_from
     AND CAST(e.ts AS TIMESTAMP) < d.valid_to
    WHERE e.event_type = 'click'
    """,
)
def point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correct join: each observation (click) picks up the
    dimension state that was valid AT ITS TIMESTAMP — the feature-store
    join that prevents future-data leakage into training examples.

    Built on the scd2_snapshot intervals; the equi key (user_id) carries
    the join, the validity range evaluates as a residual predicate inside
    it — never a cross product. Both sides shuffle on user_id once; at
    100 TB the dimension side is orders of magnitude smaller than the
    observation stream, so AQE typically broadcasts it.
    """
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.where(F.col("event_type").isin("signup", "purchase"))
        .select(
            F.col("user_id").alias("d_user"),
            F.col("event_id").alias("d_event"),
            F.col("value").alias("state_value"),
            F.col("ts").alias("valid_from"),
        )
        .withColumn(
            "valid_to",
            F.coalesce(
                # event_id tiebreak matches the oracle's LEAD ordering when
                # two state changes share a timestamp
                F.lead("valid_from").over(
                    W.partitionBy("d_user").orderBy("valid_from", "d_event")
                ),
                F.lit("9999-12-31").cast("timestamp"),
            ),
        )
        .drop("d_event")
    )
    obs = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    return (
        obs.join(
            dim,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("ts") < F.col("valid_to")),
        )
        .select("event_id", "user_id", "ts", "state_value", "valid_from")
    )


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: first-order transition counts between
    consecutive event types per user (the Markov-chain edge weights behind
    funnel discovery and anomaly detection).

    One window sort per user partition, then a tiny |types|² aggregate —
    at 100 TB the shuffle is the same user_id exchange every other
    event-sequence operator here uses. event_id tiebreaks equal timestamps.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "share_of_total",
    oracle="""
    WITH rev AS (
        SELECT c_mktsegment,
               ROUND(SUM(o_totalprice), 2) AS segment_revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, segment_revenue,
           ROUND(segment_revenue / SUM(segment_revenue) OVER (), 6) AS revenue_share
    FROM rev
    """,
)
def share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total: each group's fraction of the grand total via an
    unpartitioned window over the AGGREGATED result.

    The empty-frame window runs on |groups| rows (5 segments), not the
    fact table — the aggregate-then-window ordering is what keeps a
    single-partition window harmless at 100 TB.
    """
    rev = (
        load(spark, sf_dir, "orders")
        .join(load(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("segment_revenue"))
    )
    return rev.select(
        "c_mktsegment",
        "segment_revenue",
        F.round(
            F.col("segment_revenue") / F.sum("segment_revenue").over(W.partitionBy()), 6
        ).alias("revenue_share"),
    )


@register(
    "pct_change",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               ROUND(SUM(value), 2) AS revenue
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE)
    )
    SELECT day, revenue,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY day))
                 / LAG(revenue) OVER (ORDER BY day), 6) AS pct_change
    FROM daily
    """,
)
def pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period percent change: daily purchase revenue vs the
    previous day (NULL on the first day).

    Aggregate-then-window: the unpartitioned lag runs on |days| rows, not
    the event stream, so the single-partition sort is harmless at any
    scale (same principle as share_of_total).
    """
    daily = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("revenue"))
    )
    prev = F.lag("revenue").over(W.partitionBy().orderBy("day"))
    return daily.select(
        "day",
        "revenue",
        F.round((F.col("revenue") - prev) / prev, 6).alias("pct_change"),
    )


@register(
    "min_max_scale",
    oracle="""
    SELECT doc_id, lang, n_chars,
           ROUND(CAST(n_chars - MIN(n_chars) OVER (PARTITION BY lang) AS DOUBLE)
                 / GREATEST(MAX(n_chars) OVER (PARTITION BY lang)
                            - MIN(n_chars) OVER (PARTITION BY lang), 1), 6)
               AS scaled
    FROM documents
    """,
)
def min_max_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling (the ML-preprocessing normalizer)
    as full-partition windows — degenerate groups (max = min) divide by the
    GREATEST(..., 1) floor instead of producing NULL/Inf.

    At 100 TB the equivalent two-pass form (aggregate extrema, broadcast
    back) avoids materializing window partitions; here the window form is
    exact and one pass, and the same oracle would verify either plan.
    """
    lo = F.min("n_chars").over(W.partitionBy("lang"))
    hi = F.max("n_chars").over(W.partitionBy("lang"))
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(
            (F.col("n_chars") - lo).cast("double") / F.greatest(hi - lo, F.lit(1)), 6
        ).alias("scaled"),
    )


_CONCURRENCY_ORACLE = """
WITH pts AS (
    SELECT event_type, ts AS t, 1 AS delta FROM events
    UNION ALL
    SELECT event_type, ts + INTERVAL 15 MINUTE, -1 FROM events
), running AS (
    SELECT event_type,
           SUM(delta) OVER (PARTITION BY event_type ORDER BY t) AS live
    FROM pts
)
SELECT event_type, CAST(MAX(live) AS BIGINT) AS max_concurrent
FROM running
GROUP BY event_type
"""


@register("interval_overlap", oracle=_CONCURRENCY_ORACLE)
def interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type via a sweep line: each event opens
    a 15-minute presence interval; max overlap = max running sum of
    +1/−1 boundary deltas ordered by time.

    The sweep turns an O(n²) interval-overlap join into one sort: explode
    each interval into two boundary points, running-sum over an ordered
    window, take the max. The RANGE window frame (default for ORDER BY)
    sums ALL deltas at equal timestamps together, which makes ties
    deterministic in both engines AND gives closed-open [start, end)
    semantics — an interval ending exactly when another starts never
    counts as overlap. At scale the window partitions by event_type (and
    a day bucket for longer horizons), so no single sort spans the whole
    history. Both boundary points explode out of ONE scan (the
    pre-reshape self-union read events twice for rows the scan stage can
    emit in one pass).
    """
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    pts = ev.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("ts") + F.expr("INTERVAL 15 MINUTE")).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("b"),
    ).select("event_type", F.col("b.t").alias("t"), F.col("b.delta").alias("delta"))
    w = W.partitionBy("event_type").orderBy("t")
    return (
        pts.withColumn("live", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(F.max("live").cast("long").alias("max_concurrent"))
    )


_ANOMALY_ORACLE = """
WITH daily AS (
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders
    GROUP BY 1
), stats AS (
    SELECT day, revenue,
           AVG(revenue) OVER () AS mu,
           STDDEV_SAMP(revenue) OVER () AS sigma
    FROM daily
)
SELECT day, revenue,
       ROUND((revenue - mu) / sigma, 3) + 0.0 AS z,
       CASE WHEN ABS((revenue - mu) / sigma) > 2 THEN 1 ELSE 0 END AS is_anomaly
FROM stats
"""


@register("anomaly_zscore", oracle=_ANOMALY_ORACLE)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue anomaly flags: z-score each day against the global
    mean/stddev, flag |z| > 2.

    Aggregate-then-window: the corpus-sized scan reduces to |days| rows
    FIRST, so the unpartitioned stats window runs over thousands of rows,
    not billions — same altitude trick as share_of_total. Streaming
    deployments replace the global window with a trailing RANGE frame
    (window_range_frame has the kernel).
    """
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    )
    w = W.partitionBy()
    z = (F.col("revenue") - F.avg("revenue").over(w)) / F.stddev_samp("revenue").over(w)
    return daily.select(
        "day",
        "revenue",
        (F.round(z, 3) + F.lit(0.0)).alias("z"),  # +0.0 folds IEEE -0.0 to +0.0
        F.when(F.abs(z) > 2, 1).otherwise(0).alias("is_anomaly"),
    )


@register(
    "winsorize",
    oracle="""
    WITH bounds AS (
        SELECT c_mktsegment,
               quantile_cont(c_acctbal, 0.05) AS lo,
               quantile_cont(c_acctbal, 0.95) AS hi
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           ROUND(LEAST(GREATEST(c.c_acctbal, b.lo), b.hi), 2) AS bal_wins
    FROM customer c JOIN bounds b USING (c_mktsegment)
    """,
)
def winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clamp account balances to the segment's
    [p05, p95] band — the outlier treatment feature pipelines apply
    before scaling (min_max_scale's robust sibling: scaling alone lets a
    single extreme value compress everyone else into a sliver).

    Exact interpolated percentiles per group collapse to |segments| rows
    of bounds which broadcast back onto the unshuffled table — same
    aggregate-then-broadcast shape as min_max_scale, so the big side
    never exchanges. The bounds come from the collapsed weighted-
    quantile pass (operators/quantiles.py: count per distinct value +
    spillable sorted cumsum — no per-segment whole-group percentile
    buffer), which shares quantile_cont's linear interpolation
    definition (proven cross-engine by percentile_agg).
    """
    cust = load(spark, sf_dir, "customer")
    bounds = weighted_quantiles(
        cust, ["c_mktsegment"], "c_acctbal", {"lo": 0.05, "hi": 0.95}
    )
    return cust.join(F.broadcast(bounds), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        F.round(
            F.least(F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi")), 2
        ).alias("bal_wins"),
    )


@register(
    "robust_scale",
    oracle="""
    WITH st AS (
        SELECT c_mktsegment,
               quantile_cont(c_acctbal, 0.5)  AS med,
               quantile_cont(c_acctbal, 0.75) - quantile_cont(c_acctbal, 0.25)
                   AS iqr
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           ROUND((c.c_acctbal - st.med)
                 / (CASE WHEN st.iqr = 0 THEN 1.0 ELSE st.iqr END), 4) + 0.0
               AS bal_robust
    FROM customer c JOIN st USING (c_mktsegment)
    """,
)
def robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling per group — the outlier-insensitive
    normalization (min_max_scale breaks under a single extreme value;
    winsorize clamps; robust scaling re-centers on order statistics).

    Same aggregate-then-broadcast shape as its two siblings: |segments|
    rows of (median, IQR) broadcast onto the unshuffled table, the order
    statistics from the collapsed weighted-quantile pass
    (operators/quantiles.py — no per-segment percentile buffer).
    Degenerate IQR=0 floors to 1 on both engines.
    """
    cust = load(spark, sf_dir, "customer")
    st = weighted_quantiles(
        cust, ["c_mktsegment"], "c_acctbal", {"med": 0.5, "q1": 0.25, "q3": 0.75}
    ).select(
        "c_mktsegment", "med", (F.col("q3") - F.col("q1")).alias("iqr")
    )
    safe_iqr = F.when(F.col("iqr") == 0, F.lit(1.0)).otherwise(F.col("iqr"))
    return cust.join(F.broadcast(st), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        (F.round((F.col("c_acctbal") - F.col("med")) / safe_iqr, 4) + 0.0).alias(
            "bal_robust"
        ),
    )


@register(
    "anomaly_mad",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               ROUND(SUM(value), 2) AS revenue
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    med AS (SELECT quantile_cont(revenue, 0.5) AS m FROM daily),
    mad AS (
        SELECT quantile_cont(ABS(d.revenue - med.m), 0.5) AS mad
        FROM daily d, med
    )
    SELECT CAST(day AS VARCHAR) AS day, revenue,
           ROUND(ABS(revenue - med.m)
                 / (CASE WHEN mad.mad = 0 THEN 1.0
                         ELSE 1.4826 * mad.mad END), 4) + 0.0 AS mad_z,
           ABS(revenue - med.m)
               / (CASE WHEN mad.mad = 0 THEN 1.0
                       ELSE 1.4826 * mad.mad END) > 3.5 AS is_outlier
    FROM daily, med, mad
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-revenue outliers via median absolute deviation — the
    breakdown-resistant twin of anomaly_zscore (one extreme day inflates
    a stddev enough to hide itself; the median/MAD pair has a 50%
    breakdown point, the standard robust-detection recipe with the
    1.4826 normal-consistency constant and the Iglewicz–Hoaglin 3.5
    threshold).

    Aggregate-then-broadcast twice: |days| rows → 1-row median → 1-row
    MAD — the raw event stream collapses at the first aggregation and
    nothing wider than |days| ever crosses an exchange again. ``daily``
    stays in the plan: its three consumers reuse its one exchange, so the
    events scan executes once and building runs no job.
    """
    daily = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("revenue"))
    )
    med = daily.agg(F.expr("percentile(revenue, 0.5)").alias("m"))
    with_med = daily.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.expr("percentile(abs(revenue - m), 0.5)").alias("mad")
    )
    scale = F.when(F.col("mad") == 0, F.lit(1.0)).otherwise(1.4826 * F.col("mad"))
    return (
        with_med.crossJoin(F.broadcast(mad))
        .select(
            F.col("day").cast("string").alias("day"),
            "revenue",
            (F.round(F.abs(F.col("revenue") - F.col("m")) / scale, 4) + 0.0).alias(
                "mad_z"
            ),
            (F.abs(F.col("revenue") - F.col("m")) / scale > 3.5).alias("is_outlier"),
        )
    )


@register(
    "seasonal_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
               ROUND(SUM(value), 2) AS revenue
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    season AS (
        SELECT dow, AVG(revenue) AS dow_mean FROM daily GROUP BY dow
    )
    SELECT CAST(d.day AS VARCHAR) AS day,
           d.revenue,
           ROUND(s.dow_mean, 4) + 0.0 AS seasonal,
           ROUND(d.revenue - s.dow_mean, 4) + 0.0 AS residual
    FROM daily d JOIN season s USING (dow)
    """,
)
def seasonal_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of daily revenue: the seasonal
    component is the weekday mean, the residual is what anomaly
    detectors should actually look at (a quiet Sunday is not an outlier;
    a quiet Tuesday is).

    Aggregate-then-broadcast: the event stream collapses to |days| rows,
    the seasonal profile to 7, and the 7-row profile broadcasts back —
    same shape family as anomaly_mad/min_max_scale. DuckDB's dayofweek
    (0=Sunday) vs Spark's dayofweek (1=Sunday) differ by a constant
    label shift only, which the join key absorbs on each side
    independently — the emitted columns never contain the dow code.
    """
    daily = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            F.dayofweek("ts").alias("dow"),
        )
        .agg(F.round(F.sum("value"), 2).alias("revenue"))
    )
    season = daily.groupBy("dow").agg(F.avg("revenue").alias("dow_mean"))
    return daily.join(F.broadcast(season), "dow").select(
        F.col("day").cast("string").alias("day"),
        "revenue",
        (F.round(F.col("dow_mean"), 4) + 0.0).alias("seasonal"),
        (F.round(F.col("revenue") - F.col("dow_mean"), 4) + 0.0).alias("residual"),
    )


@register(
    "attribution_touch",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
        FROM events WHERE event_type = 'click'
    )
    , joined AS (
        SELECT p.user_id, p.purchase_id, c.click_id, c.cts
        FROM p JOIN c
          ON c.user_id = p.user_id
         AND c.cts < p.pts
         AND c.cts >= p.pts - INTERVAL 2 HOUR
    ),
    ranked AS (
        SELECT user_id, purchase_id, click_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, purchase_id
                                  ORDER BY cts, click_id) AS rf,
               ROW_NUMBER() OVER (PARTITION BY user_id, purchase_id
                                  ORDER BY cts DESC, click_id DESC) AS rl
        FROM joined
    )
    SELECT user_id, purchase_id,
           MAX(CASE WHEN rf = 1 THEN click_id END) AS first_touch,
           MAX(CASE WHEN rl = 1 THEN click_id END) AS last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM ranked GROUP BY user_id, purchase_id
    """,
)
def attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: for each purchase, the first- and
    last-touch click inside the 2-hour lookback window, plus the touch
    count — the two standard single-touch attribution models computed in
    one pass.

    Equi-join on user_id carries the shuffle (the time window is a
    residual predicate inside the join); min_by/max_by with the
    (ts, id) tuple key makes the touch choice deterministic under ties.
    Both event slices are type-filtered at the scan, so only clicks and
    purchases move — the event stream's other types never shuffle.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    return (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("cts") < F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 2 HOUR")),
        )
        .groupBy("user_id", "purchase_id")
        .agg(
            F.expr("min_by(click_id, struct(cts, click_id))").alias("first_touch"),
            F.expr("max_by(click_id, struct(cts, click_id))").alias("last_touch"),
            F.count(F.lit(1)).cast("long").alias("n_touches"),
        )
    )


@register(
    "cumulative_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        FROM events GROUP BY user_id
    ),
    daily_new AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_seen GROUP BY day
    )
    SELECT CAST(day AS VARCHAR) AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS total_users
    FROM daily_new
    """,
)
def cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day (the growth curve): running
    COUNT(DISTINCT) is not directly windowable at scale, so it reduces
    to first-seen-day per user → daily new-user counts → running sum —
    each user contributes exactly once, making the cumulative sum equal
    the true running distinct.

    The heavy aggregation (min day per user) partial-aggregates
    map-side on user_id; the unpartitioned running-sum window then runs
    on |days| rows only — the aggregate-then-window rule that keeps the
    single-partition stage trivial at any scale.
    """
    first_seen = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("day"))
    )
    daily_new = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = W.partitionBy().orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily_new.select(
        F.col("day").cast("string").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("total_users"),
    )


@register(
    "skyline_pareto",
    oracle="""
    WITH daily_best AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               MIN(o_totalprice) AS best_price
        FROM orders GROUP BY 1
    ),
    running AS (
        SELECT day, best_price,
               MIN(best_price) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prior_best
        FROM daily_best
    )
    SELECT CAST(day AS VARCHAR) AS day, best_price
    FROM running
    WHERE prior_best IS NULL OR best_price < prior_best
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front): the orders minimizing (date, price) —
    no other order is both earlier AND cheaper. Multi-objective
    dominance is its own operator class (no single ORDER BY expresses
    it), and the naive formulation is an O(n²) NOT-EXISTS nested loop.

    The scale reduction: a skyline point must be its date's minimum
    (anything else is dominated same-date), so collapse to per-date
    minima first — a partial+final aggregate — then one running-min
    window over |dates| rows keeps exactly the points strictly below
    every earlier minimum. O(n) scan + |dates|-row window instead of
    O(n²) dominance joins; the same two-phase shape generalizes to
    higher dimensions with a block-then-merge pass.
    """
    daily_best = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.min("o_totalprice").alias("best_price"))
    )
    w = W.partitionBy().orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    return (
        daily_best.withColumn("prior_best", F.min("best_price").over(w))
        .where(F.col("prior_best").isNull() | (F.col("best_price") < F.col("prior_best")))
        .select(F.col("day").cast("string").alias("day"), "best_price")
    )


@register(
    "interval_merge",
    oracle="""
    WITH iv AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
               CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e,
               event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e, event_id,
               CASE WHEN s > MAX(e) OVER (PARTITION BY user_id
                        ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_span
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_span) OVER (PARTITION BY user_id ORDER BY s, event_id
                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM flagged
    )
    SELECT user_id,
           CAST(MIN(s) AS VARCHAR) AS span_start,
           CAST(MAX(e) AS VARCHAR) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_intervals
    FROM islands GROUP BY user_id, span_id
    """,
)
def interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping intervals (each event opens a 30-minute
    activity window): coalesce every overlapping chain into one maximal
    span per user — the complement of interval_overlap (which measures
    peak concurrency; this materializes the merged coverage itself,
    the billing/uptime/session-span primitive).

    Gaps-and-islands over intervals: a span boundary is an interval
    whose start exceeds the running MAX of all earlier ends (running max
    — not lag — because an interval can be swallowed whole by an earlier
    longer one); cumulative-sum the boundary flags into span ids, then
    one aggregate per span. Both windows sort each user's partition
    once and reuse the same shuffle key.
    """
    iv = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("e"),
        "event_id",
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_span",
        F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0),
    )
    # (s, event_id) — the same total order as the flag window. e is s+30min
    # so ordering by (s, e) leaves ties on s unordered, and with tied
    # timestamps the cumulative sum could attach a row to the wrong span.
    w_run = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("span_id", F.sum("new_span").over(w_run))
    return (
        islands.groupBy("user_id", "span_id")
        .agg(
            F.min("s").cast("string").alias("span_start"),
            F.max("e").cast("string").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
        )
        .drop("span_id")
    )


@register(
    "time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT user_id, value, CAST(ts AS TIMESTAMP) AS ts,
               LEAD(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        FROM events
    ),
    held AS (
        SELECT user_id, value,
               date_diff('second', ts, next_ts) AS held_s
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT user_id,
           ROUND(SUM(value * held_s) / SUM(held_s), 4) + 0.0 AS twap,
           CAST(SUM(held_s) AS BIGINT) AS total_s
    FROM held GROUP BY user_id
    HAVING SUM(held_s) > 0
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) of each user's value stream: every
    observation weighted by how long it was the CURRENT value (until the
    next event) — the financial/IoT averaging primitive where plain
    AVG() is wrong whenever sampling is irregular (a value held for an
    hour must outweigh one held for a second).

    One window sort per user gives each observation its holding
    duration (lead); the weighted aggregate then partial-aggregates
    map-side. The last (open-ended) observation is excluded on both
    engines — its holding time is undefined on a bounded extract.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "user_id",
        "value",
        "ts",
        F.lead("ts").over(w).alias("next_ts"),
    )
    held = seq.where(F.col("next_ts").isNotNull()).select(
        "user_id",
        "value",
        (F.unix_timestamp("next_ts") - F.unix_timestamp("ts")).alias("held_s"),
    )
    return (
        held.groupBy("user_id")
        .agg(
            (F.round(F.sum(F.col("value") * F.col("held_s")) / F.sum("held_s"), 4) + 0.0).alias(
                "twap"
            ),
            F.sum("held_s").cast("long").alias("total_s"),
        )
        .where(F.col("total_s") > 0)
    )


@register(
    "null_impute",
    oracle="""
    WITH marked AS (
        SELECT event_id, event_type, value,
               CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
        FROM events
    )
    SELECT event_id, event_type,
           ROUND(COALESCE(v, AVG(v) OVER (PARTITION BY event_type)), 4)
               AS value_imputed,
           (v IS NULL) AS was_imputed
    FROM marked
    """,
)
def null_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation: NULL measurements replaced by their
    group's mean, with provenance flag — the baseline ML-prep treatment
    for the dirty-partition regime the null-injection sweep tests
    (deterministic event_id % 11 nulling stands in for missing data so
    the oracle sees identical holes).

    The imputation value comes from an unpartitioned-per-group window
    over the SAME scan (no second pass, no self-join); at scale this is
    one shuffle on the group key, and the mean excludes the NULLs by
    SQL semantics identically in both engines.
    """
    marked = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = W.partitionBy("event_type")
    return marked.select(
        "event_id",
        "event_type",
        F.round(F.coalesce(F.col("v"), F.avg("v").over(w)), 4).alias("value_imputed"),
        F.col("v").isNull().alias("was_imputed"),
    )


@register(
    "event_debounce",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
               LAG(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type
    FROM seq
    WHERE prev_ts IS NULL
       OR date_diff('second', prev_ts, ts) >= 300
    """,
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: drop events repeating the same (user, type) within a
    5-minute quiet period — the duplicate-click / retry-storm suppressor
    every event pipeline runs at ingest (distinct from dedup_keep_latest,
    which keeps one row per key; debounce keeps every burst LEADER and
    only suppresses the echoes behind it).

    One lag() per (user, type) partition; the filter is stateless after
    the window, so at scale this is a single shuffle on the entity key
    the downstream sessionization reuses.
    """
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    return seq.where(
        F.col("prev_ts").isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) >= 300)
    ).select("event_id", "user_id", "event_type")


@register(
    "sliding_distinct_users",
    oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
    ),
    fanout AS (
        SELECT user_id, day + CAST(offs AS INTEGER) AS window_end
        FROM user_days,
             LATERAL (SELECT UNNEST(generate_series(0, 6)) AS offs) o
    ),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM user_days)
    SELECT CAST(window_end AS VARCHAR) AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_7d
    FROM fanout, bounds
    WHERE window_end BETWEEN bounds.d0 AND bounds.d1
    GROUP BY window_end
    """,
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day sliding distinct users (rolling WAU/MAU shape):
    COUNT(DISTINCT) is not decomposable across overlapping windows, so
    the exact formulation fans each DISTINCT (user, day) pair into the
    7 windows whose trailing range contains it, then one distinct-agg
    per window end.

    The scale discipline is in WHAT fans out: the (user, day) pair set
    (bounded by users × days) — never raw events, which collapse in the
    first DISTINCT. 7× that small set through one exchange is the exact
    price; the approximate alternative at extreme cardinality is
    hll_rollup's mergeable-sketch union over daily sketches.
    """
    user_days = (
        load(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    bounds = user_days.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    fanout = user_days.select(
        "user_id",
        F.explode(
            F.expr("transform(sequence(0, 6), i -> date_add(day, i))")
        ).alias("window_end"),
    )
    return (
        fanout.crossJoin(F.broadcast(bounds))
        .where(F.col("window_end").between(F.col("d0"), F.col("d1")))
        .groupBy(F.col("window_end").cast("string").alias("window_end"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users_7d"))
    )


@register(
    "conversion_latency",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
        -- floor(microsecond diff) rather than date_diff('second'):
        -- counting whole-second boundaries vs flooring each operand
        -- disagrees on sub-second remainders between engines
        SELECT e.user_id,
               CAST(FLOOR(date_diff('microsecond', s1.t_signup,
                                    MIN(CAST(e.ts AS TIMESTAMP))) / 1000000.0)
                    AS BIGINT) AS latency_s
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(e.ts AS TIMESTAMP) >= s1.t_signup
        GROUP BY e.user_id, s1.t_signup
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(FLOOR(quantile_cont(latency_s, 0.5)) AS BIGINT) AS p50_s,
           CAST(FLOOR(quantile_cont(latency_s, 0.9)) AS BIGINT) AS p90_s,
           CAST(MAX(latency_s) AS BIGINT) AS max_s
    FROM conv
    """,
)
def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: seconds from first signup to first
    subsequent purchase per user, summarized as count + p50/p90/max —
    the latency histogram behind every funnel (funnel_steps counts WHO
    converts; this measures HOW LONG conversion takes, which is what
    capacity and incentive decisions read).

    Same one-key shuffle discipline as funnel_steps (both stages group
    on user_id); the percentile summary collapses |converted users|
    rows to one THROUGH the collapsed weighted-quantile pass
    (operators/quantiles.py): latencies are integer seconds, so the
    distinct-value distribution is bounded by the time horizon — the
    global percentile never buffers |converted users| values (the old
    percentile aggregate held them all in one unspillable buffer).
    Integer-second latencies keep the exact interpolation
    engine-identical.
    """
    ev = load(spark, sf_dir, "events")
    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .where(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(
            F.floor(
                (F.unix_micros(F.min("ts")) - F.unix_micros(F.col("t_signup")))
                / 1000000.0
            )
            .cast("long")
            .alias("latency_s")
        )
    )
    # include_n counts NON-NULL latency_s, while the oracle's COUNT(*)
    # counts conv rows; they agree ONLY because latency_s is built from
    # min(ts) after an inner join and can never be NULL here. If a
    # future edit makes latency_s nullable (outer join, nullable ts),
    # switch to an explicit COUNT(*) aggregate or n_converted silently
    # shrinks relative to the oracle.
    q = weighted_quantiles(
        conv,
        [],
        "latency_s",
        {"p50_raw": 0.5, "p90_raw": 0.9},
        extra={"max_raw": F.max("latency_s")},
        include_n="n_raw",
    )
    return q.select(
        F.col("n_raw").cast("long").alias("n_converted"),
        F.col("p50_raw").cast("long").alias("p50_s"),
        F.col("p90_raw").cast("long").alias("p90_s"),
        F.col("max_raw").cast("long").alias("max_s"),
    )


@register(
    "basket_rules",
    oracle="""
    WITH urgent AS (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    items AS (
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN urgent u ON l.l_orderkey = u.o_orderkey
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    item_count AS (
        SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey
    ),
    pair_count AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS both_cnt
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 3
    )
    SELECT p1, p2, CAST(both_cnt AS BIGINT) AS both_cnt,
           ROUND(both_cnt * 1.0 / n_orders.n, 6) + 0.0 AS support,
           ROUND(both_cnt * 1.0 / c1.cnt, 4) + 0.0 AS confidence,
           ROUND(both_cnt * 1.0 * n_orders.n / (c1.cnt * c2.cnt), 4) + 0.0
               AS lift
    FROM pair_count
    JOIN item_count c1 ON p1 = c1.l_partkey
    JOIN item_count c2 ON p2 = c2.l_partkey
    CROSS JOIN n_orders
    """,
)
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at the pair level: support,
    confidence and lift for part pairs co-purchased in ≥3 urgent orders
    — the first Apriori level, turned from the graph tier's raw
    co-occurrence EDGES into the probabilistic rule METRICS a
    recommender thresholds on.

    The pair explosion is order-size-bounded (linear overall); item
    counts are vocabulary-sized and join back on the part key; the
    single order count broadcasts. The ≥3 support floor is Apriori's
    anti-monotone prune — it is what keeps level-2+ candidate growth
    bounded at scale.

    ONE scan builds per-order sorted distinct part arrays (collect_set
    is the map-side-combining dedup; order size ~4 bounds the array);
    pairs explode from each array in-JVM (sorted arrays make p1 < p2 by
    construction — no self-join, no second lineitem pass), and
    n_orders/item_count read the same base.
    """
    urgent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    # Kept (d): lazy raises shuffle bytes 125,468 -> 132,165 B at sf0.01.
    baskets = iter_materialize(
        load(spark, sf_dir, "lineitem")
        .join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n"))
    item_count = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Two-level skew-safe pair explode (round 12) — see
    # graphs.basket_pair_rows for why the single-explode form is an
    # unbounded-basket hazard at scale.
    pairs = (
        basket_pair_rows(baskets, "p1", "p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("both_cnt"))
        .where(F.col("both_cnt") >= 3)
    )
    return (
        pairs.join(item_count.withColumnsRenamed({"l_partkey": "p1", "cnt": "c1"}), "p1")
        .join(item_count.withColumnsRenamed({"l_partkey": "p2", "cnt": "c2"}), "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            F.col("both_cnt").cast("long").alias("both_cnt"),
            (F.round(F.col("both_cnt") * 1.0 / F.col("n"), 6) + 0.0).alias("support"),
            (F.round(F.col("both_cnt") * 1.0 / F.col("c1"), 4) + 0.0).alias(
                "confidence"
            ),
            (
                F.round(
                    F.col("both_cnt") * 1.0 * F.col("n") / (F.col("c1") * F.col("c2")),
                    4,
                )
                + 0.0
            ).alias("lift"),
        )
    )


@register(
    "ab_test_lift",
    oracle="""
    WITH arms AS (
        SELECT user_id,
               CASE WHEN ((user_id % 2147483648) * 2654435761) % 4294967296 % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm,
               MAX(CASE WHEN event_type = 'purchase' AND value >= 150
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    per_arm AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               SUM(converted) * 1.0 / COUNT(*) AS rate
        FROM arms GROUP BY arm
    ),
    wide AS (
        SELECT MAX(CASE WHEN arm = 'control' THEN n_users END) AS n_c,
               MAX(CASE WHEN arm = 'control' THEN n_converted END) AS x_c,
               MAX(CASE WHEN arm = 'treatment' THEN n_users END) AS n_t,
               MAX(CASE WHEN arm = 'treatment' THEN n_converted END) AS x_t
        FROM per_arm
    )
    SELECT n_c, x_c, n_t, x_t,
           ROUND(x_c * 1.0 / n_c, 4) + 0.0 AS rate_control,
           ROUND(x_t * 1.0 / n_t, 4) + 0.0 AS rate_treatment,
           ROUND(x_t * 1.0 / n_t - x_c * 1.0 / n_c, 4) + 0.0 AS abs_lift,
           ROUND((x_t * 1.0 / n_t - x_c * 1.0 / n_c)
                 / NULLIF(SQRT(((x_c + x_t) * 1.0 / (n_c + n_t))
                               * (1 - (x_c + x_t) * 1.0 / (n_c + n_t))
                               * (1.0 / n_c + 1.0 / n_t)), 0), 4) + 0.0
               AS z_score
    FROM wide
    """,
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B readout: deterministic 50/50 assignment by
    Knuth-hash parity of the user id, per-arm conversion (any purchase),
    absolute lift, and the pooled two-proportion z-statistic — the
    experimentation primitive every product analytics stack reduces to.

    Hash assignment (not RNG) is what makes the experiment replayable
    and consistent across sessions/engines — the same property the
    sampling trio uses. Per-user conversion collapses the event stream
    on user_id; everything after is a 2-row pivot and scalar math, so
    the z-test costs one aggregation regardless of event volume.
    """
    arms = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") >= 150),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            F.when(
                ((F.col("user_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296) % 2 == 0,
                "control",
            )
            .otherwise("treatment")
            .alias("arm"),
            "converted",
        )
    )
    per_arm = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == "control", F.col("n_users"))).alias("n_c"),
        F.max(F.when(F.col("arm") == "control", F.col("n_converted"))).alias("x_c"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n_users"))).alias("n_t"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n_converted"))).alias("x_t"),
    )
    rate_c = F.col("x_c") * 1.0 / F.col("n_c")
    rate_t = F.col("x_t") * 1.0 / F.col("n_t")
    pooled = (F.col("x_c") + F.col("x_t")) * 1.0 / (F.col("n_c") + F.col("n_t"))
    # nullif guards the degenerate 0%/100% pooled rate (z undefined)
    z = (rate_t - rate_c) / F.nullif(
        F.sqrt(pooled * (1 - pooled) * (1.0 / F.col("n_c") + 1.0 / F.col("n_t"))),
        F.lit(0.0),
    )
    return wide.select(
        "n_c",
        "x_c",
        "n_t",
        "x_t",
        (F.round(rate_c, 4) + 0.0).alias("rate_control"),
        (F.round(rate_t, 4) + 0.0).alias("rate_treatment"),
        (F.round(rate_t - rate_c, 4) + 0.0).alias("abs_lift"),
        (F.round(z, 4) + 0.0).alias("z_score"),
    )


@register(
    "churn_label",
    oracle="""
    WITH span AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS t_max FROM events),
    per_user AS (
        SELECT user_id,
               MIN(CAST(ts AS TIMESTAMP)) AS first_seen,
               MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(FLOOR(date_diff('microsecond', first_seen, last_seen)
                      / 86400000000.0) AS BIGINT) AS tenure_days,
           last_seen < span.t_max - INTERVAL 7 DAY AS churned
    FROM per_user, span
    """,
)
def churn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn labeling: a user is churned when inactive for the final 7
    days of the observation span — the standard label-generation pass
    feeding retention models (tenure and activity volume come along as
    the first features).

    One aggregation on user_id produces first/last/count; the global
    max timestamp is a 1-row broadcast. The label threshold is relative
    to the data's own horizon, so the query is reproducible on any
    extract without wall-clock dependence (no now() anywhere — the same
    determinism rule the whole registry follows).
    """
    ev = load(spark, sf_dir, "events")
    span = ev.agg(F.max("ts").alias("t_max"))
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return per_user.crossJoin(F.broadcast(span)).select(
        "user_id",
        "n_events",
        F.floor(
            (F.unix_micros("last_seen") - F.unix_micros("first_seen"))
            / 86400000000.0
        )
        .cast("long")
        .alias("tenure_days"),
        (F.col("last_seen") < F.col("t_max") - F.expr("INTERVAL 7 DAY")).alias(
            "churned"
        ),
    )


@register(
    "event_paths3",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS t2,
               LEAD(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq
    WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT 15
    """,
)
def event_paths3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 three-step user journeys (the Sankey/path-analysis feed):
    consecutive event-type trigrams per user, counted corpus-wide —
    event_transitions' first-order pairs extended to the path depth
    funnel designers actually read.

    Two lead() offsets share ONE window definition, so Spark evaluates
    a single sort per user partition (same shuffle key as every other
    per-user op); the trigram strings aggregate with map-side partials
    and TakeOrderedAndProject caps the output.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(15)
    )


@register(
    "dow_hour_activity",
    oracle="""
    SELECT dayofweek(CAST(ts AS TIMESTAMP)) AS dow_code,
           CAST(SUM(CASE WHEN hour(CAST(ts AS TIMESTAMP)) < 6  THEN 1 ELSE 0 END) AS BIGINT) AS night,
           CAST(SUM(CASE WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 6 AND 11 THEN 1 ELSE 0 END) AS BIGINT) AS morning,
           CAST(SUM(CASE WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 12 AND 17 THEN 1 ELSE 0 END) AS BIGINT) AS afternoon,
           CAST(SUM(CASE WHEN hour(CAST(ts AS TIMESTAMP)) >= 18 THEN 1 ELSE 0 END) AS BIGINT) AS evening
    FROM events
    GROUP BY dow_code
    """,
)
def dow_hour_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-week activity heatmap: event counts per (day-of-week ×
    6-hour block) — the load-profile matrix behind capacity planning
    and send-time optimization, emitted wide (one row per weekday).

    The conditional-sum pivot keeps this ONE partial+final aggregate
    over derived keys (no pivot() second pass, no shuffle of raw rows
    beyond the 7-group exchange). dow codes differ between engines
    (DuckDB 0=Sunday, Spark 1=Sunday), so Spark emits dayofweek()-1
    ... except both must agree: Spark's dayofweek is 1-based Sunday;
    DuckDB's dayofweek is 0-based Sunday — the Spark side subtracts 1
    to land on the identical code.
    """
    hour = F.hour("ts")
    return (
        load(spark, sf_dir, "events")
        .groupBy((F.dayofweek("ts") - 1).cast("long").alias("dow_code"))
        .agg(
            F.sum((hour < 6).cast("long")).cast("long").alias("night"),
            F.sum(hour.between(6, 11).cast("long")).cast("long").alias("morning"),
            F.sum(hour.between(12, 17).cast("long")).cast("long").alias("afternoon"),
            F.sum((hour >= 18).cast("long")).cast("long").alias("evening"),
        )
    )


@register(
    "calendar_dim",
    oracle="""
    WITH span AS (
        SELECT MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0,
               MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d1
        FROM events
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(dayofweek(day) AS BIGINT) AS dow,
           CAST(weekofyear(day) AS BIGINT) AS week_of_year,
           CAST(month(day) AS BIGINT) AS month,
           CAST(quarter(day) AS BIGINT) AS quarter,
           dayofweek(day) IN (0, 6) AS is_weekend
    FROM (
        SELECT CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                           CAST(d1 AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM span
    )
    """,
)
def calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension spanning the event horizon: day,
    day-of-week, ISO week, month, quarter, weekend flag — the warehouse
    staple every date-grain rollup joins against (resample_ffill builds
    its grid the same way; this materializes the reusable dimension).

    Generation, not scanning: a 1-row span aggregate explodes into
    |days| rows via sequence() — no driver loop, parallelizes with the
    explode. Spark's dayofweek is 1-based Sunday vs DuckDB's 0-based;
    the Spark side emits dayofweek()-1 so codes (and the weekend set
    {0,6}) align exactly.
    """
    span = load(spark, sf_dir, "events").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    dow = (F.dayofweek("day") - 1).cast("long")
    return days.select(
        F.col("day").cast("string").alias("day"),
        dow.alias("dow"),
        F.weekofyear("day").cast("long").alias("week_of_year"),
        F.month("day").cast("long").alias("month"),
        F.quarter("day").cast("long").alias("quarter"),
        dow.isin(0, 6).alias("is_weekend"),
    )


@register(
    "behavior_entropy",
    oracle="""
    WITH mix AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (
        SELECT user_id, SUM(c) AS n FROM mix GROUP BY user_id
    )
    SELECT m.user_id,
           CAST(MIN(tot.n) AS BIGINT) AS n_events,
           ROUND(LOG2(MIN(tot.n)) - SUM(m.c * LOG2(m.c)) / MIN(tot.n), 4)
               + 0.0 AS type_entropy
    FROM mix m JOIN tot ON m.user_id = tot.user_id
    GROUP BY m.user_id
    """,
)
def behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy of the event-type
    mix (a bot hammering one endpoint scores ~0; an organic session
    spreads across types) — the relational formulation of the entropy
    signal char_entropy computes at character level in a UDF, here pure
    Column math because the distribution is over a GROUPED key, not
    per-row content.

    Two partial+final aggregates on the same user key (type mix, then
    per-user roll-up with the H = log2(n) − Σc·log2(c)/n factoring both
    engines share); no window, no explode.
    """
    mix = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = mix.groupBy("user_id").agg(F.sum("c").alias("n"))
    return (
        mix.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("n").cast("long").alias("n_events"),
            (
                F.round(
                    F.log2(F.min("n"))
                    - F.sum(F.col("c") * F.log2(F.col("c"))) / F.min("n"),
                    4,
                )
                + 0.0
            ).alias("type_entropy"),
        )
    )


@register(
    "ewma_smooth",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) - 1 AS rn,
               SUM(value) AS revenue
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE)
    )
    SELECT CAST(a.d AS VARCHAR) AS day,
           ROUND(MIN(a.revenue), 2) AS revenue,
           ROUND(SUM(b.revenue * POW(0.7, a.rn - b.rn))
                 / SUM(POW(0.7, a.rn - b.rn)), 4) AS ewma
    FROM daily a JOIN daily b ON b.rn BETWEEN a.rn - 29 AND a.rn
    GROUP BY a.d, a.rn
    """,
)
def ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue (α = 0.3,
    30-day tail) — the trend smoother monitoring dashboards draw next to
    anomaly_zscore's outlier flags.

    The textbook recursion s_n = αx_n + (1−α)s_{n−1} is inherently
    sequential; the closed form s_n = Σ w^(n−i)x_i / Σ w^(n−i) over a
    BOUNDED 30-row tail is order-free and parallel. Formulated as a
    self-join of the aggregated daily series on a row-number band: the
    raw event volume collapses to |days| rows FIRST (partial+final agg),
    so the 30× fan-out and both windows touch |days|·30 rows regardless
    of corpus size — at 100 TB of events this plan's exchange volume is
    still a few thousand rows. Truncating the tail at 30 days bounds the
    fan-out and the dropped weight mass (0.7^30 ≈ 2e-5) sits far below
    the 4dp round. No driver loop, no sequential dependency.
    """
    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum("value").alias("revenue"))
        .withColumn("rn", F.row_number().over(W.orderBy("d")) - 1)
    )
    a = daily.alias("a")
    b = daily.alias("b")
    joined = a.join(
        b,
        (F.col("b.rn") >= F.col("a.rn") - 29) & (F.col("b.rn") <= F.col("a.rn")),
    )
    w = F.pow(F.lit(0.7), F.col("a.rn") - F.col("b.rn"))
    return (
        joined.groupBy(F.col("a.d"), F.col("a.rn"))
        .agg(
            F.round(F.min("a.revenue"), 2).alias("revenue"),
            F.round(F.sum(F.col("b.revenue") * w) / F.sum(w), 4).alias("ewma"),
        )
        .select(F.col("d").cast("string").alias("day"), "revenue", "ewma")
    )


@register(
    "resample_interpolate",
    oracle="""
    WITH span AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
    ), days AS (
        SELECT CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                           CAST(d1 AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM span
    ), series AS (
        SELECT DISTINCT user_id FROM events WHERE user_id <= 20
    ), grid AS (
        SELECT user_id, day FROM series CROSS JOIN days
    ), observed AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               ARG_MAX(value, event_id) AS day_value
        FROM events
        WHERE user_id <= 20 AND event_type = 'purchase'
        GROUP BY user_id, CAST(ts AS DATE)
    ), anchored AS (
        SELECT g.user_id, g.day, o.day_value,
               LAST_VALUE(CASE WHEN o.day_value IS NOT NULL THEN g.day END IGNORE NULLS)
                   OVER w_prev AS prev_day,
               LAST_VALUE(o.day_value IGNORE NULLS) OVER w_prev AS prev_val,
               FIRST_VALUE(CASE WHEN o.day_value IS NOT NULL THEN g.day END IGNORE NULLS)
                   OVER w_next AS next_day,
               FIRST_VALUE(o.day_value IGNORE NULLS) OVER w_next AS next_val
        FROM grid g LEFT JOIN observed o
          ON g.user_id = o.user_id AND g.day = o.day
        WINDOW w_prev AS (PARTITION BY g.user_id ORDER BY g.day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY g.user_id ORDER BY g.day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    -- round via shortest-repr: Spark's F.round goes through
    -- BigDecimal.valueOf(double), which rounds the double's SHORTEST
    -- DECIMAL STRING, while DuckDB's ROUND(DOUBLE) rounds the binary
    -- value — on an exact half-way boundary (e.g. 16.41 + 89.75*6/16 =
    -- "50.06625", binary 50.0662499…93) the two disagree by 1e-4
    -- (skew-sweep find). CAST→VARCHAR reproduces the shortest repr,
    -- DECIMAL makes the half-up exact — bit-for-bit Spark semantics.
    SELECT user_id, CAST(day AS VARCHAR) AS day,
           CAST(ROUND(CAST(CAST(CASE
               WHEN prev_val IS NULL THEN next_val
               WHEN next_val IS NULL THEN prev_val
               WHEN next_day = prev_day THEN prev_val
               ELSE prev_val + (next_val - prev_val)
                    * (day - prev_day) / (next_day - prev_day)
           END AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS value_interp
    FROM anchored
    """,
)
def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a dense per-user daily grid — the gap
    filler for numeric sensor/finance series where resample_ffill's
    step function is wrong (the value between two readings is assumed
    to move linearly, not hold).

    Same scale shape as resample_ffill: the calendar grid is |users| ×
    |days| (bounded by the 20-user slice here; in production the grid is
    generated per key, never a global cross join of raw events), the
    observed series collapses to one row per (user, day) BEFORE the grid
    join, and both anchor windows (last-non-null backward, first-non-null
    forward) reuse ONE partition sort per user. Interpolation itself is
    pure Column arithmetic on the two anchor structs.
    """
    ev = load(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    series = ev.where(F.col("user_id") <= 20).select("user_id").distinct()
    grid = series.crossJoin(F.broadcast(days))
    observed = (
        ev.where((F.col("user_id") <= 20) & (F.col("event_type") == "purchase"))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.max_by("value", "event_id").alias("day_value"))
    )
    g = grid.join(observed, ["user_id", "day"], "left")
    w_prev = (
        W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    )
    w_next = (
        W.partitionBy("user_id").orderBy("day").rowsBetween(0, W.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    anchored = g.select(
        "user_id",
        "day",
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("prev_day"),
        F.last("day_value", ignorenulls=True).over(w_prev).alias("prev_val"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("next_day"),
        F.first("day_value", ignorenulls=True).over(w_next).alias("next_val"),
    )
    interp = (
        F.when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .when(F.col("next_day") == F.col("prev_day"), F.col("prev_val"))
        .otherwise(
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val"))
            * F.datediff("day", "prev_day")
            / F.datediff("next_day", "prev_day")
        )
    )
    return anchored.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.round(interp, 4).alias("value_interp"),
    )


@register(
    "welch_ttest",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN ((user_id % 2147483648) * 2654435761) % 4294967296 % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm,
               AVG(value) AS metric
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    per_arm AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               AVG(metric) AS m, VAR_SAMP(metric) AS v
        FROM per_user GROUP BY arm
    ),
    wide AS (
        SELECT MAX(CASE WHEN arm = 'control' THEN n END) AS n_c,
               MAX(CASE WHEN arm = 'control' THEN m END) AS m_c,
               MAX(CASE WHEN arm = 'control' THEN v END) AS v_c,
               MAX(CASE WHEN arm = 'treatment' THEN n END) AS n_t,
               MAX(CASE WHEN arm = 'treatment' THEN m END) AS m_t,
               MAX(CASE WHEN arm = 'treatment' THEN v END) AS v_t
        FROM per_arm
    )
    SELECT n_c, n_t,
           ROUND(m_c, 4) AS mean_control,
           ROUND(m_t, 4) AS mean_treatment,
           ROUND(m_t - m_c, 4) + 0.0 AS mean_diff,
           ROUND((m_t - m_c) / SQRT(v_c / n_c + v_t / n_t), 4) + 0.0 AS t_stat,
           ROUND(POW(v_c / n_c + v_t / n_t, 2)
                 / (POW(v_c / n_c, 2) / (n_c - 1)
                    + POW(v_t / n_t, 2) / (n_t - 1)), 2) AS df_welch
    FROM wide
    """,
)
def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test on a continuous metric
    (per-user average purchase value) between the same deterministic
    Knuth-hash arms ab_test_lift uses — the means counterpart to its
    proportions z-test, with the Welch–Satterthwaite df that stays valid
    when arm variances differ.

    Scale shape: the event stream collapses to one row per user (partial
    +final agg on the user key), per-arm moments are a 2-row aggregate,
    and the t/df formulas are scalar math on one row. Cost is one user-
    key aggregation regardless of event volume — the whole statistical
    layer rides on moments (n, mean, var), which partial-aggregate
    map-side like any algebraic agg.
    """
    per_user = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.avg("value").alias("metric"))
        .select(
            F.when(
                ((F.col("user_id") % F.lit(2147483648)) * F.lit(2654435761))
                % F.lit(4294967296) % 2 == 0,
                "control",
            )
            .otherwise("treatment")
            .alias("arm"),
            "metric",
        )
    )
    per_arm = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("metric").alias("m"),
        F.var_samp("metric").alias("v"),
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == "control", F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("arm") == "control", F.col("m"))).alias("m_c"),
        F.max(F.when(F.col("arm") == "control", F.col("v"))).alias("v_c"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("arm") == "treatment", F.col("m"))).alias("m_t"),
        F.max(F.when(F.col("arm") == "treatment", F.col("v"))).alias("v_t"),
    )
    se2_c = F.col("v_c") / F.col("n_c")
    se2_t = F.col("v_t") / F.col("n_t")
    t_stat = (F.col("m_t") - F.col("m_c")) / F.sqrt(se2_c + se2_t)
    df_w = F.pow(se2_c + se2_t, 2) / (
        F.pow(se2_c, 2) / (F.col("n_c") - 1) + F.pow(se2_t, 2) / (F.col("n_t") - 1)
    )
    return wide.select(
        "n_c",
        "n_t",
        F.round("m_c", 4).alias("mean_control"),
        F.round("m_t", 4).alias("mean_treatment"),
        (F.round(F.col("m_t") - F.col("m_c"), 4) + 0.0).alias("mean_diff"),
        (F.round(t_stat, 4) + 0.0).alias("t_stat"),
        F.round(df_w, 2).alias("df_welch"),
    )


@register(
    "psi_drift",
    oracle="""
    WITH span AS (
        SELECT MIN(epoch_us(ts)) AS t0u, MAX(epoch_us(ts)) AS t1u FROM events
    ),
    halves AS (
        SELECT CASE WHEN 2 * epoch_us(e.ts) < s.t0u + s.t1u
                    THEN 'ref' ELSE 'cur' END AS half,
               LEAST(GREATEST(CAST(FLOOR(e.value / 50) AS INTEGER), 0), 9) AS bin
        FROM events e CROSS JOIN span s
        WHERE e.event_type = 'purchase'
    ),
    counts AS (
        SELECT bin,
               SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS c_ref,
               SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS c_cur
        FROM halves GROUP BY bin
    ),
    shares AS (
        SELECT bin,
               GREATEST(c_ref * 1.0 / SUM(c_ref) OVER (), 1e-6) AS p_ref,
               GREATEST(c_cur * 1.0 / SUM(c_cur) OVER (), 1e-6) AS p_cur
        FROM counts
    )
    SELECT bin,
           ROUND(p_ref, 6) AS p_ref,
           ROUND(p_cur, 6) AS p_cur,
           ROUND((p_cur - p_ref) * LN(p_cur / p_ref), 6) + 0.0 AS psi_term,
           ROUND(SUM((p_cur - p_ref) * LN(p_cur / p_ref)) OVER (), 6) + 0.0
               AS psi_total
    FROM shares
    """,
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of the
    event horizon (purchase-value distribution over fixed 50-wide bins) —
    the drift monitor that gates model retraining and flags upstream
    pipeline shifts before they poison training data.

    Scale shape: the time midpoint is a 1-row scalar broadcast onto the
    unshuffled scan; binning is a scan-side expression; per-(half, bin)
    counts partial-aggregate map-side into ≤10 rows, and every window
    after that sees ≤10 rows. Fixed bin bounds (not quantiles) are what
    make the two distributions comparable and the result mergeable across
    snapshots. Zero-count bins clamp to 1e-6 so the log term stays
    finite — the standard PSI smoothing.
    """
    ev = load(spark, sf_dir, "events")
    # midpoint in integer µs (2·ts < t0+t1): engines disagree on halving a
    # day-bearing INTERVAL (DuckDB floors the day component), so no engine
    # divides anything
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("t0u"),
        F.max(F.unix_micros("ts")).alias("t1u"),
    )
    halves = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(span))
        .select(
            F.when(
                2 * F.unix_micros("ts") < F.col("t0u") + F.col("t1u"),
                "ref",
            )
            .otherwise("cur")
            .alias("half"),
            F.least(
                F.greatest(F.floor(F.col("value") / 50).cast("int"), F.lit(0)),
                F.lit(9),
            ).alias("bin"),
        )
    )
    counts = halves.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0)).alias("c_cur"),
    )
    w_all = W.partitionBy()
    shares = counts.select(
        "bin",
        F.greatest(F.col("c_ref") * 1.0 / F.sum("c_ref").over(w_all), F.lit(1e-6)).alias("p_ref"),
        F.greatest(F.col("c_cur") * 1.0 / F.sum("c_cur").over(w_all), F.lit(1e-6)).alias("p_cur"),
    )
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))
    return shares.select(
        "bin",
        F.round("p_ref", 6).alias("p_ref"),
        F.round("p_cur", 6).alias("p_cur"),
        (F.round(term, 6) + 0.0).alias("psi_term"),
        (F.round(F.sum(term).over(w_all), 6) + 0.0).alias("psi_total"),
    )


@register(
    "target_encoding",
    oracle="""
    WITH stats AS (
        SELECT event_type, SUM(value) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND((st.s - e.value) / (st.n - 1), 4) AS loo_mean
    FROM events e JOIN stats st ON e.event_type = st.event_type
    """,
)
def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's category (event_type) is
    replaced by the mean target (value) of OTHER rows in that category —
    the categorical featurizer that avoids leaking the row's own label
    into its feature (plain mean encoding overfits exactly that way).

    LOO mean = (Σ_category − own) / (n_category − 1): the category sums
    are a 5-row aggregate broadcast back onto the unshuffled scan, so
    encoding costs one partial+final agg plus a map-side join — never a
    per-row window over the raw table. The same two-pass shape works at
    any cardinality; a high-cardinality category column would shuffle on
    the category key instead of broadcasting.
    """
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.sum("value").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.round((F.col("s") - F.col("value")) / (F.col("n") - 1), 4).alias("loo_mean"),
    )


@register(
    "auc_roc",
    oracle="""
    WITH scored AS (
        SELECT value AS score,
               (event_type = 'purchase') AS label
        FROM events
    ),
    ranked AS (
        SELECT label,
               RANK() OVER (ORDER BY score) AS rk,
               COUNT(*) OVER (PARTITION BY score) AS ties
        FROM scored
    ),
    agg AS (
        SELECT CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
               CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS nn,
               SUM(CASE WHEN label THEN rk + (ties - 1) / 2.0 END) AS rank_sum
        FROM ranked
    )
    SELECT np AS n_pos, nn AS n_neg,
           ROUND((rank_sum - np * (np + 1) / 2.0) / (np * nn), 6) AS auc
    FROM agg
    """,
)
def auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC via the rank statistic (Mann–Whitney U): does `value`
    separate purchases from other events? AUC = (Σ positive ranks −
    n⁺(n⁺+1)/2) / (n⁺n⁻), with midrank tie handling — the exact AUC,
    not a trapezoid approximation over binned thresholds.

    Scale shape (ks_statistic's discipline): scores collapse to DISTINCT
    values FIRST via one combine-enabled hash aggregate — the only
    O(events) work — and the rank math runs on the |distinct scores|
    table: a tie group's minimum rank is (rows below)+1, so its midrank
    is below+(cnt+1)/2 and rank_sum = Σ pos_s·midrank_s, identical to
    per-row RANK + (ties−1)/2 (every term is a multiple of 0.5 far
    below 2^53, so both summation orders are float-exact). The one
    global-order window therefore sees rows bounded by the SCORE DOMAIN
    (fixed-precision scores cap it regardless of corpus size), never by
    the event log; a truly continuous 100 TB score column quantizes to
    working precision first, or falls back to per-partition U-statistic
    merge. (The pre-round-7 form ranked raw rows — |events| through a
    single-partition window sort.)
    """
    scored = load(spark, sf_dir, "events").select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    per_score = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("long").alias("pos"),
    )
    w_below = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    grouped = per_score.select(
        "cnt",
        "pos",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias("below"),
    )
    agg = grouped.agg(
        F.sum("pos").cast("long").alias("np"),
        (F.sum("cnt") - F.sum("pos")).cast("long").alias("nn"),
        F.sum(
            F.col("pos") * (F.col("below") + (F.col("cnt") + 1) / 2.0)
        ).alias("rank_sum"),
    )
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round(
            (F.col("rank_sum") - F.col("np") * (F.col("np") + 1) / 2.0)
            / (F.col("np") * F.col("nn")),
            6,
        ).alias("auc"),
    )


@register(
    "calibration_bins",
    oracle="""
    WITH scored AS (
        SELECT LEAST(GREATEST(value / 500.0, 0.0), 1.0) AS p,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    binned AS (
        SELECT LEAST(CAST(FLOOR(p * 10) AS INTEGER), 9) AS bin, p, y FROM scored
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(p), 4) AS mean_predicted,
           ROUND(AVG(y), 4) AS observed_rate
    FROM binned GROUP BY bin
    """,
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: bucket a predicted probability into 10 fixed
    bins and compare mean prediction against the observed event rate per
    bin — the calibration readout that tells you whether a score of 0.8
    means 80%. (The probability here is a deterministic normalization of
    `value`; a real model's score column would drop in unchanged.)

    Fixed bin edges (not quantiles) keep the aggregation one-pass and
    mergeable across data shards: a single partial+final agg on ≤10
    groups, no sort, no second scan — the same scale shape as
    value_histogram and psi_drift.
    """
    scored = load(spark, sf_dir, "events").select(
        F.least(F.greatest(F.col("value") / 500.0, F.lit(0.0)), F.lit(1.0)).alias("p"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"), "p", "y"
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("p"), 4).alias("mean_predicted"),
        F.round(F.avg("y"), 4).alias("observed_rate"),
    )


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, SUM(value) AS revenue
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE)
    ),
    cusum AS (
        SELECT d, revenue,
               COUNT(*) OVER () * SUM(revenue) OVER w_cum
                   - (ROW_NUMBER() OVER (ORDER BY d)) * SUM(revenue) OVER ()
                   AS c
        FROM daily
        WINDOW w_cum AS (ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(d AS VARCHAR) AS day,
           ROUND(revenue, 2) AS revenue,
           ROUND(c, 2) + 0.0 AS cusum_scaled,
           (ABS(c) = MAX(ABS(c)) OVER ()) AS is_changepoint
    FROM cusum
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over daily revenue: the running sum of
    deviations from the series mean peaks (in absolute value) at the most
    likely mean-shift point — the classic single-changepoint statistic,
    flagged per day so monitoring can alert on regime shifts the
    pointwise detectors (anomaly_zscore/anomaly_mad) miss.

    The statistic is emitted n-SCALED: cusum_scaled = n·Σ_{i≤t}rev_i −
    t·Σrev (= n·CUSUM_t). Dividing by n would put the true value on a
    round-half boundary (the unscaled series lands on exact .xx5 cents
    and the engines' float noise falls on opposite sides); the scaled
    form is an exact multiple of 0.01, the argmax day is unchanged
    (scaling is monotone), and no division ever happens.

    Aggregate-then-window throughout: raw events collapse to |days| rows
    first, then the cumulative sum and the arg-max flag are all windows
    over that tiny series — nothing wider than |days| ever crosses an
    exchange, the same discipline as pct_change/seasonal_daily.
    """
    daily = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum("value").alias("revenue"))
    )
    w_all = W.partitionBy()
    w_cum = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    cusum = daily.withColumn(
        "c",
        F.count(F.lit(1)).over(w_all) * F.sum("revenue").over(w_cum)
        - F.row_number().over(W.orderBy("d")) * F.sum("revenue").over(w_all),
    )
    return cusum.select(
        F.col("d").cast("string").alias("day"),
        F.round("revenue", 2).alias("revenue"),
        (F.round("c", 2) + 0.0).alias("cusum_scaled"),
        (F.abs(F.col("c")) == F.max(F.abs(F.col("c"))).over(w_all)).alias(
            "is_changepoint"
        ),
    )


@register(
    "rfm_segments",
    oracle="""
    WITH horizon AS (
        SELECT MAX(CAST(ts AS DATE)) AS h FROM events
    ),
    per_user AS (
        SELECT user_id,
               MAX(CAST(ts AS DATE)) AS last_purchase,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               SUM(value) AS monetary
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    rfm AS (
        SELECT p.user_id,
               CAST(h.h - p.last_purchase AS BIGINT) AS recency_days,
               p.frequency,
               p.monetary
        FROM per_user p CROSS JOIN horizon h
    )
    SELECT user_id, recency_days, frequency,
           ROUND(monetary, 2) AS monetary,
           NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
           NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
           NTILE(5) OVER (ORDER BY monetary ASC, user_id) AS m_score
    FROM rfm
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (days since last
    purchase, relative to the data's own horizon — no wall clock, same
    convention as churn_label), frequency, and monetary value, each
    quintile-scored 1–5 (5 = most recent / frequent / valuable) — the
    classic marketing segmentation every CRM pipeline computes.

    One user-key aggregation collapses the event stream; the horizon is
    a 1-row broadcast; the three NTILE windows run over the |users|
    aggregate (never raw events) with user_id tiebreaks so the quintile
    boundaries are deterministic in both engines.
    """
    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(F.max(F.col("ts").cast("date")).alias("h"))
    per_user = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_purchase"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("value").alias("monetary"),
        )
    )
    rfm = per_user.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.datediff("h", "last_purchase").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )
    return rfm.select(
        "user_id",
        "recency_days",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        F.ntile(5).over(W.orderBy(F.col("recency_days").desc(), "user_id")).alias("r_score"),
        F.ntile(5).over(W.orderBy(F.col("frequency").asc(), "user_id")).alias("f_score"),
        F.ntile(5).over(W.orderBy(F.col("monetary").asc(), "user_id")).alias("m_score"),
    )


@register(
    "late_arrival_audit",
    oracle="""
    WITH arr AS (
        SELECT event_id, user_id, ts,
               MAX(ts) OVER (ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_water
        FROM events
    ),
    flagged AS (
        SELECT user_id,
               CASE WHEN epoch_us(ts) < epoch_us(high_water) - 3600000000
                    THEN 1 ELSE 0 END AS is_late
        FROM arr
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_late) AS BIGINT) AS n_late,
           ROUND(SUM(is_late) * 1.0 / COUNT(*), 4) AS late_ratio
    FROM flagged
    GROUP BY user_id
    HAVING SUM(is_late) > 0
    """,
)
def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-drop accounting, batch-side: replaying events in arrival
    order (event_id), an event whose timestamp lags the running
    high-water mark by more than 1 hour is exactly what a streaming
    watermark of 1 hour would DROP. Per-user late counts tell you which
    sources need a longer watermark BEFORE the streaming job silently
    sheds their data — the capacity-planning audit behind every
    `withWatermark` setting in streaming/.

    One global arrival-order window computes the high-water mark (at
    scale: per ingest-partition high-water marks, the same shape), then
    a combine-enabled per-user aggregation; comparison in integer µs —
    no interval arithmetic, no engine drift.
    """
    ev = load(spark, sf_dir, "events")
    w_arr = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, 0)
    arr = ev.select(
        "user_id",
        "ts",
        F.max("ts").over(w_arr).alias("high_water"),
    )
    is_late = (
        F.unix_micros("ts") < F.unix_micros("high_water") - 3600000000
    ).cast("int")
    return (
        arr.select("user_id", is_late.alias("is_late"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("is_late").cast("long").alias("n_late"),
            F.round(F.sum("is_late") * 1.0 / F.count(F.lit(1)), 4).alias("late_ratio"),
        )
        .where(F.col("n_late") > 0)
    )


@register(
    "resample_ohlc",
    oracle="""
    WITH p AS (
        SELECT CAST(ts AS DATE) AS d, value, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn_z
        FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(d AS VARCHAR) AS day,
           ROUND(MIN(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
           ROUND(MAX(value), 2) AS high,
           ROUND(MIN(value), 2) AS low,
           ROUND(MIN(CASE WHEN rn_z = 1 THEN value END), 2) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           ROUND(SUM(value), 2) AS volume
    FROM p GROUP BY d
    """,
)
def resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: daily open/high/low/close bars over the purchase
    stream — the finance-standard resample where open/close are
    positional (first/last by time), not extremal, so plain min/max
    aggregation is wrong and the arg-extreme pair is the operator.

    One partial+final aggregation: min_by/max_by on the (µs, event_id)
    struct key pick the first/last trade deterministically (the id breaks
    same-microsecond ties identically in both engines), and partial
    min_by merges map-side like any algebraic aggregate — no window, no
    sort, |days| output rows regardless of trade volume.
    """
    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    tkey = F.struct(F.unix_micros("ts").alias("us"), F.col("event_id").alias("id"))
    return (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.round(F.min_by("value", tkey), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", tkey), 2).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
        .select(
            F.col("d").cast("string").alias("day"),
            "open",
            "high",
            "low",
            "close",
            "n_trades",
            "volume",
        )
    )


@register(
    "event_rate_burst",
    oracle="""
    WITH per_hour AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    with_base AS (
        SELECT event_type, h, n,
               AVG(n) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS base
        FROM per_hour
    )
    SELECT event_type, CAST(h AS VARCHAR) AS hour, n,
           ROUND(base, 4) AS baseline,
           ROUND(n / base, 4) AS burst_ratio
    FROM with_base
    WHERE base IS NOT NULL AND n / base >= 2.0
    """,
)
def event_rate_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-burst detection: hours where an event type's count reaches 2×
    its trailing-24-hour mean — the ops-monitoring complement of the
    VALUE anomaly detectors (anomaly_zscore/mad watch how much; this
    watches how often — retry storms, scraper bursts, bot floods).

    Raw events collapse to (type, hour) counts first (combine-enabled),
    so the trailing window runs over |types|×|hours| rows; the baseline
    excludes the current hour (1 PRECEDING) so a burst can't suppress its
    own detection. Integer counts divide as doubles identically in both
    engines.
    """
    per_hour = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    with_base = per_hour.withColumn("base", F.avg("n").over(w))
    return with_base.where(
        F.col("base").isNotNull() & (F.col("n") / F.col("base") >= 2.0)
    ).select(
        "event_type",
        F.col("h").cast("string").alias("hour"),
        "n",
        F.round("base", 4).alias("baseline"),
        F.round(F.col("n") / F.col("base"), 4).alias("burst_ratio"),
    )


@register(
    "interarrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(ROUND(AVG(gap_us / 1000000.0), 2) AS DOUBLE) AS mean_gap_s,
           CAST(ROUND(MEDIAN(gap_us / 1000000.0), 2) AS DOUBLE) AS p50_gap_s,
           CAST(ROUND(quantile_cont(gap_us / 1000000.0, 0.9), 2) AS DOUBLE)
               AS p90_gap_s
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY user_id
    HAVING COUNT(gap_us) >= 5
    """,
)
def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per user (mean/p50/p90 of gaps
    between consecutive events) — the burstiness feature behind bot
    detection (machine-regular gaps), engagement scoring, and arrival-
    process capacity models; the per-user complement of event_debounce's
    burst suppression.

    One lag() window per user computes gaps in integer µs (the (ts, id)
    order ties deterministically), then a combine-enabled aggregate with
    exact percentiles over each user's bounded gap list. Users with <5
    gaps are dropped (percentiles meaningless). Gaps convert to seconds
    before rounding so both engines round the same magnitude.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = load(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )
    g = gaps.where(F.col("gap_us").isNotNull()).select(
        "user_id", (F.col("gap_us") / 1000000.0).alias("gap_s")
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.round(F.avg("gap_s"), 2).alias("mean_gap_s"),
            F.round(F.percentile("gap_s", F.lit(0.5)), 2).alias("p50_gap_s"),
            F.round(F.percentile("gap_s", F.lit(0.9)), 2).alias("p90_gap_s"),
        )
        .where(F.col("n_gaps") >= 5)
    )


@register(
    "session_stats",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                        > 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, event_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_s
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(AVG(n_events), 4) AS avg_events,
           ROUND(AVG(duration_s), 2) AS avg_duration_s,
           ROUND(MAX(duration_s), 2) AS max_duration_s
    FROM per_session GROUP BY user_id
    """,
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session metrics (count, mean events/session, mean and max
    duration) over 30-minute-gap sessionization — the product-analytics
    readout on top of the raw sessionizer (window_session emits the
    sessions; THIS is the number a dashboard shows). Same gaps-and-
    islands base: boundary flag from an integer-µs lag comparison,
    session ids from the running flag sum, both windows sharing ONE
    partition sort per user; then two combine-enabled aggregations.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = w.rowsBetween(W.unboundedPreceding, 0)
    prev_us = F.unix_micros(F.lag("ts").over(w))
    flagged = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev_us.isNull()
            | (F.unix_micros("ts") - prev_us > 1800000000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(w_cum)
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1000000.0
        ).alias("duration_s"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.round(F.avg("duration_s"), 2).alias("avg_duration_s"),
        F.round(F.max("duration_s"), 2).alias("max_duration_s"),
    )


@register(
    "stickiness_dau_mau",
    oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    fan AS (
        SELECT user_id, day AS active_day,
               CAST(UNNEST(generate_series(CAST(day AS TIMESTAMP),
                   CAST(day + INTERVAL 29 DAY AS TIMESTAMP),
                   INTERVAL 1 DAY)) AS DATE) AS obs_day
        FROM user_days
    ),
    mau AS (
        SELECT obs_day AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM fan GROUP BY obs_day
    ),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM user_days GROUP BY day
    )
    SELECT CAST(d.day AS VARCHAR) AS day_str, d.dau, m.mau,
           ROUND(d.dau * 1.0 / m.mau, 4) AS stickiness
    FROM dau d JOIN mau m ON d.day = m.day
    """,
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — THE product engagement ratio (what
    fraction of the monthly audience shows up daily). Exact trailing
    30-day distinct users via sliding_distinct_users' collapse-then-fan
    shape: raw events first reduce to DISTINCT (user, day) pairs, each
    pair fans into the 30 observation days it supports, and the
    30-day distinct count is then exact per day — the fan-out is over
    the BOUNDED pair set, never raw events. Day strings only after the
    joins (both engines compare dates, not strings).

    Output restricted to days where the full join exists; stickiness is
    a single rounded division. At 100 TB the (user, day) reduction is
    the whole trick — events collapse by ~10³ before anything fans out,
    and the reduced pair set feeds both the 30-day fan (MAU) and the day
    count (DAU).
    """
    ev = load(spark, sf_dir, "events")
    # Kept (d): lazy raises shuffle bytes 18,218 -> 22,611 B at sf0.01.
    user_days = iter_materialize(
        ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    )
    fan = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 29))
        ).alias("obs_day"),
    )
    mau = fan.groupBy(F.col("obs_day").alias("day")).agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    )
    dau = user_days.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    return dau.join(mau, "day").select(
        F.col("day").cast("string").alias("day_str"),
        "dau",
        "mau",
        F.round(F.col("dau") * 1.0 / F.col("mau"), 4).alias("stickiness"),
    )


@register(
    "revenue_nrr",
    oracle="""
    WITH monthly AS (
        SELECT user_id, date_trunc('month', ts) AS m, SUM(value) AS rev
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, date_trunc('month', ts)
    ),
    paired AS (
        SELECT a.m AS base_month, SUM(a.rev) AS base_rev,
               SUM(COALESCE(b.rev, 0)) AS next_rev
        FROM monthly a
        LEFT JOIN monthly b
          ON a.user_id = b.user_id AND b.m = a.m + INTERVAL 1 MONTH
        GROUP BY a.m
    )
    SELECT CAST(CAST(base_month AS DATE) AS VARCHAR) AS month,
           ROUND(base_rev, 2) AS base_revenue,
           ROUND(next_rev, 2) AS retained_revenue,
           ROUND(next_rev / base_rev, 4) AS nrr
    FROM paired WHERE base_rev > 0
    """,
)
def revenue_nrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue retention per month: of each month's paying users, how
    much they spend the FOLLOWING month, as a fraction of the base —
    the revenue-weighted counterpart of retention_cohorts' user counts
    (expansion can push NRR above 1; the number a subscription business
    steers by).

    Events collapse to (user, month, revenue) first (combine-enabled);
    the month-over-month pairing is a self-equi-join on the user key
    with a one-month offset — cohort revenue never fans out, and the
    final accounting is |months| rows.
    """
    monthly = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("month", "ts").alias("m"))
        .agg(F.sum("value").alias("rev"))
    )
    b = monthly.select(
        F.col("user_id").alias("user_b"),
        F.col("m").alias("m_b"),
        F.col("rev").alias("rev_b"),
    )
    paired = (
        monthly.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("m_b") == F.add_months(F.col("m"), 1)),
            "left",
        )
        .groupBy(F.col("m").alias("base_month"))
        .agg(
            F.sum("rev").alias("base_rev"),
            F.sum(F.coalesce("rev_b", F.lit(0.0))).alias("next_rev"),
        )
    )
    return paired.where(F.col("base_rev") > 0).select(
        F.col("base_month").cast("date").cast("string").alias("month"),
        F.round("base_rev", 2).alias("base_revenue"),
        F.round("next_rev", 2).alias("retained_revenue"),
        F.round(F.col("next_rev") / F.col("base_rev"), 4).alias("nrr"),
    )


@register(
    "survival_km",
    oracle="""
    WITH lastd AS (
        SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    hor AS (SELECT MAX(last_day) AS horizon FROM lastd),
    deaths AS (
        SELECT last_day AS d, CAST(COUNT(*) AS BIGINT) AS churned
        FROM lastd, hor WHERE last_day < horizon GROUP BY last_day
    ),
    total AS (SELECT COUNT(*) AS n FROM lastd),
    curve AS (
        SELECT d, churned,
               (SELECT n FROM total)
                   - COALESCE(SUM(churned) OVER (ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS at_risk
        FROM deaths
    )
    SELECT CAST(d AS VARCHAR) AS day, churned,
           CAST(at_risk AS BIGINT) AS at_risk,
           ROUND(EXP(SUM(LN(1 - churned * 1.0 / at_risk))
                     OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)), 6) AS survival
    FROM curve
    """,
)
def survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over user lifetimes: churn day = a
    user's last observed event; users still active on the final day of
    the horizon are CENSORED (observation ended, not churn) — the
    estimator retention dashboards should use instead of naive
    "active/total" ratios, because censoring is exactly what those
    ratios get wrong. S(d) = prod over days <= d of (1 - churned/at_risk).

    Scale shape: one user-key aggregate collapses the 100 TB event log to
    |users| last-seen rows; deaths collapse to |days|; every window (the
    at-risk countdown and the cumulative product) runs on the |days|-row
    curve. The product is EXP(SUM(LN(.))) — formulated IDENTICALLY in the
    oracle so both engines walk the same float path (round 6dp).
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    lastd = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_day")
    )
    # horizon and cohort size in ONE 1-row aggregate (two separate aggs
    # would each re-derive the user-key collapse — a third events pass);
    # n rides through the deaths aggregate as a constant so the curve
    # needs no second broadcast join.
    stats = lastd.agg(
        F.max("last_day").alias("horizon"),
        F.count(F.lit(1)).alias("n"),
    )
    deaths = (
        lastd.join(F.broadcast(stats))
        .where(F.col("last_day") < F.col("horizon"))
        .groupBy(F.col("last_day").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("churned"),
            F.max("n").alias("n"),
        )
    )
    wprev = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    curve = deaths.select(
        "d",
        "churned",
        (F.col("n") - F.coalesce(F.sum("churned").over(wprev), F.lit(0))).alias(
            "at_risk"
        ),
    )
    return curve.select(
        F.col("d").cast("string").alias("day"),
        "churned",
        F.col("at_risk").cast("long").alias("at_risk"),
        F.round(
            F.exp(
                F.sum(F.log(1 - F.col("churned") * 1.0 / F.col("at_risk"))).over(wcum)
            ),
            6,
        ).alias("survival"),
    )


@register(
    "pr_curve",
    oracle="""
    WITH scored AS (
        SELECT LEAST(GREATEST(value / 500.0, 0.0), 1.0) AS p,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    thr AS (SELECT UNNEST([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                AS threshold)
    SELECT threshold,
           CAST(SUM(CASE WHEN p >= threshold AND y = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN p >= threshold THEN 1 ELSE 0 END) AS BIGINT)
               AS predicted_pos,
           ROUND(SUM(CASE WHEN p >= threshold AND y = 1 THEN 1 ELSE 0 END) * 1.0
                 / NULLIF(SUM(CASE WHEN p >= threshold THEN 1 ELSE 0 END), 0), 4)
               AS precision,
           ROUND(SUM(CASE WHEN p >= threshold AND y = 1 THEN 1 ELSE 0 END) * 1.0
                 / NULLIF(SUM(y), 0), 4) AS recall
    FROM scored CROSS JOIN thr
    GROUP BY threshold
    """,
)
def pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision–recall curve at 9 fixed thresholds — the operating-point
    sweep that closes the eval family (auc_roc summarizes ranking,
    calibration_bins checks probability meaning, this picks the
    deployment threshold). Score/label convention shared with
    calibration_bins (clamped value/500 vs purchase).

    Scale shape: the 9-row threshold table fans the scan 9× BEFORE the
    aggregate, so the whole sweep is still one partial+final HashAggregate
    on ≤9 groups — no per-threshold re-scan, no global sort (the exact-AUC
    route); at 100 TB the 9× row multiplier beats 9 scans and the
    alternative (sort by score, cumulative windows) beats both only when
    you need ALL operating points, which is auc_roc's job.
    """
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.least(F.greatest(F.col("value") / 500.0, F.lit(0.0)), F.lit(1.0)).alias("p"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    thr = F.explode(F.array(*[F.lit(i / 10.0) for i in range(1, 10)])).alias(
        "threshold"
    )
    fanned = scored.select("p", "y", thr)
    hit = (F.col("p") >= F.col("threshold")).cast("long")
    return fanned.groupBy("threshold").agg(
        F.sum(hit * F.col("y")).cast("long").alias("tp"),
        F.sum(hit).cast("long").alias("predicted_pos"),
        F.round(
            F.sum(hit * F.col("y")) * 1.0 / F.nullif(F.sum(hit), F.lit(0)), 4
        ).alias("precision"),
        F.round(F.sum(hit * F.col("y")) * 1.0 / F.nullif(F.sum("y"), F.lit(0)), 4).alias(
            "recall"
        ),
    )


@register(
    "bandit_ucb",
    oracle="""
    WITH arms AS (
        SELECT event_type AS arm,
               CAST(COUNT(*) AS BIGINT) AS n_pulls,
               ROUND(AVG(CASE WHEN value > 250 THEN 1.0 ELSE 0.0 END), 6)
                   AS mean_reward
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type
    ),
    tot AS (SELECT SUM(n_pulls) AS big_n FROM arms),
    scored AS (
        SELECT arm, n_pulls, mean_reward,
               ROUND(mean_reward + SQRT(2 * LN(big_n) / n_pulls), 6) AS ucb
        FROM arms, tot
    )
    SELECT arm, n_pulls, mean_reward, ucb,
           CASE WHEN ROW_NUMBER() OVER (ORDER BY ucb DESC, arm) = 1
                THEN TRUE ELSE FALSE END AS next_pick
    FROM scored
    """,
)
def bandit_ucb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 multi-armed-bandit allocation readout: per arm (event type
    standing in for a variant), pull count, mean reward, and the
    UCB1 score mean + sqrt(2 ln N / n) — the optimism bonus that makes
    under-explored arms win the next pull. The argmax arm is flagged
    deterministically (score, then arm name). This is the adaptive
    sibling of ab_test_lift's fixed-split readout: the same one-pass
    aggregation feeds an allocator instead of a significance test.

    Scale shape: one combine-enabled aggregate collapses the event log to
    |arms| rows; the total N is an unpartitioned window SUM over that
    tiny table (aggregate-then-window, as share_of_total — the
    pre-reshape separate 1-row total + broadcast join re-executed the
    arms aggregate, 2 events scans with zero runtime reuse), and the
    scores and argmax window run on the same |arms| rows. The ln/sqrt
    math runs on identical doubles in both engines, rounded at 6dp.
    """
    from pyspark.sql import Window

    arms = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy(F.col("event_type").alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pulls"),
            F.round(
                F.avg(F.when(F.col("value") > 250, 1.0).otherwise(0.0)), 6
            ).alias("mean_reward"),
        )
    )
    big_n = F.sum("n_pulls").over(Window.partitionBy())
    scored = arms.select(
        "arm",
        "n_pulls",
        "mean_reward",
        F.round(
            F.col("mean_reward") + F.sqrt(2 * F.log(big_n) / F.col("n_pulls")),
            6,
        ).alias("ucb"),
    )
    w = Window.orderBy(F.col("ucb").desc(), F.col("arm"))
    return scored.select(
        "arm",
        "n_pulls",
        "mean_reward",
        "ucb",
        (F.row_number().over(w) == 1).alias("next_pick"),
    )


@register(
    "gains_deciles",
    oracle="""
    WITH scored AS (
        SELECT event_id,
               LEAST(GREATEST(value / 500.0, 0.0), 1.0) AS p,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
        SELECT p, y, NTILE(10) OVER (ORDER BY p DESC, event_id) AS decile
        FROM scored
    ),
    agg AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS positives
        FROM ranked GROUP BY decile
    )
    SELECT decile, n, positives,
           ROUND(SUM(positives) OVER (ORDER BY decile
                     ROWS UNBOUNDED PRECEDING) * 1.0
                 / NULLIF(SUM(positives) OVER (), 0), 4) AS cum_capture,
           ROUND(positives * 10.0 / NULLIF(SUM(positives) OVER (), 0), 4)
               AS lift
    FROM agg
    """,
)
def gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table: rank by model score, cut into
    deciles, report what share of all positives the top-k deciles capture
    and each decile's lift over random — the campaign-targeting readout
    ("mail the top 2 deciles, get 44% of converters"). Ranked-decile
    complement of pr_curve's fixed thresholds; same score/label
    convention as calibration_bins. The NTILE tiebreak is pinned with
    event_id so decile boundaries are engine-stable.

    Scale shape: one global sort (the unavoidable cost of exact ranked
    deciles — same family as auc_roc), then all windows run on the 10-row
    aggregate. Approximate deciles via approx_quantile edges would remove
    the sort at 100 TB; this is the exact reference form.
    """
    from pyspark.sql import Window

    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            F.least(F.greatest(F.col("value") / 500.0, F.lit(0.0)), F.lit(1.0)).alias("p"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    ranked = scored.select(
        "p",
        "y",
        F.ntile(10).over(Window.orderBy(F.col("p").desc(), F.col("event_id"))).alias(
            "decile"
        ),
    )
    agg = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("positives"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return agg.select(
        "decile",
        "n",
        "positives",
        F.round(
            F.sum("positives").over(wcum) * 1.0
            / F.nullif(F.sum("positives").over(wall), F.lit(0)),
            4,
        ).alias("cum_capture"),
        F.round(
            F.col("positives") * 10.0
            / F.nullif(F.sum("positives").over(wall), F.lit(0)),
            4,
        ).alias("lift"),
    )


@register(
    "ks_statistic",
    oracle="""
    WITH scored AS (
        SELECT LEAST(GREATEST(value / 500.0, 0.0), 1.0) AS p,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    per_score AS (
        SELECT p, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM scored GROUP BY p
    ),
    cdfs AS (
        SELECT p,
               SUM(pos) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) * 1.0
                   / NULLIF(SUM(pos) OVER (), 0) AS cdf_pos,
               SUM(neg) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) * 1.0
                   / NULLIF(SUM(neg) OVER (), 0) AS cdf_neg
        FROM per_score
    )
    SELECT ROUND(MAX(ABS(cdf_pos - cdf_neg)), 6) AS ks,
           CAST(COUNT(*) AS BIGINT) AS n_score_points
    FROM cdfs
    """,
)
def ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov separation: the maximum gap between the score
    CDFs of the positive and negative classes — credit-scoring's
    standard single-number discriminative-power metric next to auc_roc
    (AUC integrates the separation; KS takes its max, and names the
    score cutoff where separation peaks). Scores are grouped to distinct
    values FIRST, so ties contribute atomically and the result cannot
    depend on within-tie row order.

    Scale shape: the per-score aggregate collapses the event log to
    |distinct scores| rows; the CDF windows and the max run on that
    table. Like auc_roc, the exact statistic needs one global ordering
    of score points — |scores|, not |events|.
    """
    from pyspark.sql import Window

    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.least(F.greatest(F.col("value") / 500.0, F.lit(0.0)), F.lit(1.0)).alias("p"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    per_score = scored.groupBy("p").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    wcum = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cdfs = per_score.select(
        (
            F.sum("pos").over(wcum) * 1.0 / F.nullif(F.sum("pos").over(wall), F.lit(0))
        ).alias("cdf_pos"),
        (
            F.sum("neg").over(wcum) * 1.0 / F.nullif(F.sum("neg").over(wall), F.lit(0))
        ).alias("cdf_neg"),
    )
    return cdfs.agg(
        F.round(F.max(F.abs(F.col("cdf_pos") - F.col("cdf_neg"))), 6).alias("ks"),
        F.count(F.lit(1)).cast("long").alias("n_score_points"),
    )


@register(
    "rolling_zscore",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, ROUND(SUM(value), 2) AS revenue
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE)
    ),
    stats AS (
        SELECT d, revenue,
               AVG(revenue) OVER w AS mu,
               STDDEV_SAMP(revenue) OVER w AS sigma,
               COUNT(*) OVER w AS n_base
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
    )
    SELECT CAST(d AS VARCHAR) AS day, revenue,
           CAST(n_base AS BIGINT) AS n_base,
           ROUND((revenue - mu) / NULLIF(sigma, 0), 4) + 0.0 AS z,
           COALESCE(ABS((revenue - mu) / NULLIF(sigma, 0)) > 2, FALSE)
               AS is_outlier
    FROM stats
    WHERE n_base >= 7
    """,
)
def rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAILING-window z-score: each day scored against the mean/stddev of
    its own preceding 14 days (current day excluded — including it
    dilutes the very anomaly being scored) — the adaptive form of
    anomaly_zscore's global statistics, which go stale the moment the
    series has trend or seasonality. Days with under 7 baseline
    observations are suppressed (a z-score against 3 points is noise).

    Scale shape identical to the rest of the daily-series family: the
    event log collapses to |days| rows first; the trailing frame is a
    ROWS window on that tiny series. On both engines the frame excludes
    the current row identically (14 PRECEDING .. 1 PRECEDING).
    """
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("revenue"))
    )
    w = Window.orderBy("d").rowsBetween(-14, -1)
    stats = daily.select(
        "d",
        "revenue",
        F.avg("revenue").over(w).alias("mu"),
        F.stddev_samp("revenue").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_base"),
    )
    z = (F.col("revenue") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0))
    return (
        stats.where(F.col("n_base") >= 7)
        .select(
            F.col("d").cast("string").alias("day"),
            "revenue",
            F.col("n_base").cast("long").alias("n_base"),
            (F.round(z, 4) + 0.0).alias("z"),
            F.coalesce(F.abs(z) > 2, F.lit(False)).alias("is_outlier"),
        )
    )


@register(
    "attribution_decay",
    oracle="""
    WITH purchases AS (
        SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT event_id AS t_id, user_id, event_type AS touch_type,
               CAST(ts AS TIMESTAMP) AS t_ts
        FROM events WHERE event_type IN ('click', 'view')
    ),
    weighted AS (
        SELECT p.p_id, t.touch_type,
               POWER(0.5, EPOCH_US(p.p_ts - t.t_ts) / 1800000000.0) AS w
        FROM purchases p JOIN touches t
          ON p.user_id = t.user_id
         AND t.t_ts <= p.p_ts
         AND t.t_ts > p.p_ts - INTERVAL 2 HOUR
    ),
    shared AS (
        SELECT touch_type, w / SUM(w) OVER (PARTITION BY p_id) AS credit
        FROM weighted
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(credit), 4) AS total_credit
    FROM shared
    GROUP BY touch_type
    """,
)
def attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution: every click/view in the 2-hour
    lookback before a purchase earns credit 0.5^(age/30min), normalized
    so each purchase distributes exactly 1.0 across its touches — the
    multi-touch model between attribution_touch's all-or-nothing
    first/last rules (recent touches matter more, but nothing is zeroed).
    Decay exponents come from exact integer-microsecond age (µs-diff is
    the one timestamp arithmetic both engines agree on bit-for-bit), so
    the weights are identical doubles cross-engine.

    Plan shape is attribution_touch's: user-key equi-join with the
    residual time band, per-purchase normalization as a window over each
    purchase's own touches (bounded by the lookback), then one tiny
    aggregate per touch type.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    touches = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("t_ts"),
    )
    age_us = F.unix_micros("p_ts") - F.unix_micros("t_ts")
    weighted = (
        purchases.join(
            touches,
            (F.col("p_user") == F.col("t_user"))
            & (F.col("t_ts") <= F.col("p_ts"))
            & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 2 HOURS")),
        )
        .select(
            "p_id", "touch_type", F.pow(0.5, age_us / 1800000000.0).alias("w")
        )
    )
    shared = weighted.select(
        "touch_type",
        (F.col("w") / F.sum("w").over(Window.partitionBy("p_id"))).alias("credit"),
    )
    return shared.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.round(F.sum("credit"), 4).alias("total_credit"),
    )


@register(
    "session_funnel",
    oracle="""
    WITH gaps AS (
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - LAG(CAST(ts AS TIMESTAMP))
                               OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    islands AS (
        SELECT user_id, event_type, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM gaps
    ),
    sessions AS (
        SELECT user_id, sess_no,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
               MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
        FROM islands
        GROUP BY user_id, sess_no
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_signup,
           CAST(SUM(CASE WHEN last_purchase >= first_signup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           ROUND(SUM(CASE WHEN last_purchase >= first_signup THEN 1 ELSE 0 END)
                 * 1.0 /
                 NULLIF(SUM(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END),
                        0), 4) AS conv_rate
    FROM sessions
    """,
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-session conversion funnel: of the sessions (30-min gaps,
    window_session's definition) that contain a signup, how many reach a
    purchase AT OR AFTER that signup before the session ends —
    funnel_steps answers "did the user ever convert", this answers "did
    the VISIT convert", the number a landing-page change actually moves.
    The ordering constraint is one conditional min/max pair per session
    (first signup vs last purchase), no per-step self-join.

    Scale shape: session assignment is the engine's session_window merge
    (one user-key exchange); per-session flags are a combine-enabled
    aggregate; the funnel rollup runs on |sessions| rows.
    """
    ev = load(spark, sf_dir, "events")
    sessions = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
    )
    converted = (F.col("last_purchase") >= F.col("first_signup")).cast("long")
    with_signup = F.col("first_signup").isNotNull().cast("long")
    return sessions.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(with_signup).cast("long").alias("n_with_signup"),
        F.sum(F.coalesce(converted, F.lit(0))).cast("long").alias("n_converted"),
        F.round(
            F.sum(F.coalesce(converted, F.lit(0)))
            * 1.0
            / F.nullif(F.sum(with_signup), F.lit(0)),
            4,
        ).alias("conv_rate"),
    )


@register(
    "cohort_ltv",
    oracle="""
    WITH firstseen AS (
        SELECT user_id,
               MIN(CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE))
                   AS cohort_week
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    ),
    spend AS (
        SELECT e.user_id, f.cohort_week,
               CAST((CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)
                     - f.cohort_week) / 7 AS BIGINT) AS week_offset,
               e.value
        FROM events e JOIN firstseen f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
    ),
    weekly AS (
        SELECT cohort_week, week_offset, SUM(value) AS revenue
        FROM spend GROUP BY cohort_week, week_offset
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS cohort_users FROM firstseen
        GROUP BY cohort_week
    )
    SELECT CAST(w.cohort_week AS VARCHAR) AS cohort_week,
           w.week_offset,
           CAST(s.cohort_users AS BIGINT) AS cohort_users,
           ROUND(SUM(w.revenue) OVER (PARTITION BY w.cohort_week
                                      ORDER BY w.week_offset
                                      ROWS UNBOUNDED PRECEDING)
                 / s.cohort_users, 4) AS cum_ltv_per_user
    FROM weekly w JOIN sizes s ON w.cohort_week = s.cohort_week
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen week,
    cumulative purchase revenue per cohort member by week offset — the
    revenue companion to retention_cohorts' user counts, and the curve
    payback-period decisions read ("week-0 acquisition cost is repaid by
    week N"). Dividing by the FULL cohort size (not just active users)
    keeps curves comparable across cohorts.

    Scale shape: first-seen is one user-key aggregate; spend re-joins on
    the user key only; the cumulative window runs per cohort over
    |offsets| rows. Weeks are date_trunc buckets, identical on both
    engines; offsets are exact integer day arithmetic.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    week = lambda c: F.date_trunc("week", c).cast("date")  # noqa: E731
    firstseen = ev.groupBy("user_id").agg(
        F.min(week(F.col("ts"))).alias("cohort_week")
    )
    spend = (
        ev.where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .join(firstseen, "user_id")
        .select(
            "cohort_week",
            (F.datediff(week(F.col("ts")), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
            "value",
        )
    )
    weekly = spend.groupBy("cohort_week", "week_offset").agg(
        F.sum("value").alias("revenue")
    )
    sizes = firstseen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        weekly.join(sizes, "cohort_week")
        .select(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            "week_offset",
            F.col("cohort_users").cast("long").alias("cohort_users"),
            F.round(
                F.sum("revenue").over(wcum) / F.col("cohort_users"), 4
            ).alias("cum_ltv_per_user"),
        )
    )


@register(
    "cdc_aggregate",
    oracle="""
    WITH base AS (
        -- exact integer mills: 2dp prices scale losslessly, and the +10%
        -- update (x11/10 on a mills value divisible by 10) stays integer,
        -- so no engine ever rounds a half boundary
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(o_totalprice * 1000) AS BIGINT) AS base_m,
               CAST(ROUND(o_totalprice * 1000) AS BIGINT) * 11 // 10 AS upd_m
        FROM orders
    ),
    changelog AS (
        SELECT o_orderpriority, 'I' AS op, base_m AS price_m,
               CAST(NULL AS BIGINT) AS old_m
        FROM base
        UNION ALL
        SELECT o_orderpriority, 'U', upd_m, base_m
        FROM base WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderpriority, 'D', upd_m, CAST(NULL AS BIGINT)
        FROM base WHERE o_orderkey % 10 = 0
    ),
    incremental AS (
        SELECT o_orderpriority,
               SUM(CASE op WHEN 'I' THEN 1 WHEN 'D' THEN -1 ELSE 0 END)
                   AS n_orders,
               SUM(CASE op WHEN 'I' THEN price_m
                           WHEN 'U' THEN price_m - old_m
                           WHEN 'D' THEN -price_m END) AS total_m
        FROM changelog GROUP BY o_orderpriority
    ),
    final_state AS (
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               SUM(CASE WHEN o_orderkey % 5 = 0 THEN upd_m ELSE base_m END)
                   AS total_m
        FROM base WHERE o_orderkey % 10 <> 0
        GROUP BY o_orderpriority
    )
    SELECT i.o_orderpriority,
           CAST(i.n_orders AS BIGINT) AS n_orders,
           ROUND(CAST(i.total_m AS DOUBLE) / 1000, 3) AS total_price,
           (CAST(i.n_orders AS BIGINT) = CAST(f.n_orders AS BIGINT)
            AND i.total_m = f.total_m) AS matches_recompute
    FROM incremental i JOIN final_state f
      ON i.o_orderpriority = f.o_orderpriority
    """,
)
def cdc_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION-aware changelog aggregation — the materialized-view
    kernel under every streaming SQL engine (Flink retract streams, Delta
    CDF consumers): inserts add, updates contribute their DELTA
    (new − old), deletes subtract, and the aggregate maintained purely
    from the change stream must equal a full recompute over the final
    state — which is the oracle's own cross-check, emitted per group as
    `matches_recompute`. incremental_agg proves batch merge of partials;
    this proves the harder property that per-ROW retractions compose,
    i.e. the view never needs the base table again.

    The changelog is derived deterministically (every order inserted,
    every 5th updated +10%, every 10th deleted); one combine-enabled pass
    over it maintains the view regardless of how many changes a key saw.
    """
    from pythonmapreduce_spark.plans.materialize import iter_materialize

    # Kept (c): lazy, the final plan scans orders 4x with no exchange reuse.
    base = iter_materialize(
        load(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderpriority",
            # exact integer mills (see oracle comment): the one
            # representation where +10% and per-row retractions never
            # meet a round boundary
            F.round(F.col("o_totalprice") * 1000).cast("long").alias("base_m"),
            F.expr("CAST(ROUND(o_totalprice * 1000) AS BIGINT) * 11 div 10").alias(
                "upd_m"
            ),
        )
    )
    inserts = base.select(
        "o_orderpriority",
        F.lit("I").alias("op"),
        F.col("base_m").alias("price_m"),
        F.lit(None).cast("long").alias("old_m"),
    )
    updates = base.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderpriority",
        F.lit("U").alias("op"),
        F.col("upd_m").alias("price_m"),
        F.col("base_m").alias("old_m"),
    )
    deletes = base.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderpriority",
        F.lit("D").alias("op"),
        F.col("upd_m").alias("price_m"),
        F.lit(None).cast("long").alias("old_m"),
    )
    changelog = inserts.unionAll(updates).unionAll(deletes)
    incremental = changelog.groupBy("o_orderpriority").agg(
        F.sum(
            F.when(F.col("op") == "I", 1).when(F.col("op") == "D", -1).otherwise(0)
        )
        .cast("long")
        .alias("n_orders"),
        F.sum(
            F.when(F.col("op") == "I", F.col("price_m"))
            .when(F.col("op") == "U", F.col("price_m") - F.col("old_m"))
            .otherwise(-F.col("price_m"))
        ).alias("total_m"),
    )
    final_state = (
        base.where(F.col("o_orderkey") % 10 != 0)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_f"),
            F.sum(
                F.when(F.col("o_orderkey") % 5 == 0, F.col("upd_m")).otherwise(
                    F.col("base_m")
                )
            ).alias("t_f"),
        )
    )
    return incremental.join(final_state, "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("total_m").cast("double") / 1000, 3).alias("total_price"),
        (
            (F.col("n_orders") == F.col("n_f")) & (F.col("total_m") == F.col("t_f"))
        ).alias("matches_recompute"),
    )


@register(
    "stl_lite",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, ROUND(SUM(value), 2) AS revenue
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE)
    ),
    trended AS (
        SELECT d, revenue,
               AVG(revenue) OVER (ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
               COUNT(*) OVER (ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsize
        FROM daily
    ),
    detrended AS (
        SELECT d, revenue, trend, revenue - trend AS detr,
               CAST(dayofweek(d) AS BIGINT) AS dow
        FROM trended WHERE wsize = 7
    ),
    seasonal AS (
        SELECT dow, AVG(detr) AS s FROM detrended GROUP BY dow
    )
    SELECT CAST(t.d AS VARCHAR) AS day, t.revenue,
           ROUND(t.trend, 4) AS trend,
           ROUND(s.s, 4) + 0.0 AS seasonal,
           ROUND(t.detr - s.s, 4) + 0.0 AS residual
    FROM detrended t JOIN seasonal s ON t.dow = s.dow
    """,
)
def stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend + seasonal + residual decomposition (moving-average STL
    skeleton): trend = centered 7-day mean, seasonal = day-of-week mean
    of the DETRENDED series, residual = the rest — the decomposition an
    anomaly detector should score residuals of (seasonal_daily removes
    weekday shape but mistakes trend for anomaly; this removes both).
    Edge days without a full 7-day window are excluded rather than
    averaged over a ragged frame (a 4-day "trend" biases the seasonal
    fit).

    Scale: the event log collapses to |days| first; the centered window,
    the 7-row seasonal profile, and the re-join all run on that tiny
    series — seasonal broadcasts back, nothing wider than |days| moves.
    dow is strictly an INTRA-engine grouping key: the engines label
    weekdays differently (Spark 1=Sunday..7, DuckDB 0=Sunday..6), but
    the seven classes partition identically, which is all the
    seasonal-profile join needs — dow is never emitted or compared
    cross-engine.
    """
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("revenue"))
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "revenue",
        F.avg("revenue").over(w7).alias("trend"),
        F.count(F.lit(1)).over(w7).alias("wsize"),
    )
    detrended = trended.where(F.col("wsize") == 7).select(
        "d",
        "revenue",
        "trend",
        (F.col("revenue") - F.col("trend")).alias("detr"),
        (F.dayofweek("d").cast("long")).alias("dow"),
    )
    seasonal = detrended.groupBy("dow").agg(F.avg("detr").alias("s"))
    return detrended.join(F.broadcast(seasonal), "dow").select(
        F.col("d").cast("string").alias("day"),
        "revenue",
        F.round("trend", 4).alias("trend"),
        (F.round(F.col("s"), 4) + 0.0).alias("seasonal"),
        (F.round(F.col("detr") - F.col("s"), 4) + 0.0).alias("residual"),
    )


@register(
    "ks_drift",
    oracle="""
    WITH span AS (
        SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0u,
               MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS t1u
        FROM events
    ),
    v AS (
        -- integer-µs midpoint comparison (psi_drift pinned this form:
        -- the engines disagree on halving a day-bearing interval)
        SELECT value,
               CASE WHEN 2 * epoch_us(CAST(e.ts AS TIMESTAMP)) <= s.t0u + s.t1u
                    THEN 0 ELSE 1 END AS half
        FROM events e, span s WHERE value IS NOT NULL
    ),
    per_val AS (
        SELECT value,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(half) AS BIGINT) AS b
        FROM v GROUP BY value
    ),
    cdfs AS (
        SELECT SUM(a) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) * 1.0
                   / NULLIF(SUM(a) OVER (), 0) AS cdf_a,
               SUM(b) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) * 1.0
                   / NULLIF(SUM(b) OVER (), 0) AS cdf_b
        FROM per_val
    )
    SELECT ROUND(MAX(ABS(cdf_a - cdf_b)), 6) AS ks,
           CAST(COUNT(*) AS BIGINT) AS n_value_points
    FROM cdfs
    """,
)
def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift as a KS statistic: the event-value distribution
    of the first half of the horizon against the second — the CONTINUOUS
    drift monitor next to psi_drift's fixed bins (PSI quantizes and can
    miss within-bin shifts; KS sees the full CDF) and embedding_drift's
    vector-space centroid. Same atomic-ties CDF machinery as
    ks_statistic; the time midpoint compares in epoch arithmetic both
    engines evaluate identically (psi_drift pinned that comparison).

    Scale: values collapse to |distinct values| rows first; the CDF
    windows and the max run on that table.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bounds = load(spark, sf_dir, "events").agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    )
    tagged = ev.join(F.broadcast(bounds)).select(
        "value",
        (2 * F.unix_micros("ts") > F.col("lo") + F.col("hi")).cast("int").alias(
            "half"
        ),
    )
    per_val = tagged.groupBy("value").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("a"),
        F.sum("half").cast("long").alias("b"),
    )
    wcum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cdfs = per_val.select(
        (F.sum("a").over(wcum) * 1.0 / F.nullif(F.sum("a").over(wall), F.lit(0))).alias(
            "cdf_a"
        ),
        (F.sum("b").over(wcum) * 1.0 / F.nullif(F.sum("b").over(wall), F.lit(0))).alias(
            "cdf_b"
        ),
    )
    return cdfs.agg(
        F.round(F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))), 6).alias("ks"),
        F.count(F.lit(1)).cast("long").alias("n_value_points"),
    )


@register(
    "eval_pass_at_k",
    oracle="""
    WITH per_task AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    passk AS (
        -- the 5-term product is UNROLLED (not EXP(SUM(LN(...)))): a
        -- correlated LN subquery is evaluated for every row regardless of
        -- the CASE guard and raises on n-c < 5, and exp/ln round a
        -- different double than the iterated product Spark computes.
        -- Grouping mirrors F.aggregate's fold EXACTLY — each step is
        -- (acc * numerator) / denominator, NOT acc * (num/den); the two
        -- differ in the last bit for ~16% of (n, c) pairs (review r4.2).
        SELECT user_id, n, c,
               CASE WHEN c = 0 THEN 0.0
                    WHEN n - c < 1 THEN 1.0
                    ELSE 1.0 - (1.0 * (n - c)) / n END AS p1,
               CASE WHEN c = 0 THEN 0.0
                    WHEN n - c < 5 THEN 1.0
                    ELSE 1.0 - (((((((((1.0 * (n - c)) / n)
                               * (n - c - 1)) / (n - 1))
                               * (n - c - 2)) / (n - 2))
                               * (n - c - 3)) / (n - 3))
                               * (n - c - 4)) / (n - 4) END AS p5
        FROM per_task
    )
    -- shortest-repr rounding (see registry contract / resample_interpolate):
    -- pass@1 hits exact 4dp half-way points on attainable counts (n=160,
    -- c=77 → 0.48125), where Spark's BigDecimal round and DuckDB's binary
    -- ROUND disagree (review r4.2)
    SELECT user_id AS task_id, n AS n_samples, c AS n_correct,
           CAST(ROUND(CAST(CAST(p1 AS VARCHAR) AS DECIMAL(38,18)), 4)
                AS DOUBLE) + 0.0 AS pass_at_1,
           CAST(ROUND(CAST(CAST(p5 AS VARCHAR) AS DECIMAL(38,18)), 4)
                AS DOUBLE) + 0.0 AS pass_at_5
    FROM passk
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k with the UNBIASED combinatorial estimator (Chen et al.,
    Codex 2021): per task, 1 - C(n-c, k)/C(n, k) over n samples with c
    correct — the standard metric for sampled code/reasoning evals,
    computed WITHOUT enumerating subsets via the telescoping product
    Π_{i<k} (n-c-i)/(n-i). Tasks are users, a sample is an event, and
    'purchase' stands in for a passing sample (auc_roc's labeling
    convention); k ∈ {1, 5}.

    Scale shape: one partial-aggregated groupBy(task) — the only
    exchange carries (task, 2 counters) — then the estimator is a pure
    per-row expression: the k-term product unrolls via a sequence HOF
    with NO subquery, join, or UDF. A billion-sample eval sweep costs
    one count-shuffle. Rounded at 4dp with +0.0 on both engines
    (registry signed-zero rule)."""
    per_task = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("task_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("long")
            .alias("n_correct"),
        )
    )

    def pass_at(k: int) -> F.Column:
        n, c = F.col("n_samples"), F.col("n_correct")
        prod = F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(1.0),
            lambda acc, i: acc * (n - c - i) / (n - i),
        )
        return (
            F.when(c == 0, F.lit(0.0))
            .when(n - c < k, F.lit(1.0))
            .otherwise(1.0 - prod)
        )

    return per_task.select(
        "task_id",
        "n_samples",
        "n_correct",
        (F.round(pass_at(1), 4) + 0.0).alias("pass_at_1"),
        (F.round(pass_at(5), 4) + 0.0).alias("pass_at_5"),
    )
