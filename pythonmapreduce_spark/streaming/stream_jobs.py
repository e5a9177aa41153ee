"""Structured Streaming jobs, verified by batch equivalence.

The reference has no streaming surface at all (SURVEY §2.2). Here the
engine's streaming path reuses the exact batch expressions (tokenizer,
windowed aggs) over ``readStream`` sources, so a single-pass
``availableNow`` replay must produce the same result as the batch query —
that equivalence is the correctness harness, and for ``stream_wordcount``
the DuckDB oracle is literally the batch wordcount oracle.

Production shape at scale: the same plan over a Kafka source with
``withWatermark`` bounding state; here the file source replays the test
parquet. State store is local-disk backed (HDFS/RocksDB state store on a
real cluster).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import SCHEMAS, events_stream_source
from pythonmapreduce_spark.plans.materialize import release_at_run_end, run_scratch
from pythonmapreduce_spark.plans.registry import register


def _run_to_memory(
    stream_df: DataFrame, mode: str, partitions: int = 4
) -> tuple[SparkSession, str]:
    """Run a streaming DataFrame to completion into a memory sink.

    availableNow processes the whole source as one bounded run, then the
    query stops — the streaming analog of a batch job.
    """
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = run_scratch("ckpt_")
    spark = stream_df.sparkSession
    # A streaming query pins its state-store partition count to
    # spark.sql.shuffle.partitions at first start, and every partition is
    # a RocksDB/HDFS store instance to create and commit — at test scale
    # that fixed cost dominates (32 stores ≈ seconds per query). 4 is
    # plenty for a bounded replay (round 11: 8→4 measured 0.95 → 0.84 s
    # min-of-5 on stream_event_window with identical output — the same
    # store-count adjudication the join tier got in round 5); production
    # picks this per expected state volume, and it's per-query (each has
    # its own checkpoint), so the batch-session conf is restored right
    # after start-up.
    # Stream-stream joins pass partitions=4: each join partition is FOUR
    # store instances (keyToNumValues + keyWithIndexToValue per side), so
    # a join at 8 partitions commits 32 stores per micro-batch — measured
    # 3.5 s → 2.2 s at sf0.1 going 8→4, and the left join runs TWO
    # micro-batches (data + the no-data flush that emits watermark-expired
    # NULL rows), doubling every per-store commit. This was the repo's
    # most contention-amplified query (r04: 6.2 s driver vs 2.6 s idle).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    # the bounded run is complete and the results live in the in-memory
    # sink table, so the checkpoint has nothing left to serve
    shutil.rmtree(ckpt, ignore_errors=True)
    release_at_run_end(lambda: spark.catalog.dropTempView(name))
    return spark, name


@register(
    "stream_wordcount",
    oracle=r"""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT UNNEST(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        FROM documents
    )
    GROUP BY word
    """,
)
def stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming word count over the documents corpus replayed as a stream.

    Same tokenizer contract as the batch ``wordcount``
    (/root/reference/mapreduce_wc.py:3-11 semantics); complete-mode memory
    sink; verified against the *batch* DuckDB oracle — the strongest
    equivalence check available for a streaming op.
    """
    # The file source lists directories; pathGlobFilter selects just this
    # table's parquet out of sf_dir.
    src = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    counts = (
        src.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    _, name = _run_to_memory(counts, "complete")
    return spark.table(name)


@register(
    "stream_event_window",
    # One bounded availableNow replay in complete mode finalizes every
    # window and the watermark drops nothing, so the streaming result
    # equals the batch tumbling aggregate exactly — the same
    # batch-equivalence upgrade window_sliding got. Late-data DROP
    # semantics (not SQL-expressible) are pinned separately by
    # tests/test_streaming.py's watermark timeline test.
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))                   AS window_start,
           time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*)              AS n_events,
           ROUND(SUM(value), 2)  AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_event_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 1-hour tumbling window with a 2-hour watermark.

    The watermark bounds state: windows older than (max event time − 2h)
    are finalized and evicted — the mechanism that keeps state finite on an
    unbounded stream. On a bounded availableNow replay it matches the batch
    tumbling result for all finalized windows.
    """
    src = events_stream_source(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    _, name = _run_to_memory(agg, "complete")
    return spark.table(name)


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first occurrence of each (user, event_type).

    ``dropDuplicates`` on a stream keeps per-key state and emits only the
    first arrival; ``withWatermark`` bounds that state on an unbounded
    stream (keys older than the watermark are evicted — the knob that makes
    streaming dedup feasible forever). A bounded availableNow replay emits
    exactly the batch DISTINCT, which is the oracle.
    """
    src = events_stream_source(spark, sf_dir)
    deduped = (
        src.withWatermark("ts", "1 day")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    _, name = _run_to_memory(deduped, "append")
    return spark.table(name)


@register(
    "stream_static_join",
    oracle="""
    SELECT event_id, user_id, c_mktsegment, value
    FROM events JOIN customer ON user_id = c_custkey
    WHERE event_type = 'purchase'
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension: enrich events with customer attributes.

    The static side is a plain batch DataFrame broadcast into every
    micro-batch — no state, no watermark needed for an inner equi-join.
    This is the canonical streaming-enrichment topology (stream from Kafka,
    dim from the lakehouse); stateless append mode makes the bounded replay
    exactly the batch join, which is the oracle.
    """
    from pythonmapreduce_spark.catalog import load

    src = events_stream_source(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = src.join(
        F.broadcast(customer), F.col("user_id") == F.col("c_custkey"), "inner"
    ).select("event_id", "user_id", "c_mktsegment", "value")
    _, name = _run_to_memory(joined, "append")
    return spark.table(name)


@register(
    "stream_session_window",
    oracle="""
    WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - LAG(CAST(ts AS TIMESTAMP))
                               OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), islands AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM gaps
    )
    SELECT user_id,
           MIN(ts)                       AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE  AS session_end,
           COUNT(*)                      AS n_events,
           ROUND(SUM(value), 2)          AS total_value
    FROM islands
    GROUP BY user_id, sess_no
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows: the same 30-min-gap sessionization as the
    batch ``window_session``, over a replayed stream — and checked against
    the same gaps-and-islands SQL oracle, the strongest equivalence
    available for stateful streaming.

    Session state merges windows incrementally as events arrive (out of
    order within the replay); complete mode re-emits the merged sessions.
    In production the same plan runs in append mode with a watermark
    bounding session state; availableNow + complete keeps the bounded
    replay exactly batch-equivalent.
    """
    src = events_stream_source(spark, sf_dir)
    agg = (
        src.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    _, name = _run_to_memory(agg, "complete")
    return spark.table(name)


@register(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click events joined to the purchase
    events that follow them within one hour, per user.

    The canonical two-stream correlation (ad attribution, funnel credit):
    both sides are unbounded, so the join buffers state keyed by user_id
    and the event-time range condition + watermarks bound how long a
    buffered click/purchase must be retained — without them state grows
    forever. Spark plans this as a StreamingSymmetricHashJoin: each side
    shuffles on user_id once, rows meet in co-located state stores, and
    watermark advancement evicts rows older than (max event time − 2h −
    1h range). A single availableNow replay must equal the batch interval
    join, which is exactly what the DuckDB oracle runs; lag is emitted in
    microseconds (both engines see the identical µs-normalized timestamps).
    """
    def side(alias: str, etype: str) -> DataFrame:
        return (
            events_stream_source(spark, sf_dir)
            .where(F.col("event_type") == etype)
            .withWatermark("ts", "2 hours")
            .alias(alias)
        )

    clicks, purchases = side("c", "click"), side("p", "purchase")
    joined = clicks.join(
        purchases,
        F.expr(
            "c.user_id = p.user_id AND p.ts >= c.ts "
            "AND p.ts <= c.ts + interval 1 hour"
        ),
        "inner",
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        (F.unix_micros(F.col("p.ts")) - F.unix_micros(F.col("c.ts"))).alias("lag_us"),
    )
    _, name = _run_to_memory(joined, "append", partitions=4)
    return spark.table(name)


@register(
    "stream_stream_left_join",
    oracle="""
    -- Batch-equivalence for the watermarked LEFT OUTER stream-stream
    -- join: matched pairs emit on match (all of them), while an
    -- UNMATCHED click emits its NULL row only once the GLOBAL watermark
    -- passes the click's join horizon (c.ts + 1h). The global watermark
    -- is min over the two input streams' (max event time - 2h) — each
    -- side's watermark is computed on its post-filter stream, so the
    -- click and purchase maxima differ. Strict '<' at the horizon is
    -- Spark's observed eviction boundary (1966 NULL rows reproduced
    -- exactly at sf0.01); with microsecond event times an exact tie of
    -- c.ts + 1h against the watermark is measure-zero.
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT LEAST((SELECT MAX(CAST(ts AS TIMESTAMP)) FROM c),
                             (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM p))
                       - INTERVAL 2 HOUR AS w),
         matched AS (
           SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
                  CAST(epoch_us(CAST(p.ts AS TIMESTAMP))
                       - epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS lag_us
           FROM c JOIN p ON c.user_id = p.user_id
                        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
         ),
         unmatched AS (
           SELECT c.user_id, c.event_id AS click_id,
                  CAST(NULL AS BIGINT) AS purchase_id,
                  CAST(NULL AS BIGINT) AS lag_us
           FROM c
           WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
             AND CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR < (SELECT w FROM wm)
         )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join: every click is credited
    with its following-hour purchases, and clicks that never convert are
    emitted with a NULL purchase side — but only once the watermark
    proves no match can still arrive. This is the semantics inner joins
    can't express (the unconverted-click row IS the signal for abandon-
    ment analysis), and the part of Structured Streaming's join surface
    where state eviction is user-visible: an unmatched left row is held
    in the state store until the global watermark (min across both
    inputs of max event time − 2 h) passes its join horizon (click ts +
    1 h range upper bound), then emitted exactly once with NULLs.

    Scale shape: identical to the inner form — both sides shuffle once
    on user_id into co-located StreamingSymmetricHashJoin state; the
    watermark bounds per-key state to the 3 h horizon regardless of
    stream length. The bounded availableNow replay runs a final no-data
    microbatch after the watermark advances, which is what flushes the
    expired unmatched rows (same engine behavior stream_chained_agg's
    append-mode eviction relies on); the DuckDB oracle reproduces the
    eviction rule exactly, NULL-row set included.
    """
    def side(alias: str, etype: str) -> DataFrame:
        return (
            events_stream_source(spark, sf_dir)
            .where(F.col("event_type") == etype)
            .withWatermark("ts", "2 hours")
            .alias(alias)
        )

    clicks, purchases = side("c", "click"), side("p", "purchase")
    joined = clicks.join(
        purchases,
        F.expr(
            "c.user_id = p.user_id AND p.ts >= c.ts "
            "AND p.ts <= c.ts + interval 1 hour"
        ),
        "left",
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        (F.unix_micros(F.col("p.ts")) - F.unix_micros(F.col("c.ts"))).alias("lag_us"),
    )
    _, name = _run_to_memory(joined, "append", partitions=4)
    return spark.table(name)


@register(
    "sink_foreach_batch_upsert",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def sink_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert sink: a stream containing REPLAYED DUPLICATES
    lands in a parquet table that stays keyed-unique — per-type counts end
    up identical to the clean batch table, which is exactly what the
    oracle checks.

    The exactly-once-by-idempotence pattern: built-in file sinks are
    append-only, so keyed upserts go through foreachBatch, where each
    micro-batch is merged with dropDuplicates(event_id) and written
    copy-on-write to a NEW versioned directory (never overwriting the
    version being read — the swap is the atomic pointer update, which is
    what Delta/Iceberg commit logs industrialize; at 100 TB the rewrite
    becomes a partition-scoped MERGE, merge_upsert has that kernel). The
    source replays the events table PLUS every 5th event again, split
    across files with maxFilesPerTrigger=1, so the merge handles both
    in-batch and cross-batch duplicates; a re-delivered batch (Spark's
    at-least-once foreachBatch contract) merges to the same state —
    idempotent, hence effectively exactly-once.
    """
    from pythonmapreduce_spark.catalog import load

    base = run_scratch("fbu_")
    src_dir = os.path.join(base, "src")
    ev = load(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(os.path.join(src_dir, "full"))
    dups = ev.where(F.col("event_id") % 5 == 0)
    dups.write.mode("overwrite").parquet(os.path.join(src_dir, "dups"))

    state = {"path": None}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["path"] is None:
            merged = batch_df.dropDuplicates(["event_id"])
        else:
            cur = spark.read.parquet(state["path"])
            merged = cur.unionByName(batch_df).dropDuplicates(["event_id"])
        new_path = os.path.join(base, f"target_v{batch_id}")
        merged.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    ckpt = os.path.join(base, "ckpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return (
        spark.read.parquet(state["path"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


@register(
    "stream_ingest_dedup",
    oracle="""
    WITH old AS (
        SELECT md5(text) AS digest FROM documents WHERE doc_id % 3 <> 0
    ),
    new_batch AS (
        SELECT doc_id, md5(text) AS digest, n_chars
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT n.doc_id, n.n_chars
    FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.digest = n.digest)
    """,
)
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup: incoming documents (the doc_id % 3 = 0 new
    batch, dedup_cross_snapshot's convention) stream through a LEFT ANTI
    join against the STATIC historical digest table — the continuous form
    of cross-snapshot dedup, where the crawl ingests as a stream and
    history is the lakehouse digest index refreshed between runs.

    Stream-static anti joins are stateless (each micro-batch probes the
    static side independently — no watermark, no state store), so the
    bounded availableNow replay emits exactly the batch anti-join, which
    is the oracle. Only 16-byte digests participate in the join; document
    text never leaves its scan.
    """
    from pyspark.sql import functions as FF

    from pythonmapreduce_spark.catalog import SCHEMAS, load

    src = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .where(FF.col("doc_id") % 3 == 0)
        .select("doc_id", FF.md5("text").alias("digest"), "n_chars")
    )
    old = (
        load(spark, sf_dir, "documents")
        .where(FF.col("doc_id") % 3 != 0)
        .select(FF.md5("text").alias("digest"))
        .distinct()
    )
    deduped = src.join(old, "digest", "left_anti").select("doc_id", "n_chars")
    _, name = _run_to_memory(deduped, "append")
    return spark.table(name)


@register(
    "stream_update_counts",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
)
def stream_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the third of the three streaming output
    modes (append: stream_dedup et al.; complete: stream_wordcount;
    update: this): only rows whose aggregate CHANGED in a micro-batch
    reach the sink, the mode incremental dashboards and upsert sinks
    consume. A bounded availableNow replay has exactly one batch, so
    every group updates once and the sink equals the batch aggregate —
    which is the oracle; multi-batch update-mode delta semantics are
    pinned separately by the foreachBatch upsert's replay test.
    """
    src = events_stream_source(spark, sf_dir)
    counts = src.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    _, name = _run_to_memory(counts, "update")
    return spark.table(name)


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with TIME-BOUNDED state:
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+) guarantees dedup only
    for duplicates arriving within the watermark delay of each other, and
    in exchange may EVICT a key's state once the watermark passes it —
    the contract that keeps exact-dedup state finite forever.

    This is the production answer to plain ``dropDuplicates``'s flaw on
    unbounded streams (stream_dedup's form: state grows with the key
    universe unless keys carry event time). Here the key is
    (user_id, event_type) with a delay covering the replayed horizon, so
    the bounded availableNow replay emits exactly the batch DISTINCT —
    the oracle; on a real stream the delay is sized to the duplicate
    arrival spread (an at-least-once source's redelivery window, usually
    minutes), not the key universe. State is therefore O(keys active in
    the window), independent of stream lifetime — the property that lets
    a 100 TB/day ingest run exact dedup indefinitely.
    """
    src = events_stream_source(spark, sf_dir)
    deduped = (
        src.withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    _, name = _run_to_memory(deduped, "append")
    return spark.table(name)


@register(
    "stream_chained_agg",
    # Bounded-replay equivalence: append mode emits a 6-hour window once
    # the propagated watermark (max event time - the 2 h delay) passes its
    # end, so the oracle is the batch rollup restricted to those
    # finalized windows — the cutoff measured and pinned empirically
    # (473/477 windows at sf0.001).
    oracle="""
    WITH b AS (
        SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS ws,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)))
                   AS n_hours
        FROM events GROUP BY 1, 2
    )
    SELECT ws AS window_start, ws + INTERVAL 6 HOUR AS window_end, event_type,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_hours AS BIGINT) AS n_hours
    FROM b
    -- Boundary assumption (ADVICE r3): <= encodes the INCLUSIVE edge of
    -- Spark's append-mode eviction (a window whose end equals the final
    -- watermark IS finalized — empirically pinned, 473/477 windows at
    -- sf0.01). A 6-hour window end landing EXACTLY on max(ts) - 2h would
    -- sit on that engine boundary; with microsecond event times and
    -- hour-aligned window ends the collision set is measure-zero.
    WHERE ws + INTERVAL 6 HOUR <=
          (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR FROM events)
    """,
)
def stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in ONE streaming query (Spark 3.5+
    multiple-stateful-operator support): events -> 1-hour tumbling counts
    -> 6-hour rollup of those counts, both windows maintained
    incrementally in the same query. Before this worked, the rollup
    needed a second streaming job reading the first's sink — double
    infrastructure, double latency; this is the streaming twin of
    rollup_time's batch cascade.

    The upstream agg must run in append mode (complete is illegal under
    a downstream stateful op), so each 1-hour row flows downstream
    exactly once when its window finalizes, and the 6-hour agg's event
    time is the upstream WINDOW itself — the watermark propagates
    through both operators from the single withWatermark at the source.
    State is O(open windows) per operator. n_hours (how many distinct
    upstream rows each rollup absorbed) pins the two-level structure
    against the batch oracle.
    """
    src = events_stream_source(spark, sf_dir)
    hourly = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rolled = (
        hourly.groupBy(F.window(F.col("w"), "6 hours").alias("w6"), "event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
        )
        .select(
            F.col("w6.start").alias("window_start"),
            F.col("w6.end").alias("window_end"),
            "event_type",
            "n_events",
            "n_hours",
        )
    )
    _, name = _run_to_memory(rolled, "append")
    return spark.table(name)


@register(
    "stream_state_inspect",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The State Data Source (Spark 4): open a streaming checkpoint and
    read the operator's STATE STORE as a DataFrame — the ops capability
    that turns "why is my streaming job's state growing" from a
    black-box metric into a queryable table (inspect hot keys, audit
    eviction, debug a stuck aggregation) without touching the running
    query.

    A watermarked streaming dedup runs to completion against its own
    checkpoint; ``spark.read.format("statestore")`` then reads that
    checkpoint's state: exactly one state row per retained dedup key, so
    the key struct unpacks to the batch DISTINCT — the oracle. At
    production scale the state read is partition-parallel over the
    checkpoint's store files (one task per state partition), same as any
    file source; no running cluster is needed.
    """
    ckpt = run_scratch("state_")
    src = events_stream_source(spark, sf_dir)
    deduped = (
        src.withWatermark("ts", "40 days")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"state_sink_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    release_at_run_end(lambda: spark.catalog.dropTempView(name))
    if not os.path.isdir(os.path.join(ckpt, "state")):
        # zero-batch replay (empty source) never creates a state dir; a
        # corrupt/unreadable checkpoint should RAISE, not read as empty
        return spark.createDataFrame([], "user_id long, event_type string")
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("key.event_type").alias("event_type"),
    )
