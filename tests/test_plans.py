"""Plan-shape assertions: the optimizations the engine's scale story relies
on must actually appear in the physical plan (SURVEY §5.2 item 4). A query
that silently loses its pushdown or broadcast still passes correctness —
these tests are the regression gate for the 100 TB story.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans import registry
from pythonmapreduce_spark.plans.signature import executed_nodes, signature, table_scans

registry.load_all()


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark, sf_smoke) -> None:
    df = (
        load(spark, sf_smoke, "lineitem")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan


def test_column_pruning_reaches_scan(spark, sf_smoke) -> None:
    df = load(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema must contain only the two projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


def test_star_join_broadcasts_dims(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["join_star"](spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region
    assert "CartesianProduct" not in plan


def test_agg_has_partial_phase(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["wordcount"](spark, sf_smoke))
    # partial + final HashAggregate around the exchange — the combiner the
    # reference lacks (/root/reference/mapper_node.py:23-37)
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning(word" in plan


def test_topk_uses_take_ordered(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["topk"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan


def test_broadcast_join_no_lineitem_shuffle(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["join_broadcast"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    # the only shuffle should be the aggregation's, keyed by n_name
    exchanges = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
    assert exchanges and all("n_name" in ln for ln in exchanges)


def test_range_join_is_not_nested_loop(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["join_range"](spark, sf_smoke))
    # banded rewrite ⇒ hash join on band, never BroadcastNestedLoopJoin
    # over the full cross product
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_broadcasts_queries_not_corpus(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["knn_cosine"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_grouped_topk_uses_window_group_limit(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["topk_per_group"](spark, sf_smoke))
    # rank-limit pushdown: each partition keeps k rows per key pre-window
    assert "WindowGroupLimit" in plan


def test_bigrams_stay_codegen(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["ngram_bigrams"](spark, sf_smoke))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_aqe_replans_at_runtime(spark, sf_smoke) -> None:
    """AQE must re-plan at shuffle boundaries: after execution the final
    adaptive plan exists and has coalesced the small shuffle partitions
    (32 configured partitions collapse for smoke-scale data)."""
    df = registry.QUERIES["join_star"](spark, sf_smoke)
    df.collect()  # materialize so AQE finalizes
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in executed
    assert "coalesced" in executed or "AQEShuffleRead" in executed


def test_dedup_near_single_signature_pipeline(spark, sf_smoke) -> None:
    """In-bucket pair generation must keep ONE minhash signature pipeline:
    a band-key self-join would show two 64-min HashAggregates."""
    plan = _plan(registry.QUERIES["dedup_near"](spark, sf_smoke))
    # the 64-way min aggregate appears as ONE partial(+final) pair: exactly
    # one map-side aggregation line carries the first hash's constants
    partial_lines = [
        ln for ln in plan.splitlines() if "partial_min(pmod" in ln and "104730" in ln
    ]
    assert len(partial_lines) == 1, f"signature pipeline duplicated:\n{partial_lines}"
    assert "CartesianProduct" not in plan


def test_dedup_near_verify_joins_never_broadcast(spark, sf_smoke) -> None:
    """The verification joins must be SHUFFLED hash joins: the candidate
    pair list grows linearly with corpus size, so broadcasting it (or the
    tokenized corpus) is an OOM at 100 TB. Pins the fix for the round-1
    forced-broadcast plan."""
    plan = _plan(registry.QUERIES["dedup_near"](spark, sf_smoke))
    assert "BroadcastHashJoin" not in plan, "unbounded side broadcast in verify join"
    assert "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_blocked_two_stage_topk(spark, sf_smoke) -> None:
    """Block-partitioned kNN: two ranking windows (local per block, global
    merge), corpus side never broadcast."""
    plan = _plan(registry.QUERIES["knn_blocked"](spark, sf_smoke))
    assert plan.count("Window") >= 2
    assert "WindowGroupLimit" in plan  # rank-limit pushdown on both stages
    # the only broadcast is the 20-row query set ("Name (n)" counts tree
    # nodes once; the details section prints "(n) Name" and is excluded)
    assert plan.count("BroadcastExchange (") == 1


def test_funnel_stages_share_shuffle_key(spark, sf_smoke) -> None:
    """All funnel exchanges hash on user_id — no repartitioning churn
    between stages."""
    plan = _plan(registry.QUERIES["funnel_steps"](spark, sf_smoke))
    ex = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
    assert ex, "expected hash exchanges"
    assert all("user_id" in ln for ln in ex), f"non-user_id exchange:\n{ex}"


def test_event_pattern_filters_before_join(spark, sf_smoke) -> None:
    """Both event-type filters must reach the scans (PushedFilters), so the
    join moves only the two relevant slices."""
    plan = _plan(registry.QUERIES["event_pattern"](spark, sf_smoke))
    assert "EqualTo(event_type,purchase)" in plan
    assert "EqualTo(event_type,error)" in plan
    assert "CartesianProduct" not in plan


def test_profile_columns_no_corpus_sort(spark, sf_smoke) -> None:
    """The profiler must never sort the corpus: the 18s-at-sf0.1 failure
    mode was the 8-way multi-distinct lowering to a 9-grouping-key
    SortAggregate over an 8× Expand, whose required ordering inserted a
    corpus-wide Sort. The per-column-scan form has NO Sort operator and
    NO Expand anywhere (zero-key SortAggregates for string min/max are
    sort-free), each distinct aggregate stays hash-based, and every
    distinct-pass scan is single-column pruned."""
    plan = _plan(registry.QUERIES["profile_columns"](spark, sf_smoke))
    assert "+- Sort (" not in plan and ": Sort (" not in plan
    assert "Expand" not in plan
    assert "HashAggregate" in plan
    one_col_scans = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln and ln.count(":") >= 1 and ln.count(",") == 0
    ]
    assert len(one_col_scans) >= 8, plan


def test_ann_ivf_corpus_never_shuffles(spark, sf_smoke) -> None:
    """IVF assignment is a narrow expression: the only hash exchanges are
    on the tiny probed/scored side (q_id window), never a corpus-wide
    repartition, and there is no 16× centroid Expand."""
    plan = _plan(registry.QUERIES["ann_ivf"](spark, sf_smoke))
    assert "Expand" not in plan
    ex = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
    assert all("q_id" in ln for ln in ex), f"unexpected exchange:\n{ex}"


def test_tpch_q3_topk_and_broadcast(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["tpch_q3"](spark, sf_smoke))
    # LIMIT 10 over ORDER BY must lower to the heap-merge operator, never a
    # global sort of the joined fact stream
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q20_part_filter_pushed(spark, sf_smoke) -> None:
    plan = _plan(registry.QUERIES["tpch_q20"](spark, sf_smoke))
    # the p_name LIKE 'large%' prefix pushes to the part scan as a range
    # predicate (StringStartsWith), pruning before the fact join
    assert "StringStartsWith(p_name,large)" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_smoke) -> None:
    """Catalyst's runtime bloom-filter injection: when a selective dim side
    feeds a shuffle join, the fact scan gets a might_contain(bloom) filter
    built from the dim keys — rows that can't join die at the scan instead
    of crossing the exchange. Off at test SF only because of the 10 GiB
    application-side threshold; this pins that the engine's plans pick it
    up the moment the fact side is big enough to matter (the 100 TB case).
    """
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = load(spark, sf_smoke, "lineitem")
        od = load(spark, sf_smoke, "orders").where(F.col("o_orderpriority") == "1-URGENT")
        df = (
            li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = _plan(df)
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_join_partition_pruned_uses_dpp(spark, sf_smoke) -> None:
    """join_partition_pruned's fact scan must carry a dynamic-pruning
    subquery in its PartitionFilters: the partitioned fact lists only the
    directories the filtered dim survives — the star-join partition skip
    that pays for itself at 100 TB."""
    df = registry.QUERIES["join_partition_pruned"](spark, sf_smoke)
    df.collect()  # DPP subquery shape is final in the executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_semi_reduction_filters_before_shuffle(spark, sf_smoke) -> None:
    """join_semi_reduction: the broadcast KEY semi join must sit BELOW the
    fact side's shuffle exchange (reduction inside the scan stage), and the
    wide join must be a shuffle join — the dim-exceeds-broadcast regime the
    operator models.
    """
    plan = _plan(registry.QUERIES["join_semi_reduction"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    # the semi probe happens before (deeper than) the exchange that feeds
    # the wide join: formatted-plan ids grow from the leaves toward the
    # root, so the LeftSemi node's id must be smaller than the wide join's
    import re

    semi = min(
        int(m) for m in re.findall(r"BroadcastHashJoin LeftSemi \w+ \((\d+)\)", plan)
    )
    wide = min(
        int(m)
        for m in re.findall(r"(?:ShuffledHashJoin|SortMergeJoin) \w+ \w+ \((\d+)\)", plan)
    )
    assert semi < wide


def test_basket_rules_broadcasts_scalars_only(spark, sf_smoke) -> None:
    """basket_rules: the order-count scalar broadcasts (1 row); the pair
    join must be a key equi-join, never a cartesian of items."""
    plan = _plan(registry.QUERIES["basket_rules"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    # exactly one deliberate 1-row cross join (n_orders)
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 1


def test_sliding_distinct_fanout_after_collapse(spark, sf_smoke) -> None:
    """sliding_distinct_users: the ×7 window fanout must sit ABOVE the
    first DISTINCT (raw events collapse before anything explodes) — the
    explode's plan id must be larger (closer to root) than the first
    aggregate's."""
    import re

    plan = _plan(registry.QUERIES["sliding_distinct_users"](spark, sf_smoke))
    gen = min(int(m) for m in re.findall(r"Generate \((\d+)\)", plan))
    first_agg = min(int(m) for m in re.findall(r"HashAggregate \((\d+)\)", plan))
    assert first_agg < gen, "fanout must follow the collapsing DISTINCT"


def test_tokenizer_apply_zero_exchanges(spark, sf_smoke) -> None:
    # encode is a chain of codegen'd replaces over the scan — symbol
    # counts come from length arithmetic, so the plan must contain no
    # Exchange at all (the merge table is driver-side literals)
    plan = _plan(registry.QUERIES["tokenizer_apply"](spark, sf_smoke))
    assert "Exchange" not in plan


def test_hard_negatives_broadcasts_queries(spark, sf_smoke) -> None:
    # the 20-query side broadcasts; the corpus scan must not shuffle
    # before scoring (the only exchange is the per-query window)
    plan = _plan(registry.QUERIES["hard_negatives"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_assignment_no_broadcast_exchange(spark, sf_smoke) -> None:
    # round-3 flag: assignment must NOT be an n×K expression cross join
    # over a SQL-broadcast centroid table (broadcast size and dot count
    # both grew with the corpus when K ∝ n). The fixed shape is a
    # MapInPandas GEMM with the K×d matrix torrent-broadcast outside the
    # plan — so the assignment stage's plan has no join node of any kind,
    # which holds for ANY K (no broadcast-threshold cliff at deployment
    # K like the paper's 50k).
    from pythonmapreduce_spark.pipeline.similarity import (
        _semdedup_unit_vectors,
        semdedup_assign,
    )

    e = _semdedup_unit_vectors(spark, sf_smoke)
    c = e.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    assign = semdedup_assign(spark, e, c)
    plan = _plan(assign)
    assert "MapInPandas" in plan
    assert "BroadcastExchange" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_percentile_agg_collapsed_weighted_quantile(spark, sf_smoke) -> None:
    # exact quantile_cont via the collapsed value distribution: one
    # combine-enabled count per (group, value), a per-group running count
    # over the sorted distincts (window sort — spills via the external
    # sorter instead of OOMing), and the cum-covers-index selection.
    # Exactly two hash exchanges — (flag, v) for the counts, flag for the
    # window — with the final per-flag agg reusing the window's
    # partitioning; NO ObjectHashAggregate whole-group value buffer
    # anywhere (the old `percentile` form held every group value in one
    # unspillable buffer — ~2 TB per group at 100 TB); scan pruned to the
    # two referenced columns.
    plan = _plan(registry.QUERIES["percentile_agg"](spark, sf_smoke))
    assert len(_partition_keys(plan)) == 2
    assert "ObjectHashAggregate" not in plan
    assert "Window" in plan
    assert "Join" not in plan
    assert "l_extendedprice" in plan and "l_orderkey" not in plan


def test_pipeline_train_prep_shape(spark, sf_smoke) -> None:
    # the composed chain must keep each stage's certified shape: dedup as
    # a WindowGroupLimit (per-key state O(1), not a full-partition sort
    # retain), decontamination as decontamination_ngram's window-vs-
    # snippet BROADCAST HASH equi-join (one probe per window regardless
    # of |bench|; the corpus side never re-shuffles for it) — never the
    # per-snippet contains() nested loop — and exactly three hash
    # exchanges end to end (text-hash dedup + per-doc verdict group-back
    # + final split/lang agg)
    plan = _plan(registry.QUERIES["pipeline_train_prep"](spark, sf_smoke))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(_partition_keys(plan)) == 3


def test_decontamination_ngram_hash_join(spark, sf_smoke) -> None:
    # the large-bench variant's whole point: window-vs-snippet matching is
    # a hash EQUI-join (one probe per window regardless of |bench|), never
    # the per-snippet substring theta join (BroadcastNestedLoopJoin) the
    # small-bench `decontamination` query deliberately uses
    plan = _plan(registry.QUERIES["decontamination_ngram"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pair_join_not_cartesian(spark, sf_smoke) -> None:
    # the in-cluster pair join is an equi-join on the cluster key, never
    # a cartesian pair explosion
    plan = _plan(registry.QUERIES["semdedup"](spark, sf_smoke))
    assert "CartesianProduct" not in plan


def _partition_keys(plan: str) -> list[str]:
    """Every hash/range partitioning key list in a formatted plan (the
    node header and its Arguments: line are separate lines, so match the
    partitioning expression itself)."""
    import re as _re

    return _re.findall(r"(?:hash|range)partitioning\(([^)]*)\)", plan)


def test_boilerplate_digests_only_shuffle(spark, sf_smoke) -> None:
    # segment text must never cross an exchange — only md5 digests do
    plan = _plan(registry.QUERIES["boilerplate_detect"](spark, sf_smoke))
    keys = _partition_keys(plan)
    assert keys, "expected at least one exchange"
    for k in keys:
        assert "seg_key" in k or "doc_id" in k or "source" in k, k


def test_ewma_aggregates_before_fanout(spark, sf_smoke) -> None:
    # the raw event volume must collapse to |days| rows before the
    # 30x band fan-out: the partial+final agg pair appears below the join
    plan = _plan(registry.QUERIES["ewma_smooth"](spark, sf_smoke))
    assert plan.count("HashAggregate") >= 2


def test_ann_pq_adc_scan_shape(spark, sf_smoke) -> None:
    # round-11 fused shape: encode + ADC + per-batch shortlist run in ONE
    # mapInPandas over the unshuffled corpus (codebook + distance tables
    # arrive as a torrent broadcast, not a join side), so the plan has NO
    # join node at all — the only exchange is the q_id top-k window, fed
    # O(batches x Q x 50) rows instead of Q x corpus
    plan = _plan(registry.QUERIES["ann_pq"](spark, sf_smoke))
    assert "Join" not in plan  # covers BNLJ/BHJ/SMJ and CartesianProduct
    assert "MapInPandas" in plan
    # no row-at-a-time Python anywhere
    assert "BatchEvalPython" not in plan


def test_dataset_shuffle_shards_single_exchange(spark, sf_smoke) -> None:
    # the write topology: ONE hash exchange on the shard key (the window
    # partition), no global range sort
    plan = _plan(registry.QUERIES["dataset_shuffle_shards"](spark, sf_smoke))
    keys = _partition_keys(plan)
    assert keys and all(k.startswith("shard") for k in keys), keys
    assert "rangepartitioning" not in plan


def test_winnow_selection_one_partition_sort(spark, sf_smoke) -> None:
    # gram explode happens in the scan stage; the min-per-window and the
    # per-doc aggregates all ride doc_id-keyed exchanges (no token text
    # in any exchange key)
    plan = _plan(registry.QUERIES["winnow_fingerprints"](spark, sf_smoke))
    keys = _partition_keys(plan)
    assert keys, "expected doc_id exchanges"
    for k in keys:
        assert "doc_id" in k, k


def test_media_sniff_stays_codegen(spark, sf_smoke) -> None:
    # the sniff is scan-stage JVM expressions: no Python stage anywhere
    plan = _plan(registry.QUERIES["media_type_sniff"](spark, sf_smoke))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_join_hint_merge_is_honored(spark, sf_smoke) -> None:
    # customer is broadcastable at test SFs — the MERGE hint must still
    # force the shuffle-based sort-merge join (an ignored hint is silent)
    plan = _plan(registry.QUERIES["join_hint_merge"](spark, sf_smoke))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_fim_split_prep_zero_exchanges(spark, sf_smoke) -> None:
    # FIM splits are pure per-row integer expressions — the plan must
    # contain no Exchange at all (the union of splittable/tiny branches
    # stays inside the scan stages)
    plan = _plan(registry.QUERIES["fim_split_prep"](spark, sf_smoke))
    assert "Exchange" not in plan


def test_eval_pass_at_k_single_agg_no_join(spark, sf_smoke) -> None:
    # one counter-shuffle, then the telescoping product is a sequence-HOF
    # expression: no join, no second aggregate exchange
    plan = _plan(registry.QUERIES["eval_pass_at_k"](spark, sf_smoke))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_hybrid_search_rrf_no_cartesian(spark, sf_smoke) -> None:
    # both rankers truncate to top-N before the fusion full join; the
    # only nested-loop is the 1-row query-vector broadcast
    plan = _plan(registry.QUERIES["hybrid_search_rrf"](spark, sf_smoke))
    assert "CartesianProduct" not in plan


def test_curriculum_order_no_join(spark, sf_smoke) -> None:
    # difficulty features are scan-local HOF arithmetic: no vocabulary
    # pass, no join — the only exchange is the NTILE ranking sort
    plan = _plan(registry.QUERIES["curriculum_order"](spark, sf_smoke))
    assert "Join" not in plan


def test_runtime_bloom_filter_semi_join_reduction(spark, sf_smoke) -> None:
    # The 100 TB semi-join-reduction story: when a selective dim filter
    # feeds a shuffle join, Catalyst's InjectRuntimeFilter builds a Bloom
    # filter from the dim keys (bloom_filter_agg) and applies it probe-side
    # (might_contain) BEFORE the fact table shuffles — only candidate rows
    # cross the network. Transparent to results; pinned here so a conf or
    # Spark-version regression that silently drops the filter is caught.
    # Thresholds are scoped: the defaults (10 GB application-side scan)
    # never fire at test SFs.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_smoke, "lineitem")
        o = load(spark, sf_smoke, "orders").where(F.col("o_totalprice") > 100000)
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _plan(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_parquet_aggregate_pushdown_footer_only(spark, sf_smoke) -> None:
    # Footer-served aggregates: with the v2 parquet reader, COUNT/MIN/MAX
    # over an unfiltered scan are answered from row-group statistics —
    # PushedAggregation in the scan node — instead of reading data pages.
    # At 100 TB that's the difference between a metadata pass and a full
    # scan for profiling-style queries (profile_columns' cheap pass).
    # Scoped: the engine's default v1 reader path is restored afterwards.
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    old = {k: spark.conf.get(k) for k in confs}
    path = f"{sf_smoke}/lineitem.parquet"
    baseline = (
        spark.read.parquet(path)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("lo"),
            F.max("l_quantity").alias("hi"),
        )
        .collect()[0]
    )
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("lo"),
            F.max("l_quantity").alias("hi"),
        )
        plan = _plan(df)
        assert "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_quantity)]" in plan
        assert df.collect()[0] == baseline  # footer stats agree with the scan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_search_ndcg_mrr_scan_stage_filters(spark, sf_smoke) -> None:
    # ranking evaluation must inherit bm25_rank's discipline, round-11
    # form: ONE materialized corpus pass computes pre-filtered arrays
    # (query-matching tokens, query-phrase bigrams), so every explode in
    # the final plan reads the checkpointed base — the plan contains NO
    # parquet scan (the single scan ran at materialization) and nothing
    # exploded is ever unfiltered, because the filter lives INSIDE the
    # array columns being exploded. Model sides broadcast; the whole
    # metric pipeline stays JVM-side.
    import re

    plan = _plan(registry.QUERIES["search_ndcg_mrr"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan parquet" not in plan  # corpus read once, at the base
    # both explodes (qtoks terms, qgrams phrases) present and fed by the base
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\bGenerate \(\d+\)", tree)) == 2
    assert "Scan ExistingRDD" in tree

    # The base subtree executes at materialization time and vanishes from
    # the final plan, so assert its discipline on the UN-materialized base
    # (round-12 restoration of the pruning coverage the round-11 rewrite
    # dropped): the single corpus scan is pruned to (doc_id, text), and
    # the arrays fed to the final plan's explodes are pre-filtered to the
    # evaluation terms / query phrases inside the scan stage.
    from pythonmapreduce_spark.pipeline.search import _ndcg_base

    base_plan = _plan(_ndcg_base(spark, sf_smoke))
    m = re.search(r"ReadSchema: struct<([^>]*)>", base_plan)
    assert m and sorted(f.split(":")[0] for f in m.group(1).split(",")) == [
        "doc_id",
        "text",
    ], base_plan
    assert base_plan.split("\n\n")[0].count("Scan parquet") == 1
    assert "lambdafunction(g#" in base_plan or " IN (" in base_plan  # in-array filters


def test_media_chunk_cdc_digests_only_exchange(spark, sf_smoke) -> None:
    # the CDC chunker is ONE Arrow stage over the scan (no row-at-a-time
    # Python), and every exchange is keyed on the 32-byte digest — the
    # payload bytes never leave the scan stage
    plan = _plan(registry.QUERIES["media_chunk_cdc"](spark, sf_smoke))
    # one tree node ("MapInPandas (n)"; the name also appears once more
    # as the node's detail-section header)
    assert plan.count("MapInPandas (") == 1
    assert "BatchEvalPython" not in plan
    keys = _partition_keys(plan)
    assert keys and all(k.startswith("chunk_hash") for k in keys), keys
    assert not any("payload" in k for k in keys)


def test_lpa_vote_join_is_equi_join_without_window(spark, sf_smoke) -> None:
    # label_propagation_communities runs as one plan: its vote join must
    # stay a vertex-key equi-join (no cartesian or nested loop anywhere),
    # and its per-vertex top-1 is a max_by aggregate, so no Window or
    # WindowGroupLimit sorts the vote set.
    nodes = executed_nodes(
        registry.QUERIES["label_propagation_communities"](spark, sf_smoke)
    )
    names = [n.nodeName() for n in nodes]
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names
    assert not [n for n in names if n.startswith("Window")], names
    joins = [n.simpleString(100) for n in nodes if n.nodeName().endswith("Join")]
    assert [j for j in joins if "[vtx#" in j and "[vid#" in j], joins


def test_dedup_unicode_normalized_single_arrow_stage(spark, sf_smoke) -> None:
    # NFC normalization is ONE Arrow stage over a text-only pruned scan
    # (both digests and the NFC flag derive from the same normalized
    # column — a second UDF evaluation would double the corpus pass);
    # the raw digest rides the same scan (round-7 reshape: the separate
    # raw-unique aggregate was a second corpus scan) and downstream
    # ships one md5 digest per NFC document through one groupBy.
    plan = _plan(registry.QUERIES["dedup_unicode_normalized"](spark, sf_smoke))
    assert plan.count("ArrowEvalPython (") == 1
    assert "BatchEvalPython" not in plan
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all("struct<text:string>" in ln for ln in read_schemas), read_schemas


def test_audio_decode_wav_narrow_two_column_scan(spark, sf_smoke) -> None:
    # The WAV codec round trip is ONE MapInPandas stage directly over the
    # scan — no exchange anywhere (narrow: payloads are built AND decoded
    # inside the stage, so nothing wider than two longs enters Python and
    # nothing shuffles at all), and the scan reads only doc_id + n_chars
    # (text must be pruned away: this query never touches it).
    plan = _plan(registry.QUERIES["audio_decode_wav"](spark, sf_smoke))
    assert plan.count("MapInPandas (") == 1
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas and all(
        "doc_id" in ln and "n_chars" in ln and "text" not in ln for ln in read_schemas
    ), read_schemas


def test_gram_matrix_corpus_never_shuffles(spark, sf_smoke) -> None:
    # X^T X as per-batch GEMM partials: ONE MapInPandas over an
    # embedding-only pruned scan, and the ONLY exchange carries the
    # (i, j, partial) flat rows — 4096 per batch, independent of n —
    # into the final sum. The corpus itself must never shuffle: that is
    # the property that turns a 100 TB corpus into a 16 KB matrix.
    plan = _plan(registry.QUERIES["gram_matrix"](spark, sf_smoke))
    assert plan.count("MapInPandas (") == 1
    assert "BatchEvalPython" not in plan
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas and all(
        "embedding" in ln and "vec_id" not in ln for ln in read_schemas
    ), read_schemas
    keys = _partition_keys(plan)
    assert keys and all(k.startswith(("i", "j")) for k in keys), keys


def test_pca_projection_pass_is_pure_codegen(spark, sf_smoke) -> None:
    # PCA pass 2 (the returned plan): components arrive as broadcast
    # array literals and the projection is zip_with/aggregate Column
    # math — NO Python stage and NO exchange anywhere; the corpus
    # streams through one codegen scan. (Pass 1's bounded d^2 collect
    # happens before this plan exists; tests/test_pca.py pins its math.)
    plan = _plan(registry.QUERIES["pca_project"](spark, sf_smoke))
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "Exchange"):
        assert marker not in plan, marker


def test_embedding_quantize_scan_only(spark, sf_smoke) -> None:
    # int8 scalar quantization is per-row higher-order-function math:
    # the scan IS the whole plan — no exchange, no Python stage.
    plan = _plan(registry.QUERIES["embedding_quantize"](spark, sf_smoke))
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "Exchange"):
        assert marker not in plan, marker


def test_knn_gemm_single_arrow_stage(spark, sf_smoke) -> None:
    # GEMM-path kNN: one Arrow stage does the matmul + per-batch top-k
    # prune; only (query, candidate, score) survivors reach the single
    # ranking exchange. No cartesian/nested-loop of the corpus.
    plan = _plan(registry.QUERIES["knn_gemm"](spark, sf_smoke))
    assert plan.count("MapInPandas (") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ann_recall_contracts_no_cartesian(spark, sf_smoke) -> None:
    # The four ANN recall contracts each join an approximate shortlist
    # against exact kNN truth. The tiny query set (20 rows) broadcasts —
    # BroadcastNestedLoopJoin is the intended shape there — but a raw
    # CartesianProduct or row-at-a-time Python anywhere would mean the
    # corpus side lost its broadcast/blocked formulation.
    for name in ("ann_ivf_recall", "ann_lsh_recall", "ann_pq_recall",
                 "ann_pq_rerank_recall"):
        plan = _plan(registry.QUERIES[name](spark, sf_smoke))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_triangle_wedge_joins_stay_equi_with_pruned_scans(spark, sf_smoke) -> None:
    # The node-iterator wedge join must plan both hops as hash equi-joins
    # (wedge self-join keyed on the lower endpoint, closing probe on
    # (v, w)) — the v<w orientation is a residual condition, never a
    # BNLJ/cartesian trigger. Built over the raw edge derivation (no
    # iter_materialize) so the pins also cover the scans: lineitem reads
    # only (l_orderkey, l_partkey) and the 1-URGENT predicate reaches the
    # orders scan as a pushed filter. At 100 TB this is the difference
    # between Σdeg² wedge volume and an accidental |E|² blowup.
    from pythonmapreduce_spark.operators.graphs import _edges

    e = _edges(spark, sf_smoke)
    e1 = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = e.select(F.col("src").alias("u2"), F.col("dst").alias("w"))
    wedges = e1.join(
        e2, (F.col("u") == F.col("u2")) & (F.col("v") < F.col("w"))
    ).select("v", "w")
    closing = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    plan = _plan(wedges.join(closing, ["v", "w"]).agg(F.count(F.lit(1)).alias("n")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)" in plan
    lineitem_schemas = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "l_orderkey" in ln
    ]
    assert lineitem_schemas and all(
        "l_partkey" in ln and "l_quantity" not in ln and "l_extendedprice" not in ln
        for ln in lineitem_schemas
    ), lineitem_schemas


# (query, the rounds' aggregation key, exchanges on that key, rounds with
# a state join): pagerank_iter's first round folds the uniform ranks and
# joins nothing; HITS's hub half-round and LPA's round 1 are projections
# of the adjacency row, and LPA's vote round aggregates on dst twice
# (the vote count, then the top-1).
@pytest.mark.parametrize(
    "name, round_key, exchanges, joins",
    [
        ("pagerank_iter", "dst", 3, 2),
        ("bfs_distances", "node", 3, 3),
        ("hits_hub_authority", "dst", 1, 1),
        ("label_propagation_communities", "dst", 2, 1),
    ],
    ids=["pagerank_iter", "bfs_distances", "hits_hub_authority", "label_propagation_communities"],
)
def test_adjacency_round_joins_are_shuffle_hash_on_the_base_exchange(
    spark, sf_smoke, name: str, round_key: str, exchanges: int, joins: int
) -> None:
    # Each round joins the O(V) state to the vtx-partitioned adjacency as
    # a shuffle-hash join that builds the adjacency: AQE keeps it on the
    # base's own exchange instead of broadcasting the adjacency in an
    # extra job. Only the rounds' aggregates move the state, each on the
    # round's aggregation key, and no join degrades to a cartesian.
    nodes = executed_nodes(registry.QUERIES[name](spark, sf_smoke))
    names = [n.nodeName() for n in nodes]
    assert "CartesianProduct" not in names
    # HITS's normalizer cross joins are pinned by the test below.
    assert "BroadcastNestedLoopJoin" not in names or name == "hits_hub_authority"
    vtx_joins = [
        n for n in nodes if n.nodeName().endswith("Join") and "[vtx#" in n.simpleString(100)
    ]
    assert len(vtx_joins) == joins, names
    for j in vtx_joins:
        assert j.nodeName() == "ShuffledHashJoin", j.simpleString(100)
        assert "BuildLeft" in j.simpleString(100), j.simpleString(100)
    broadcasts = [
        n.output().toString() for n in nodes if n.nodeName() == "BroadcastExchange"
    ]
    assert not [b for b in broadcasts if "nbrs#" in b], broadcasts
    round_exchanges = [
        n
        for n in nodes
        if n.nodeName() == "Exchange"
        and f"hashpartitioning({round_key}#" in n.simpleString(100)
    ]
    assert len(round_exchanges) == exchanges, [n.simpleString(100) for n in round_exchanges]


def test_pagerank_vertex_count_reuses_round_one_exchange(spark, sf_smoke) -> None:
    # |V| is the sum of round 1's sentinel row: its scalar subquery reads
    # round 1's dst exchange as a ReusedExchange, so the plan (subqueries
    # included) has no count job's SinglePartition exchange and reuses no
    # other round exchange. A NULL sentinel key or a subquery filter on
    # the key is pushed below the aggregate and fails here.
    nodes = executed_nodes(registry.QUERIES["pagerank_iter"](spark, sf_smoke))
    singles = [
        n.simpleString(100)
        for n in nodes
        if n.nodeName() == "Exchange" and "SinglePartition" in n.simpleString(100)
    ]
    assert not singles, singles
    reused = [
        n.child()
        for n in nodes
        if n.nodeName() == "ReusedExchange" and "hashpartitioning(dst#" in n.simpleString(100)
    ]
    assert len(reused) == 1, [r.simpleString(100) for r in reused]
    # round 1 is the one round exchange with no round join below it
    assert "ShuffledHashJoin" not in reused[0].treeString(), reused[0].treeString()


SINGLE_PLAN_QUERIES = (
    "pagerank_iter",
    "bfs_distances",
    "hits_hub_authority",
    "graph_cc_rounds",
    "label_propagation_communities",
    "triangle_count",
    "graph_clustering_coef",
    "graph_common_neighbors",
    "graph_degree",
    "anomaly_mad",
    "token_budget_allocator",
)
# Queries whose build runs exactly one materialization pass.
ONE_PASS_QUERIES = ("remove_dup_spans", "collocation_pmi")


def test_loop_base_two_exchanges_and_single_plan_loops_build_no_job(
    spark, sf_smoke
) -> None:
    # The adjacency loop base builds straight from the order baskets: one
    # shuffle for the basket groupBy (l_orderkey), one for the neighbor
    # collect_set (vtx). An edge distinct() or a union with the mirrored
    # edges (which re-plans the whole basket subtree) fails here.
    from pythonmapreduce_spark.operators.graphs import _sym_adjacency
    from pythonmapreduce_spark.plans.materialize import run_scope

    base = _plan(_sym_adjacency(spark, sf_smoke))
    exchanges = [
        ln.split("hashpartitioning(", 1)[1].split("#", 1)[0]
        for ln in base.splitlines()
        if "Arguments: hashpartitioning(" in ln
    ]
    assert sorted(exchanges) == ["l_orderkey", "vtx"], base
    assert "Union" not in base, base
    # The single-plan queries take their bases unmaterialized, so their
    # consumers (and the graph loops' round joins) reuse the bases'
    # exchanges: building any of them runs no Spark job and materializes
    # nothing. A checkpoint, a count() action or any other eager step at
    # build time fails here. The job count is read rather than final-plan
    # strings, which AQE repeats per stage. The one-pass queries' passes
    # are counted as the releases their build leaves in a run scope.
    sc = spark.sparkContext
    for name in SINGLE_PLAN_QUERIES + ONE_PASS_QUERIES:
        group = f"build_{name}"
        sc.setJobGroup(group, "single-plan loop build")
        try:
            with run_scope() as held:
                registry.QUERIES[name](spark, sf_smoke)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if name in ONE_PASS_QUERIES:
            assert len(held) == 1, (name, len(held))
            continue
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_hits_only_nested_loops_are_one_row_normalizer_broadcasts(
    spark, sf_smoke
) -> None:
    # The authority propagation is a vertex-key round join (pinned above);
    # the ONLY nested loops are cross joins that broadcast a 1-row
    # normalizer (the sum-of-hubs or sum-of-authorities aggregate, which
    # has no grouping key), the documented bounded-crossJoin pattern. The
    # authority exchange runs once: its normalizer reads it as a
    # ReusedExchange instead of re-running the propagation.
    nodes = executed_nodes(registry.QUERIES["hits_hub_authority"](spark, sf_smoke))
    names = [n.nodeName() for n in nodes]
    assert "CartesianProduct" not in names
    loops = [n for n in nodes if n.nodeName() == "BroadcastNestedLoopJoin"]
    assert loops, names
    for join in loops:
        assert join.joinType().toString() == "Cross", join.simpleString(100)
        assert join.buildSide().toString() == "BuildRight", join.simpleString(100)
        built = join.right()
        while built.nodeName() != "BroadcastExchange":
            built = built.plan() if built.nodeName().endswith("QueryStage") else built.child()
        agg = built.child()
        while agg.nodeName().startswith("WholeStageCodegen"):
            agg = agg.child()
        assert agg.nodeName() == "HashAggregate", agg.treeString()
        assert agg.groupingExpressions().isEmpty(), agg.simpleString(100)
    authority = [
        n
        for n in nodes
        if n.nodeName() == "Exchange" and "hashpartitioning(dst#" in n.simpleString(100)
    ]
    assert len(authority) == 1, [n.simpleString(100) for n in authority]


def test_clustering_coef_no_cartesian_and_left_join_preserved(spark, sf_smoke) -> None:
    # Triangle corners re-keyed per vertex then LEFT-joined to degrees:
    # triangle-free vertices must survive (left join present), and no
    # wedge or closing hop may degrade to cartesian/BNLJ.
    plan = _plan(registry.QUERIES["graph_clustering_coef"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftOuter" in plan, plan


# --- round-7: plan pins for the r07 attestation window's tier
# (time-series / event-analytics / ML-eval / as-of / TPC-H) ---


def test_auc_roc_collapses_before_global_window(spark, sf_smoke) -> None:
    # The O(events) work must be the combine-enabled score aggregate;
    # the global-order window (midrank cumulative) runs AFTER it, over
    # |distinct scores| rows. Regression target: the pre-round-7 form
    # ranked raw rows — |events| through one single-partition sort.
    plan = _plan(registry.QUERIES["auc_roc"](spark, sf_smoke))
    assert "hashpartitioning(score" in plan, plan  # collapse exchange
    assert "SinglePartition" in plan, plan  # the (bounded) global window
    agg = plan.index("hashpartitioning(score")
    assert agg < plan.index("SinglePartition"), (
        "score collapse must precede the global window"
    )
    assert plan.count("HashAggregate") >= 4  # partial+final, both aggs


def test_resample_ohlc_aggregates_without_window(spark, sf_smoke) -> None:
    # min_by/max_by build the OHLC bar as ONE partial+final aggregate
    # pair (SortAggregate for the struct buffers) — no per-event window,
    # exactly one exchange, keyed by the day group.
    plan = _plan(registry.QUERIES["resample_ohlc"](spark, sf_smoke))
    assert "Window" not in plan
    # "Exchange (n)" is the tree-node form; the details section repeats
    # each node as "(n) Exchange" (same convention as knn_blocked's pin)
    assert plan.count("Exchange (") == 1, plan
    assert plan.count("SortAggregate") >= 2 or plan.count("HashAggregate") >= 2


def test_rolling_zscore_aggregates_then_windows(spark, sf_smoke) -> None:
    # The event log collapses to |days| BEFORE the trailing frame: the
    # day-key aggregate exchange must appear below the window's
    # single-partition exchange in the tree (aggregate-then-window).
    plan = _plan(registry.QUERIES["rolling_zscore"](spark, sf_smoke))
    assert "Window" in plan
    assert "hashpartitioning(_groupingexpression" in plan
    assert "SinglePartition" in plan, plan
    assert plan.index("hashpartitioning(_groupingexpression") < plan.index(
        "SinglePartition"
    )


def test_session_funnel_single_user_exchange(spark, sf_smoke) -> None:
    # Sessionization via the engine's session-window merge: one user-key
    # exchange, no self-join per funnel step, no cartesian.
    plan = _plan(registry.QUERIES["session_funnel"](spark, sf_smoke))
    assert "MergingSessions" in plan or "SessionWindow" in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan  # no per-step self-join
    assert "CartesianProduct" not in plan


def test_asof_joins_stay_equi_keyed(spark, sf_smoke) -> None:
    # join_asof_nearest: union-window technique — NO join node at all,
    # both directions share the user-key exchange. bitemporal_asof: the
    # two time axes stay residual predicates on user-key equi-joins —
    # never the join key, so no nested-loop/cartesian anywhere.
    near = _plan(registry.QUERIES["join_asof_nearest"](spark, sf_smoke))
    assert "CartesianProduct" not in near
    assert "NestedLoop" not in near
    assert "hashpartitioning(user_id" in near
    bi = _plan(registry.QUERIES["bitemporal_asof"](spark, sf_smoke))
    assert "CartesianProduct" not in bi
    assert "NestedLoop" not in bi
    assert "SortMergeJoin" in bi or "ShuffledHashJoin" in bi or "BroadcastHashJoin" in bi


def test_survival_km_single_stats_pass(spark, sf_smoke) -> None:
    # Horizon + cohort size must come from ONE 1-row aggregate over the
    # last-seen table: the pre-round-7 form ran them as two separate
    # aggs, each re-deriving the user-key collapse (3 events scans).
    # Executed plan (AQE reuse visible): ≤2 events scans, ≥1 reuse.
    df = registry.QUERIES["survival_km"](spark, sf_smoke)
    scans = table_scans(signature(df)).get("events", 0)
    assert scans <= 2, f"events scanned {scans}x"
    assert "ReusedExchange" in _plan(df), "last-seen derivations no longer share"


def test_chi2_contingency_materialized_once(spark, sf_smoke) -> None:
    # The three consumers of the contingency table (seg margin, nat
    # margin, cell join) must read the materialized |r x c| base, not
    # each re-execute the customer aggregate: the pre-reshape form ran
    # 3 customer scans with zero exchange reuse (the consumers' pruned
    # column sets differ, so AQE never collapses them). With the base
    # materialized the corpus scan happens once, eagerly, and the final
    # executed plan contains NO parquet scan at all.
    df = registry.QUERIES["chi2_independence"](spark, sf_smoke)
    scans = table_scans(signature(df)).get("customer", 0)
    assert scans == 0, f"customer re-scanned {scans}x past the materialized base"


def test_retention_cohorts_single_events_scan(spark, sf_smoke) -> None:
    # Cohort week must come from a MIN window over user_id, not a
    # groupBy+self-join: the pre-reshape form ran 3 events scans with
    # zero runtime exchange reuse. One scan, no join.
    df = registry.QUERIES["retention_cohorts"](spark, sf_smoke)
    scans = table_scans(signature(df)).get("events", 0)
    assert scans == 1, f"events scanned {scans}x"
    assert "Join" not in _plan(df), "cohort week regrew a self-join"


def test_resample_ffill_series_from_observed(spark, sf_smoke) -> None:
    # The user list must derive from the materialized per-(user,day)
    # aggregate, not a third events scan: post-reshape the final plan
    # holds ONLY the global day-span scan (the observed aggregate's scan
    # ran eagerly inside the materialization).
    df = registry.QUERIES["resample_ffill"](spark, sf_smoke)
    scans = table_scans(signature(df)).get("events", 0)
    assert scans <= 1, f"events scanned {scans}x past the materialized aggregate"


def test_round7_second_wave_single_scan(spark, sf_smoke) -> None:
    # The eight 2-scan shapes collapsed to one base-table pass late round
    # 7 (materialized distinct, window totals, boundary explode, min
    # window, dual digests in one scan, count re-aggregation, guarded
    # CASE) must stay single-scan: at most ONE final-plan scan of the
    # base table (zero when an eager materialization hides it).
    wave = {
        "stickiness_dau_mau": "events",
        "bandit_ucb": "events",
        "interval_overlap": "events",
        "ngram_novelty": "documents",
        "dedup_exact_normalized": "documents",
        "dedup_unicode_normalized": "documents",
        "group_rare_categories": "documents",
        "fim_split_prep": "documents",
        "winnow_fingerprints": "documents",
    }
    problems = []
    for name, table in wave.items():
        scans = table_scans(signature(registry.QUERIES[name](spark, sf_smoke))).get(table, 0)
        if scans > 1:
            problems.append(f"{name}: {table} scanned {scans}x")
    assert not problems, problems


def test_intradoc_spans_window_not_selfjoin(spark, sf_smoke) -> None:
    # First-occurrence position must be a MIN window over (doc_id, sk):
    # the groupBy+self-join form re-derived the exploded span table on
    # both sides (3 documents scans, zero runtime reuse). Two scans stay:
    # the span explode and the all-docs length pass.
    df = registry.QUERIES["dedup_intradoc_spans"](spark, sf_smoke)
    scans = table_scans(signature(df)).get("documents", 0)
    assert scans <= 2, f"documents scanned {scans}x — span self-join regrew"


def test_boilerplate_detect_window_not_having_join(spark, sf_smoke) -> None:
    # The >=2-distinct-docs test must be min!=max over the (source,
    # seg_key) window, not groupBy-HAVING joined back (3 documents scans,
    # zero runtime reuse). Two scans stay: the segment explode and the
    # all-docs id pass.
    df = registry.QUERIES["boilerplate_detect"](spark, sf_smoke)
    scans = table_scans(signature(df)).get("documents", 0)
    assert scans <= 2, f"documents scanned {scans}x — HAVING join regrew"


def test_window_range_frame_uses_range_frame(spark, sf_smoke) -> None:
    # The trailing 1-hour frame must be a RANGE frame on the order value
    # (epoch seconds), partitioned by user — not a rows-frame rewrite.
    plan = _plan(registry.QUERIES["window_range_frame"](spark, sf_smoke))
    assert "RangeFrame" in plan, plan
    assert "hashpartitioning(user_id" in plan


def test_tpch_q9_prunes_part_before_fact_join(spark, sf_smoke) -> None:
    # The LIKE filter must reach the part scan (StringContains pushed),
    # and dims broadcast — lineitem joins without shuffling.
    plan = _plan(registry.QUERIES["tpch_q9"](spark, sf_smoke))
    assert "StringContains(p_name" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q18_semi_join_on_shared_key(spark, sf_smoke) -> None:
    # Catalyst must rewrite the HAVING IN-subquery to a LeftSemi join;
    # both lineitem shuffles key on l_orderkey so AQE can reuse the
    # exchange at runtime (verified executed: 2 ReusedExchange nodes).
    plan = _plan(registry.QUERIES["tpch_q18"](spark, sf_smoke))
    assert "LeftSemi" in plan, plan
    assert "hashpartitioning(l_orderkey" in plan


# Final ORDER BYs whose rows are bounded by a dimension domain, not by sf:
# each sorts on one partition, so no range-sample job and no range exchange.
# Each site names its bound in a comment.
BOUNDED_SORTS = (
    "agg_basic",
    "join_star",
    "tpch_q4",
    "tpch_q5",
    "tpch_q12",
    "tpch_q13",
    "group_order_by_all",
)
# Final ORDER BYs whose rows grow with sf keep the range sort.
UNBOUNDED_SORTS = (
    "sort_multi",
    "sort_nulls",
    "zorder_key",
    "tpch_q2",
    "tpch_q15",
    "tpch_q18",
    "tpch_q20",
    "tpch_q21",
)


def _executed_tree(df) -> list[str]:
    """Run ``df`` and return the lines of its executed plan (AQE final
    plan first)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


@pytest.mark.parametrize("name", BOUNDED_SORTS)
def test_bounded_sort_runs_on_one_partition(spark, sf_smoke, name: str) -> None:
    lines = _executed_tree(registry.QUERIES[name](spark, sf_smoke))
    assert not [ln for ln in lines if "rangepartitioning" in ln], "\n".join(lines)
    top_sort = next(i for i, ln in enumerate(lines) if " Sort [" in ln)
    assert lines[top_sort + 1].strip() == "+- Coalesce 1", "\n".join(lines)


@pytest.mark.parametrize("name", UNBOUNDED_SORTS)
def test_unbounded_sort_keeps_range_exchange(spark, sf_smoke, name: str) -> None:
    lines = _executed_tree(registry.QUERIES[name](spark, sf_smoke))
    assert [ln for ln in lines if "rangepartitioning" in ln], "\n".join(lines)


def _exchange_outputs(df) -> list[list[tuple[str, str]]]:
    """(name, type) of each output column of every shuffle exchange that
    ``df``'s executed plan ran."""
    return [
        [
            (a.name(), a.dataType().typeName())
            for a in (n.output().apply(i) for i in range(n.output().size()))
        ]
        for n in executed_nodes(df)
        if n.nodeName() == "Exchange"
    ]


@pytest.mark.parametrize(
    "name", ["knn_cosine", "knn_blocked", "knn_gemm", "ann_pq_rerank", "hard_negatives"]
)
def test_topk_exchanges_carry_only_the_rounded_cosine(spark, sf_smoke, name: str) -> None:
    # The cosine is rounded once, before the window: it is the ranking
    # key and the emitted value, so the raw double stays in the scoring
    # stage instead of riding beside its rounded copy.
    outputs = _exchange_outputs(registry.QUERIES[name](spark, sf_smoke))
    assert outputs
    for cols in outputs:
        assert "cos_raw" not in [c for c, _ in cols], cols


def test_ann_lsh_exchanges_carry_no_vectors(spark, sf_smoke) -> None:
    # Candidates are scored in the band join's projection, so only
    # (q_id, vec_id, cosine) crosses the dedup exchange, not two vectors.
    outputs = _exchange_outputs(registry.QUERIES["ann_lsh"](spark, sf_smoke))
    assert outputs
    for cols in outputs:
        assert "array" not in [t for _, t in cols], cols


def test_dedup_unicode_normalized_one_digest_groupby(spark, sf_smoke) -> None:
    # One groupBy(digest) replaces the two count_distincts, whose Expand
    # shipped every document's digest twice.
    nodes = executed_nodes(registry.QUERIES["dedup_unicode_normalized"](spark, sf_smoke))
    assert "Expand" not in [n.nodeName() for n in nodes]
