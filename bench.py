#!/usr/bin/env python3
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line (compact, keys ordered least-critical first — see
the payload comment in main()):
  {"queries": {"q": sec, ...}, "metric": "headline_total", "value": N,
   "unit": "sec", "sf": 0.1, "queries_min": {...}, "value_min": N,
   "protocol": {"warmups": 2, "timed_runs": 3, "stat": "median",
                "load_avg_start": ..., "load_avg_end": ...,
                "steal_ticks_delta": ...}}

Each query executes fully through the noop sink (no driver-side collect,
no result materialization cost — pure engine time).

The same JSON is also written atomically to a file
(``$SPARK_GRAFT_BENCH_OUT``, default ``/tmp/bench_out.json``): the
driver and wrappers capture a stdout TAIL, and two consecutive driver
artifacts (BENCH_r09/r10) lost their median dicts to front-truncation
of the (long) stdout line — the file copy is never truncated.

Measurement protocol (round 5): per query, 2 untimed warmups (codegen +
C1, then C2 tiering), then THREE timed runs, reporting the per-query
MEDIAN; the headline is the sum of medians. Rationale: single-run
timings on a shared machine conflate engine time with scheduler noise —
the round-4 numbers ranged 51.1 s (idle) to 63.6 s (contended) for an
identical plan set, and the then-published band had been built by
hand-excluding a contended run (a process smell the round-4 review
called out). The median absorbs one bad run per query with no manual
exclusions, and the emitted 1-minute load averages (start/end) record
the contention context every run carries, so any future band dispute is
settled by data in the JSON itself, not by re-running from memory.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

# Headline set: one representative per operator family, weighted toward the
# shuffle/join/agg-heavy paths that dominate at scale.
HEADLINE = [
    "join_star",
    "agg_basic",
    "join_broadcast",
    "wordcount",
    "inverted_index",
    "window_rank",
    "window_tumbling",
    "dedup_exact",
    "dedup_near",
    "dedup_simhash",
    "knn_cosine",
    "ann_ivf",
    "pipeline_clean_corpus",
    "heavy_hitters",
    "text_stats",
    "topk",
    # round-2 additions: multi-join TPC-H, substring/chunk dedup, the
    # distributed GEMM kernel, and the profiling pass.
    "tpch_q9",
    "dup_ngram_spans",
    "media_chunk_dedup",
    "gram_matrix",
    "profile_columns",
    # round-2 second wave: graph analytics (wedge join + iterative rank),
    # sparse all-pairs similarity, and the two LM/search rankers.
    "triangle_count",
    "pagerank_iter",
    "tfidf_cosine_pairs",
    "bm25_rank",
    "lm_perplexity",
    # round-2 third wave: frontier-iterative BFS, per-edge overlap,
    # basket metrics, and the exact sliding distinct.
    "bfs_distances",
    "graph_common_neighbors",
    "basket_rules",
    "sliding_distinct_users",
    # round-3 additions: the heaviest TPC-H EXISTS/NOT-EXISTS shape, SCD2
    # dimension snapshots, a real one-shot streaming window, and the
    # greedy sequence packer — the previously unbenchmarked tiers.
    "tpch_q21",
    "scd2_snapshot",
    "stream_event_window",
    "sequence_pack",
    # round-3 second wave: the BPE encode loop, span-rewrite dedup,
    # clustered semantic dedup, and the rank-statistic AUC — the
    # tokenizer/rewrite/embedding-dedup/eval tiers.
    "tokenizer_apply",
    "remove_dup_spans",
    "semdedup",
    "auc_roc",
    # round-3 third wave: the compressed-index ANN tier (PQ train + encode
    # + ADC scan — the 100 TB retrieval path).
    "ann_pq",
    # round-4 additions: the window-function family (shared-sort named
    # WINDOW clause), exact grouped percentiles, nearest as-of join, and
    # the end-to-end curation pipeline — the families BENCH_r03 still
    # lacked.
    "window_named_clause",
    "percentile_agg",
    "join_asof_nearest",
    "pipeline_train_prep",
    # round-4 second wave: the large-bench decontamination scale path
    # (window-hash equi-join; the regex-lookahead window extraction this
    # round's extended-decade sweep forced).
    "decontamination_ngram",
    # round-4 third wave: stateful outer stream-stream join (watermark
    # eviction + NULL emission), iterative LPA community detection, the
    # Arrow NFC normalization pass, and the tokenizer losslessness
    # contract — one entry each for the newly added families.
    "stream_stream_left_join",
    "label_propagation_communities",
    "dedup_unicode_normalized",
    "tokenizer_roundtrip",
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from pythonmapreduce_spark.session import get_spark
    from pythonmapreduce_spark.plans import registry

    spark = get_spark("pythonmapreduce-spark-bench")
    registry.load_all()

    # Warm the JVM/codegen paths once with a trivial action.
    spark.range(1000).selectExpr("sum(id)").collect()

    def steal_ticks() -> int:
        # Hypervisor steal (field 8 of /proc/stat's cpu line): the
        # adjudication signal for roaming per-query outliers on noisy VMs.
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except (OSError, IndexError, ValueError):
            return -1

    def assert_no_cache(name: str) -> None:
        # Anti-gaming gate (round 12): Spark's CacheManager serves ANY
        # later query whose subtree canonically matches a cached plan —
        # so a query that left a persist() behind would let a warmup
        # feed the timed runs. Every query must return with the SQL
        # cache empty; runs OUTSIDE the timed section.
        try:
            empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
        except Exception:
            return  # private API moved — the pytest gate still covers it
        if not empty:
            raise AssertionError(
                f"{name}: SQL cache entries survived the query build; "
                "bench timings would be contaminated across runs"
            )

    load_start = round(os.getloadavg()[0], 2)
    steal_start = steal_ticks()
    warmups, timed_runs = 2, 3
    times: dict[str, float] = {}
    mins: dict[str, float] = {}

    def noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    for name in HEADLINE:
        for _ in range(warmups):
            registry.run_query(spark, name, sf_dir, noop)
        assert_no_cache(name)
        samples = []
        for _ in range(timed_runs):
            t0 = time.perf_counter()
            registry.run_query(spark, name, sf_dir, noop)
            samples.append(time.perf_counter() - t0)
        times[name] = round(statistics.median(samples), 3)
        mins[name] = round(min(samples), 3)
        assert_no_cache(name)

    total = round(sum(times.values()), 3)
    # Key order is deliberate, least-critical FIRST: the driver keeps only
    # the last ~2000 chars of stdout, and both 48-entry dicts cannot fit in
    # that window, so whatever leads the line is what truncation eats. With
    # the median dict first, any tail window >= ~1400 chars retains every
    # headline scalar, the complete min dict (the cross-round ratio stat),
    # and the protocol block — instead of losing "metric"/"value"/medians
    # by field-order luck as BENCH_r09/r10 did. The file artifact below
    # always carries the whole payload.
    payload = {
        "queries": times,
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # Additive diagnostics (headline stays the median): min-of-3
        # is robust to a single hypervisor-steal burst landing inside
        # one query's timed section, and the steal-tick delta says
        # whether such bursts were even possible during this run.
        "queries_min": mins,
        "value_min": round(sum(mins.values()), 3),
        "protocol": {
            "warmups": warmups,
            "timed_runs": timed_runs,
            "stat": "median",
            "load_avg_start": load_start,
            "load_avg_end": round(os.getloadavg()[0], 2),
            "steal_ticks_delta": (
                steal_ticks() - steal_start if steal_start >= 0 else -1
            ),
        },
    }
    line = json.dumps(payload, separators=(",", ":"))
    # The stdout line is the driver contract, but two consecutive driver
    # artifacts (BENCH_r09/r10) lost the front of it to tail-capture
    # truncation. The file copy is the durable artifact: atomically
    # written (tmp + rename) so no reader ever sees a partial JSON.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_out.json")
    try:
        tmp_path = out_path + ".tmp"
        with open(tmp_path, "w") as f:
            f.write(line + "\n")
        os.replace(tmp_path, out_path)
    except OSError as exc:  # file copy is best-effort; stdout still wins
        print(f"bench: could not write {out_path}: {exc}", file=sys.stderr)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
