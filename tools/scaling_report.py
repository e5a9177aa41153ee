"""Generate SCALING.md: measured wall-time of representative headline
queries across sf0.001 / sf0.01 / sf0.1 (100× data spread), with the
empirical scaling exponent b from t ≈ a·SF^b over the top decade.

b ≈ 0 → fixed-cost dominated at these sizes; b ≈ 1 → linear (the target
for scan/agg/join plans); b > 1.3 → superlinear, a scale risk to explain
or fix. Run: ``python tools/scaling_report.py`` (~45-60 min with the
min-of-3 protocol and the sf1.0 tier; needs the machine exclusively).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # gen_scaled_sf

# Executor python workers unpickle UDFs that reference the package and
# resolve it via THEIR cwd/PYTHONPATH, not the driver's sys.path — run
# this from the repo root (python tools/scaling_report.py) or the pair
# tier dies with ModuleNotFoundError in the worker.
if not os.path.isdir("pythonmapreduce_spark"):
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pythonmapreduce_spark.plans.registry import QUERIES, load_all  # noqa: E402
from pythonmapreduce_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

SFS = [0.001, 0.01, 0.1]
SF_DIRS = {sf: f"/root/testdata/sf{sf}" for sf in SFS}

# One representative per plan family; heavier iterative/graph shapes
# included deliberately — those are where superlinearity would hide.
QUERY_SET = [
    "agg_basic",
    "join_star",
    "wordcount",
    "window_rank",
    "topk",
    "dedup_exact",
    "dedup_near",
    "dedup_simhash",
    "semdedup",
    "knn_cosine",
    "tfidf_cosine_pairs",
    "triangle_count",
    "pagerank_iter",
    "heavy_hitters",
    "sequence_pack",
    "remove_dup_spans",
    "tokenizer_apply",
    "lm_perplexity",
    # round-3 additions: compressed-index ANN (train+encode+ADC),
    # winnowing selection (window argmin over exploded grams), and the
    # hashed training shuffle (one exchange + per-shard sort).
    "ann_pq",
    "winnow_fingerprints",
    "dataset_shuffle_shards",
    # round-4 addition: the Arrow-stage CDC chunker (rolling-hash
    # boundaries; linear by construction — pinned here to prove it).
    "media_chunk_cdc",
    # round-4 third wave: the stateful outer stream join (state bounded
    # by the watermark horizon, not stream length), iterative LPA
    # (O(E) votes per round), and the NFC Arrow pass (one scan).
    "stream_stream_left_join",
    "label_propagation_communities",
    "dedup_unicode_normalized",
    # round-5 addition: the real-codec audio round trip (one narrow
    # MapInPandas over a 2-long-column scan, zero exchanges — linear by
    # construction; pinned here to prove the Python stage stays linear).
    "audio_decode_wav",
    # round-7 additions: one representative per plan family of the r07
    # driver-attestation window (time-series/event-analytics/as-of/TPC-H)
    # so the tier being attested carries measured scaling evidence —
    # sessionized funnel (session window + ordered step match), rolling
    # window frame stats, time-bucket resample agg, cumulative-product
    # survival curve, range-pruned as-of backward join, two-time-axis
    # as-of, and the two heaviest TPC-H shapes in the queue (q9's
    # 6-table star with part-filter pushdown, q18's group-having
    # semi-reduction into a wide join).
    "session_funnel",
    "rolling_zscore",
    "resample_ohlc",
    "survival_km",
    "join_asof_nearest",
    "bitemporal_asof",
    "tpch_q9",
    "tpch_q18",
    # round-7 reshape: AUC now collapses to distinct scores before the
    # global-order window (domain-bounded, not corpus-bounded) — pinned
    # here so the exponent records the aggregate-dominated shape.
    "auc_roc",
    # round-7 second wave: the five 3-scan shapes reshaped to
    # single-pass/window forms (contingency materialization, cohort MIN
    # window, reused resample aggregate, intradoc span window,
    # boilerplate min!=max window) — pinned so their exponents record
    # the reshaped plans.
    "chi2_independence",
    "retention_cohorts",
    "resample_ffill",
    "dedup_intradoc_spans",
    "boilerplate_detect",
]

# The shapes where quadratic terms would hide; measured one decade further
# (sf0.1 → sf1.0) on generated TPC-H-semantics inputs.
PAIR_TIER = [
    "semdedup",
    "semdedup_assign_stage",  # assignment alone, K held at 64 (see below)
    "dedup_near",
    "tfidf_cosine_pairs",
    "remove_dup_spans",
    "triangle_count",
    # round-4 additions — the remaining shapes where a quadratic term
    # could hide one decade up: common-neighbor pair explosion, n-gram
    # span pair join, simhash band pairs, window-vs-snippet hash join
    # (bench side grows with n in the fixture), winnowing's exploded
    # gram windows.
    "graph_common_neighbors",
    "dup_ngram_spans",
    "dedup_simhash",
    "decontamination_ngram",
    "winnow_fingerprints",
    # late round 7: the flagship curation chain, after its decontam stage
    # moved to the window-hash equi-join — pinned one decade up so the
    # composed pipeline (quality gate -> WindowGroupLimit dedup ->
    # window explode + BroadcastHashJoin -> per-doc verdict group-back)
    # carries measured evidence, not just its stages.
    "pipeline_train_prep",
    # round-7 fourth session: the ITERATIVE tier, post superstep-0 folds.
    # Iteration-bound shapes hide a different failure than pair blowup —
    # per-round state that grows with rounds (uncheckpointed lineage) or
    # a per-round join that stops being O(E). Each loop here runs a fixed
    # round count over the co-occurrence edge set, so the measured b must
    # track the edge count's growth (~linear in SF), not rounds².
    "pagerank_iter",
    "label_propagation_communities",
    "bfs_distances",
    "graph_cc_rounds",
    "kcore_rounds",
    "hits_hub_authority",
    "dedup_clusters",
    # round-8: the collapsed exact-quantile tier (operators/quantiles.py,
    # the round-7 rewrite that replaced unspillable whole-group percentile
    # buffers). Its scale claim — shuffle width = |distinct values|, window
    # sort spills — is argued and bench-measured at sf0.1; this decade
    # makes it MEASURED like the graph tier. The failure it would expose:
    # a distinct-value domain that secretly grows ~|rows| (then the window
    # sort does corpus-sized work per group and b drifts superlinear).
    "percentile_agg",
    "histogram_equidepth",
    "winsorize",
    "robust_scale",
    "conversion_latency",
]

# Round-9 (VERDICT r08 item 4): the STREAMING tier, measured one decade
# up — wall time AND state-store rows per SF. Batch tiers all carry
# measured exponents; streaming state growth under watermark was argued
# but unmeasured. Three deliberately different state keys:
# - stream_event_window: TIME-keyed state (window × event_type). The
#   scaled inputs grow entities over the SAME time span (TPC-H SF
#   semantics), so state rows must stay ~CONSTANT in SF — that is the
#   watermark design claim made measurable.
# - stream_dedup: ENTITY-keyed state (user_id × event_type, users grow
#   with SF) — state rows must grow ~linearly; at 100 TB this is the
#   state class that needs watermark/TTL eviction, and the row makes the
#   contrast with the time-keyed class a measurement.
# - stream_stream_left_join: two-sided ENTITY-keyed join state within
#   the watermark horizon — the heaviest state shape in the engine.
STREAM_TIER = [
    "stream_event_window",
    "stream_dedup",
    "stream_stream_left_join",
]


def _last_stream_state_rows() -> int:
    """Max total state rows across the just-finished stream's batches."""
    from pythonmapreduce_spark.streaming.stream_jobs import LAST_RUN_PROGRESS

    best = 0
    for p in LAST_RUN_PROGRESS.get("progress", []):
        best = max(
            best,
            sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])),
        )
    return best


def _semdedup_assign_stage(spark, sf_dir):
    """semdedup's centroid-assignment stage alone, K held at its fixture/
    deployment value (64): the stage round 3 flagged as O(n²/64). With the
    fixed-K chunked-GEMM shape its cost is O(n·K·d) — the measured b must
    sit at/below ~1. (semdedup's full-query row also carries the in-cluster
    PAIR stage, which at a PINNED K widens clusters as n grows — Σ|c|²/2 ≈
    n²/2K — so its exponent climbs toward 2-ε unless the deployment scales
    K with the corpus, which is exactly how the SemDeDup paper sizes K;
    semdedup_k takes that K as a parameter without changing the plan.)"""
    from pythonmapreduce_spark.pipeline.similarity import (
        _SEMDEDUP_K,
        _semdedup_unit_vectors,
        semdedup_assign,
    )
    from pyspark.sql import functions as F

    e = _semdedup_unit_vectors(spark, sf_dir)
    c = e.where(F.col("vec_id") <= _SEMDEDUP_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    return semdedup_assign(spark, e, c)


def _steal_ticks() -> int:
    """Hypervisor steal (field 8 of /proc/stat's cpu line) — same
    adjudication signal bench.py records: a large delta across the run
    means cells may be burst-inflated even under the min-of-3 protocol
    (a multi-minute burst covers all 3 consecutive timed runs)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def main() -> int:
    load_all()
    spark = get_spark("scaling-report")
    spark.range(1000).selectExpr("sum(id)").collect()
    steal_start = _steal_ticks()

    def timed(fn, d: str) -> float:
        """Min of 3 timed runs after 2 warmups: the burst-robust statistic
        (same rationale as bench.py's queries_min) — a single timed run on
        a steal-burst boot can inflate one cell 3-6x and turn a clean b
        into a phantom superlinear row (measured: remove_dup_spans 50.0 s
        single-shot vs 8.8 s min-of-3 at sf1.0 on the 2026-08-16 boot)."""
        for _ in range(2):  # codegen + JIT warm
            fn(spark, d).write.mode("overwrite").format("noop").save()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, d).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    times: dict[str, dict[float, float]] = {}
    for name in QUERY_SET:
        fn = QUERIES[name]
        times[name] = {}
        for sf in SFS:
            times[name][sf] = timed(fn, SF_DIRS[sf])

    lines = [
        "# SCALING — measured cross-SF behavior (generated by tools/scaling_report.py)",
        "",
        f"Steady-state wall time (measured at {DEFAULT_CPUS} cores, noop sink, 2 warmups, min of 3",
        "timed runs — burst-robust against hypervisor steal) at three scale",
        "factors spanning 100× in data volume. `b` is the empirical exponent of",
        "t ≈ a·SF^b fitted over the top decade (sf0.01 → sf0.1): **b ≈ 0** means",
        "fixed cost (JVM/plan/scheduling) still dominates at these sizes, **b ≈ 1**",
        "is linear scaling — the design target for scan/agg/join plans — and",
        "**b > 1.3** would flag a superlinear shape that 100 TB would punish.",
        "At these test sizes most queries sit between fixed-cost-dominated and",
        "linear; what matters is that NONE are superlinear.",
        "",
        "| query | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | b (top decade) |",
        "|---|---|---|---|---|",
    ]
    worst: list[tuple[str, float]] = []
    for name in QUERY_SET:
        t = times[name]
        b = math.log(t[0.1] / t[0.01]) / math.log(10)
        worst.append((name, b))
        lines.append(
            f"| {name} | {t[0.001]:.3f} | {t[0.01]:.3f} | {t[0.1]:.3f} | {b:.2f} |"
        )
    lines += [
        "",
        "Every exponent at or below ~1 ⇒ no measured superlinear plan in the",
        "representative set. The iterative/graph/pair-generating shapes",
        "(pagerank_iter, triangle_count, dedup_near, semdedup,",
        "tfidf_cosine_pairs) are included precisely because quadratic blowups",
        "hide there; their bounds (checkpointed O(V) ranks, wedge order,",
        "bucket caps, fixed-K GEMM assignment, df prunes) hold in",
        "measurement, not just in docstrings.",
        "",
    ]

    # ---- pair-generating tier, one decade further (round-3 ask #5) ----
    # sf0.1 fixed costs masked semdedup's old quadratic term (K only grew
    # 8→78 across the committed SFs); these measurement-only dirs extend
    # the range to sf1.0 with TPC-H-style growth semantics (see
    # tools/gen_scaled_sf.py) so a superlinear plan has nowhere to hide.
    from gen_scaled_sf import ensure_scaled_dirs  # noqa: E402

    scaled = ensure_scaled_dirs()
    pair_sfs = [0.1, 0.3, 1.0]
    pair_dirs = {0.1: SF_DIRS[0.1], **scaled}
    pair_times: dict[str, dict[float, float]] = {}
    for name in PAIR_TIER:
        fn = (
            _semdedup_assign_stage
            if name == "semdedup_assign_stage"
            else QUERIES[name]
        )
        pair_times[name] = {}
        for sf in pair_sfs:
            pair_times[name][sf] = timed(fn, pair_dirs[sf])

    lines += [
        "## Pair-generating, iterative, and exact-quantile tiers, extended decade (sf0.1 → sf1.0)",
        "",
        "Measurement-only inputs derived from the sf0.1 fixtures with",
        "TPC-H-style SF semantics — entity counts grow, per-entity density",
        "constant (tools/gen_scaled_sf.py; correctness gates never touch",
        "these dirs). `b` is recomputed over the NEW top decade",
        "(sf0.1 → sf1.0), where fixed costs no longer dominate: this is the",
        "column that exposed nothing after semdedup's assignment stage was",
        "re-shaped to fixed-K chunked GEMM (the old K∝n form measured",
        "superlinear here).",
        "",
        "| query | sf0.1 (s) | sf0.3 (s) | sf1.0 (s) | b (sf0.1→sf1.0) |",
        "|---|---|---|---|---|",
    ]
    pair_worst: list[tuple[str, float]] = []
    for name in PAIR_TIER:
        t = pair_times[name]
        b = math.log(t[1.0] / t[0.1]) / math.log(10)
        pair_worst.append((name, b))
        lines.append(
            f"| {name} | {t[0.1]:.3f} | {t[0.3]:.3f} | {t[1.0]:.3f} | {b:.2f} |"
        )
    lines += [
        "",
        "Anything with b > 1.3 in this table gets a plan fix or a written",
        "bound before it ships (SCALING contract). Reading semdedup's two",
        "rows: `semdedup_assign_stage` (K held at 64) is the stage round 3",
        "flagged — now measured at/below linear. The full `semdedup` row",
        "additionally carries the in-cluster pair stage, whose cost at a",
        "PINNED K is Σ|cluster|²/2 ≈ n²/2K (clusters widen as n grows);",
        "its exponent therefore climbs with SF **by the fixture's choice",
        "of constant K**, not by plan shape — a deployment sizes K to the",
        "corpus (the SemDeDup paper's 50k for 440M ⇒ ~9k-wide clusters)",
        "via semdedup_k(k=...), which restores linear pair work without",
        "any plan change.",
        "",
        "This table has already earned its keep twice: round 3's run",
        "exposed semdedup's K∝n assignment stage, and round 4's first run",
        "measured decontamination_ngram at b=1.31 — the per-position",
        "substring(text, pos, 60) window extraction seeks from the string",
        "start on every call (UTF-8 variable-width chars), i.e. O(len²)",
        "per document. Rewritten as one regexp_extract_all lookahead pass",
        "((?s)(?=(.{60}))): 55 s → ~5 s at sf1.0, and the row below is",
        "the post-fix measurement. (Scaled replicas also lengthen docs",
        "~1.5× via the _rN token suffixes, so document-tier rows carry a",
        "built-in upward bias: +log10(1.5)≈0.17 for work linear in chars,",
        "+0.35 for anything O(len²) per doc — which is precisely why the",
        "substring flaw surfaced here and nowhere else, and why a",
        "documents-reading row near b≈1.1 is 'linear in bytes', not",
        "superlinear in docs.)",
        "",
        "The iterative rows (pagerank_iter, label_propagation_communities,",
        "bfs_distances, graph_cc_rounds, kcore_rounds, hits_hub_authority,",
        "dedup_clusters) each run a FIXED round count over the co-occurrence",
        "edge set (or the LSH cluster graph for dedup_clusters), with the",
        "round-7 superstep-0 folds in: their per-round state is",
        "localCheckpoint'd/materialized, so time must grow with the edge",
        "count (~linear in SF), not with rounds × lineage depth — an",
        "uncheckpointed loop would show here as a superlinear row one",
        "decade up even though every round is individually O(E).",
        "",
        "The exact-quantile rows (percentile_agg, histogram_equidepth,",
        "winsorize, robust_scale, conversion_latency — round 8) measure the",
        "collapsed weighted-quantile pass (operators/quantiles.py) one",
        "decade up: the combine-enabled distinct-(group,value) count is the",
        "only |rows|-proportional stage, so b must track the scan (~linear),",
        "while the window sort runs over |distinct values| rows. A",
        "superlinear row here would mean the distinct-value domain grows",
        "with the corpus faster than assumed (prices/latencies are",
        "domain-bounded by construction in TPC-H-semantics inputs).",
        "",
    ]

    # ---- streaming tier, one decade further (round-9, VERDICT item 4) --
    stream_times: dict[str, dict[float, float]] = {}
    stream_state: dict[str, dict[float, int]] = {}
    for name in STREAM_TIER:
        fn = QUERIES[name]
        stream_times[name], stream_state[name] = {}, {}
        for sf in pair_sfs:
            stream_times[name][sf] = timed(fn, pair_dirs[sf])
            stream_state[name][sf] = _last_stream_state_rows()

    lines += [
        "## Streaming tier, extended decade (sf0.1 → sf1.0) — time AND state",
        "",
        "Same scaled inputs; each cell is the full bounded availableNow",
        "replay (source → stateful operator → memory sink, min of 3).",
        "`state rows` is the engine's own stateOperators.numRowsTotal at",
        "each SF — the number that decides whether an unbounded run",
        "survives, independent of wall time. The scaled inputs grow",
        "ENTITIES over the SAME time span (TPC-H SF semantics), so the",
        "two state classes must separate: time-keyed window state stays",
        "~flat (the watermark bounds it by horizon, not by input size),",
        "entity-keyed state (dedup keys, join rows) grows ~linearly —",
        "at 100 TB/day the first class needs only a watermark, the second",
        "needs key TTL/eviction policy, and this table measures which",
        "query is in which class instead of asserting it.",
        "",
        "| query | sf0.1 (s) | sf0.3 (s) | sf1.0 (s) | b (time) | state rows 0.1 / 0.3 / 1.0 | b (state) |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in STREAM_TIER:
        t, s = stream_times[name], stream_state[name]
        b = math.log(t[1.0] / t[0.1]) / math.log(10)
        bs = (
            math.log(s[1.0] / s[0.1]) / math.log(10)
            if s[0.1] and s[1.0]
            else float("nan")
        )
        lines.append(
            f"| {name} | {t[0.1]:.3f} | {t[0.3]:.3f} | {t[1.0]:.3f} | {b:.2f} "
            f"| {s[0.1]:,} / {s[0.3]:,} / {s[1.0]:,} | {bs:.2f} |"
        )
    lines += [
        "",
        "Reading the state column: stream_event_window's state is",
        "(window × event_type) — time-keyed, so a flat row here is the",
        "watermark claim MEASURED (windows don't multiply when entities",
        "do). stream_dedup's state is (user_id × event_type) and",
        "stream_stream_left_join's is per-user buffered rows within the",
        "watermark horizon — entity-keyed, expected b(state) ≈ 1: their",
        "unbounded-run story is the eviction policy (withWatermark on the",
        "dedup keys; the join's two-sided watermark), not a constant bound",
        "— and that eviction is PINNED, not argued: two replay tests in",
        "tests/test_streaming.py assert numRowsTotal SHRINKS when the",
        "watermark advances (window-agg state 5→3; dropDuplicatesWithin-",
        "Watermark key state 4→5→2), covering both state classes.",
        "Wall-time exponents carry the usual per-micro-batch fixed cost",
        "(state-store instance creation + commit barriers dominate at",
        "these sizes), so b(time) under-states data sensitivity; b(state)",
        "is the honest scale axis for streaming.",
        "",
    ]
    steal_delta = _steal_ticks() - steal_start
    lines += [
        f"Run diagnostics: steal_ticks_delta={steal_delta} across the whole",
        "report (bench.py's adjudication signal; a clean boot measures tens",
        "to low hundreds over this workload — thousands mean hypervisor",
        "bursts may have inflated individual cells despite min-of-3, so",
        "re-measure any row over the bar standalone before acting on it).",
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"), "w") as f:
        f.write("\n".join(lines))
    mx = max(worst, key=lambda x: x[1])
    pmx = max(pair_worst, key=lambda x: x[1])
    print(f"wrote SCALING.md; max exponent: {mx[0]} b={mx[1]:.2f}")
    print(f"pair-tier max exponent (sf0.1->sf1.0): {pmx[0]} b={pmx[1]:.2f}")
    # the 'b > 1.3 gets a plan fix or a written bound' contract, enforced:
    # semdedup's full row is the one documented exception (pair stage at
    # the fixture's PINNED K — the written bound lives in the table text)
    over = [(n, b) for n, b in pair_worst if b > 1.3 and n != "semdedup"]
    if over:
        print(f"WARNING: pair-tier exponents over 1.3 without a written bound: {over}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
