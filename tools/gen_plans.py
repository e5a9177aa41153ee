"""Regenerate PLANS.md, plans/signatures.json and the counter ledger
plans/ledger.json, and flag any query whose shuffle bytes or tasks rose.

One ``get_spark`` session at its default core count runs everything.

The ledger: every registered query runs twice at sf0.01 through
``registry.run_query`` into the noop sink, and its row records the stages
built before the sink was called, total stages, tasks and shuffle-write
bytes as ``[min, max]`` ranges, and spill bytes, all read from Spark's
status store by ``perfbench/layers.py``. Some queries take more than one
value with unchanged code (BASELINE.md "Regression rule"): a range sort's
bytes follow its sample's seed (the RDD id), and AQE's runtime choices
can add a stage. The ``bench.py`` headline queries also run once at
sf0.1, with the byte exponent over the top decade (sf0.01 -> sf0.1);
below sf0.01 the corpus is flat.

Before overwriting the ledger, the sf0.01 rows are compared with the
committed ones: a query rose when the minimum of its tasks or of its
bytes exceeds the recorded maximum. Risen, added and removed queries are
printed, and the exit status is 1 when any query rose. Where a new range
overlaps the recorded one, the ledger keeps their union, so a
multi-valued query settles on the range it takes; otherwise (a rise or a
fall) it keeps the new range, so a later return to the old value flags.
Deleting a row re-records it from scratch.

PLANS.md and signatures.json: each PLANS.md query runs once more
(collecting) through ``run_query``. plans/signatures.json gets the final
plan's structural signature (``plans/signature.py``), which
``tests/test_plan_signatures.py`` must reproduce. PLANS.md gets the
annotated formatted plan after the run (the AQE final plan, then the
initial one) for each query whose signature or note changed; a section
whose query kept both keeps its committed text, so a regeneration's diff
shows only the plans that changed and not the expression ids every run
renumbers.

Run from the repo root: ``python tools/gen_plans.py`` (bytes are zstd
bytes; they compare only within one codec).
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402
from perfbench.layers import next_stage_id, stage_totals  # noqa: E402
from pythonmapreduce_spark.plans import registry  # noqa: E402
from pythonmapreduce_spark.plans.signature import signature  # noqa: E402
from pythonmapreduce_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"
SF_LARGE = os.path.join(os.path.dirname(SF), "sf0.1")
SIGNATURES = os.path.join(REPO, "plans", "signatures.json")
LEDGER = os.path.join(REPO, "plans", "ledger.json")

NOTES = {
    "join_star": (
        "lineitem (the 100 TB fact) is joined without ever shuffling: "
        "orders/customer arrive via shuffle exchanges only on THEIR side at "
        "larger SFs, nation/region are broadcast; one exchange for the final "
        "aggregation, and its 25 rows sort in one task (Coalesce 1, no range "
        "exchange)."
    ),
    "agg_basic": (
        "partial HashAggregate before the exchange (map-side combine) — only "
        "|groups| rows shuffle, not |lineitem|; the reference ships every "
        "(word,1) pair uncombined. The ≤6 groups sort in one task (Coalesce 1, "
        "no range exchange)."
    ),
    "wordcount": (
        "explode stays inside WholeStageCodegen; partial+final aggregate pair "
        "around one exchange keyed by word."
    ),
    "topk": (
        "TakeOrderedAndProject: per-partition top-k, k rows per partition to "
        "the driver — no global sort."
    ),
    "topk_per_group": (
        "WindowGroupLimit prunes each partition to k rows per key BEFORE the "
        "window sort — grouped top-k without materializing full partitions."
    ),
    "join_broadcast": (
        "supplier⋈nation dim chain broadcast to every executor; the fact "
        "table's only exchange is the final agg on n_name."
    ),
    "tpch_q6": (
        "all four predicates in PushedFilters at the parquet scan; single-row "
        "combine, no shuffle of data rows."
    ),
    "knn_cosine": (
        "corpus never shuffles: queries broadcast (BroadcastNestedLoopJoin "
        "over 20 rows), scoring inside codegen, per-query top-k via window. "
        "The cosine is rounded once in the scoring stage and is both the "
        "ranking key and the output, so the window exchange carries "
        "(q_id, n_id, cosine) and never the raw double."
    ),
    "knn_blocked": (
        "scale formulation of knn_cosine (same oracle): local top-k per "
        "(query, block) spreads ranking over 8x more partitions, global "
        "merge sees only blocks*k rows per query — no per-query straggler "
        "partition at 1000-executor scale. The block is a partition "
        "expression of n_id, hashed inside the exchange, so both window "
        "exchanges carry only (q_id, n_id, rounded cosine)."
    ),
    "dedup_near": (
        "MinHash-LSH: one scan computes 64 signatures via partial+final "
        "min-aggregates (scalar xxhash64 shingle hashing, no HOFs); pairs "
        "generated IN-bucket by groupBy+combination-explode so the "
        "signature pipeline runs once (a band self-join would run it per "
        "side); Jaccard verify runs as shuffle hash joins on doc_id with "
        "the pair side hinted as build — nothing corpus-proportional is "
        "ever broadcast (the pair list grows with the corpus)."
    ),
    "tpch_q3": (
        "both date predicates push to their scans; customer filter prunes "
        "before the fact joins; LIMIT 10 lowers to TakeOrderedAndProject "
        "on the rounded-revenue sort key (heap merge, no global sort)."
    ),
    "profile_columns": (
        "exact profiling in two narrow passes: one HashAggregate computes "
        "nulls/min/max for every column on native types; distincts go "
        "through a 2-column-wide stack() explode + partial-distinct "
        "aggregate, so shuffle width is independent of profiled column "
        "count and the corpus is never sorted."
    ),
    "doc_chunks": (
        "tokenize → sequence(starts) → explode → slice, all inside one "
        "WholeStageCodegen scan stage: zero exchanges, chunking runs at "
        "scan bandwidth and scales with input splits."
    ),
    "sequence_pack": (
        "running-sum window PARTITIONED by shard (one exchange on shard), "
        "then a partial+final aggregate per (shard,bin) — no global window, "
        "shards pack in parallel."
    ),
    "domain_mix": (
        "per-language rates from a tiny aggregate re-broadcast onto the "
        "corpus scan (BroadcastHashJoin) followed by a stateless hash "
        "filter — the corpus is filtered in place, never shuffled or "
        "ranked; one exchange for the final per-language count."
    ),
    "sketch_frequent_items": (
        "single pass: partial approx_top_k sketches merge map-side "
        "(ObjectHashAggregate partial+final around one 1-row exchange); "
        "memory bounded by maxItemsTracked regardless of corpus size."
    ),
    "triangle_count": (
        "node-iterator wedges explode from each vertex's higher neighbours "
        "in the adjacency base and close in one vertex-key equi-join (no "
        "cartesian, no nested loop) against the neighbour array; the "
        "vertex total order orients each triangle exactly once, and wedge "
        "volume is the Σ deg² bound kept small by the order-size-bounded "
        "co-occurrence degree. One plan, no checkpoint."
    ),
    "pagerank_iter": (
        "three rounds in one plan over the vtx-partitioned adjacency base: "
        "rounds 2 and 3 join the O(V) ranks to it as shuffle-hash joins on "
        "the base's own exchange (ReusedExchange), and each round moves "
        "only (dst, partial sum) rows. Round 1 folds the uniform ranks and "
        "emits one sentinel row per vertex beside the contributions; |V| is "
        "the sentinel's sum, read by a scalar subquery that reuses round "
        "1's exchange, so no count job and no SinglePartition exchange. "
        "One plan, no checkpoint."
    ),
    "tfidf_cosine_pairs": (
        "partial dot products generated per POSTING LIST (equi-join on the "
        "bigram key), never per document pair; the df∈[2,100] prune bounds "
        "Σ|posting|² — prefix filtering, the only way all-pairs similarity "
        "survives 100 TB. One exchange on the term key, one on (d1,d2)."
    ),
    "bm25_rank": (
        "every document is scored in the scan stage from its own per-term "
        "count array; the corpus statistics (N, avgdl, df) are observe() "
        "metrics of the pass that materializes the base and enter the "
        "score as literals, so the plan has no exchange and no join; "
        "TakeOrderedAndProject caps the ranking at k rows per partition."
    ),
    "hybrid_search_rrf": (
        "the lexical leg is bm25_rank's scorer (scan-stage scores over the "
        "materialized base, corpus statistics as literals, no exchange); the "
        "semantic leg broadcasts the one query vector onto the unshuffled "
        "embeddings scan; each leg's row_number <= 100 becomes a "
        "TakeOrderedAndProject, so the full-outer fusion join and the final "
        "top-20 touch at most 200 rows, with no exchange of their own."
    ),
    "semdedup": (
        "fixed-K (deployment constant, fixture 64) assignment as a "
        "MapInPandas chunked GEMM — the K×d centroid matrix is a bounded "
        "driver collect torrent-broadcast outside the plan, so there is NO "
        "join node and no broadcast-threshold cliff at any K; the argmax "
        "key is the integer-encoded ROUND(dot,4)/cid pair shared with the "
        "oracle; the in-cluster pair join shuffles on the cluster key. A "
        "deployment sizes K to the corpus (semdedup_k), keeping both "
        "stages linear."
    ),
    "tokenizer_apply": (
        "zero exchanges: the trained merges are driver-side literals applied "
        "as chained codegen'd string replaces over the marker-encoded scan; "
        "symbol counts are length arithmetic, never an explode."
    ),
    "remove_dup_spans": (
        "span identity crosses exchanges only as a compact hash; coverage "
        "explodes to (doc_id, pos) int pairs; the anti-join and the rebuild "
        "sort both key on doc_id, reusing one partition layout."
    ),
    "graph_clustering_coef": (
        "one adjacency base feeds the wedges, the closing probe AND the "
        "degrees (size(nbrs)); triangle corners explode back to vertex "
        "keys for combine-enabled counting — work stays within the wedge "
        "bound, output is |V|. One plan, no checkpoint."
    ),
    "hits_hub_authority": (
        "mutually-recursive two-table update in one plan over the "
        "vtx-partitioned adjacency base: the hub half-round is size(nbrs) "
        "on the base's rows; the authority half-round joins the hubs to "
        "the base as a shuffle-hash join on its own exchange, explodes "
        "nbrs and sums per dst on one exchange, which the authority "
        "normalizer reads as a ReusedExchange; normalizers are 1-row "
        "broadcasts; deterministic top-20 caps the output. No checkpoint."
    ),
    "ann_pq": (
        "the final ADC scan: the encoded corpus (8 one-byte codes/vector) "
        "never shuffles; the 20 query distance tables broadcast; the "
        "estimated distance is a JVM higher-order fold, and the only "
        "exchange is the q_id top-k window. Training/encode are separate "
        "bounded-collect jobs upstream of this plan."
    ),
    "dataset_shuffle_shards": (
        "exactly the write topology: one hash exchange on the shard key + "
        "per-partition sort (window), partial+final aggregate for the "
        "checksums — deliberately NO global range sort."
    ),
    "media_chunk_cdc": (
        "content-defined chunking in ONE Arrow stage over the scan "
        "(rolling-hash boundaries are a local 8-byte window — no cross-row "
        "state); payload bytes never leave it, and both exchanges key on "
        "the 32-byte digest with partial aggregation ahead of each."
    ),
    "graph_cc_bigstar": (
        "four star-contraction rounds, each one neighborhood min-aggregate "
        "+ a re-keyed distinct edge emission over the materialized previous "
        "round — nothing wider than (vertex, vertex) int pairs in any "
        "exchange; the O(log n)-round CC shape."
    ),
    "winnow_fingerprints": (
        "gram explode + hashing in the scan stage; ONE doc_id partition "
        "sort serves both the 5-gram min window and the lead() validity "
        "check; all later aggregates reuse doc_id-keyed exchanges."
    ),
    "label_propagation_communities": (
        "both rounds in one plan over the vtx-partitioned adjacency base: "
        "round 1 is array_min(nbrs) on the base's rows; round 2 joins the "
        "labels to the base as a shuffle-hash join on its own exchange, "
        "pushes each label to the neighbours (explode), then a vote count "
        "agg + max_by top-1; the community sizes aggregate last. No "
        "checkpoint, no cartesian."
    ),
    "search_ndcg_mrr": (
        "offline ranking evaluation with bm25_rank's scan discipline: both "
        "corpus explodes (terms and bigrams) carry their IN-list filter "
        "directly on the Generate, so only the 6 eval terms / 3 query "
        "phrases ever reach an Exchange; n_docs and avgdl are observed while "
        "the base materializes and enter as literals; qmap/idf broadcast; every "
        "aggregate past the per-query top-10 touches ≤ |queries|·k rows. "
        "tests/test_plans.py asserts every Generate's parent is a Filter "
        "and the documents scans read only (doc_id, text)."
    ),
    "dedup_unicode_normalized": (
        "ONE ArrowEvalPython stage (NFC) over a text-only pruned scan — "
        "both digests and the NFC flag derive from the same normalized "
        "column. A Generate emits one (md5 digest, raw, nf) row per NFC "
        "document and two for a document outside NFC; one groupBy(digest) "
        "exchange feeds a 1-row global aggregate. No Expand, no join."
    ),
    "audio_decode_wav": (
        "REAL stdlib WAV codec round trip in one narrow MapInPandas "
        "directly over a two-column pruned scan (doc_id, n_chars — text "
        "pruned): zero exchanges in the whole plan; payloads are built "
        "and decoded inside the stage so no blob ever shuffles."
    ),
    # --- round-7: the driver-attestation window's plan families
    # (time-series / event-analytics / ML-eval / as-of / TPC-H tier) ---
    "session_funnel": (
        "sessionization via the engine's session_window merge: ONE "
        "user-key exchange assigns 30-min-gap sessions and the "
        "conditional first-signup/last-purchase flags fold into the same "
        "combine-enabled aggregate; the funnel rollup then runs on "
        "|sessions| rows — no per-step self-join, no second pass over "
        "events."
    ),
    "resample_ohlc": (
        "positional open/close WITHOUT a window: min_by/max_by on the "
        "(µs, event_id) struct key are algebraic aggregates, so the "
        "whole OHLC bar builds in one partial+final aggregate pair and "
        "|days| rows cross the one exchange regardless of trade volume "
        "(the struct-keyed buffers route to SortAggregate — a "
        "per-partition sort on the day key, map-side combine intact — "
        "vs the naive first/last-over-window form that exchanges and "
        "sorts every event under a per-day window)."
    ),
    "rolling_zscore": (
        "aggregate-then-window: the event log collapses to |days| rows "
        "FIRST, then the trailing 14-row frame (current day excluded) "
        "runs on that tiny series — the single-partition window sort is "
        "|days| wide, never events-wide; at 100 TB the only O(events) "
        "work is the day-key partial aggregate."
    ),
    "survival_km": (
        "Kaplan–Meier as three collapses: events → |users| last-seen "
        "rows (one key exchange), → |days| death counts, then the "
        "at-risk countdown and the EXP(SUM(LN)) cumulative product are "
        "windows over the |days| curve. Horizon AND cohort size come "
        "from ONE 1-row broadcast aggregate (round 7: two separate aggs "
        "each re-derived the user-key collapse — a third events pass; n "
        "now rides through the deaths aggregate as a constant), and the "
        "surviving pair of last-seen derivations shares its exchange at "
        "runtime (executed plan: 1 events scan, 1 ReusedExchange). "
        "Nothing wider than |users| ever shuffles."
    ),
    "auc_roc": (
        "exact Mann–Whitney AUC with the collapse-first discipline "
        "(ks_statistic's): the O(events) work is ONE combine-enabled "
        "partial+final aggregate to distinct scores; the unavoidable "
        "global-order window (cumulative counts → midranks) then runs "
        "over rows bounded by the SCORE DOMAIN, not the corpus — the "
        "pre-round-7 form ranked raw rows, i.e. |events| through a "
        "single-partition window sort. Midrank math from (cnt, pos) "
        "group moments is float-exact vs the per-row form (multiples "
        "of 0.5 below 2^53); per-partition U-statistic merge is the "
        "documented fallback for truly continuous unquantized scores."
    ),
    "join_asof_nearest": (
        "both as-of directions in ONE user-key exchange: purchases and "
        "clicks union into a single sorted stream; the backward pass "
        "orders (ts, right-first) and the forward pass (ts, right-last) "
        "— two local sorts on the same partitioning, per-partition state "
        "one row per direction, never a range-join explosion."
    ),
    "bitemporal_asof": (
        "valid-time intervals close via one lead() per user, then the "
        "two-axis lookup is a user-key EQUI-join with residual interval "
        "+ knowledge predicates and a row_number pick of the most "
        "recently learned state — both sides co-partition on user_id, "
        "one exchange each; the non-equi axes stay residual conditions, "
        "never the join key, so no BNLJ/cartesian appears."
    ),
    "window_range_frame": (
        "time-based RANGE frame (trailing 1 h by epoch seconds) — the "
        "sliding aggregate rows-frames cannot express on irregular "
        "event times; one user-key exchange + per-partition sort, frame "
        "bounds evaluated on the order value so peers enter together."
    ),
    "tpch_q9": (
        "the LIKE filter prunes part BEFORE it reaches the fact join and "
        "the profit expression computes pre-shuffle, so only (nation, "
        "year, amount) crosses the aggregate exchange; dims broadcast, "
        "lineitem never re-sorts."
    ),
    "tpch_q18": (
        "Catalyst rewrites the HAVING IN-subquery to a left-semi join "
        "against the filtered aggregate; lineitem is scanned twice but "
        "shuffles on l_orderkey both times, so AQE's runtime "
        "ReusedExchange serves the second consumer from the first "
        "shuffle's files."
    ),
}


def measure(spark, name: str, sf_dir: str) -> dict[str, int]:
    """One noop-sink run of ``name`` through ``run_query``: the stages its
    build created before the sink was called, and the totals over every
    stage the run created."""
    sc = spark.sparkContext
    first, built = next_stage_id(sc), []

    def sink(df) -> None:
        built.append(next_stage_id(sc))
        df.write.mode("overwrite").format("noop").save()

    registry.run_query(spark, name, sf_dir, sink)
    total = stage_totals(sc, range(first, next_stage_id(sc)))
    return {
        "build_stages": int(stage_totals(sc, range(first, built[0]))["stages"]),
        "stages": int(total["stages"]),
        "tasks": int(total["tasks"]),
        "shuffle_write_bytes": int(total["shuffle_write_bytes"]),
        "spill_bytes": int(total["spill_bytes"]),
    }


# Counts the ledger keeps as a [min, max] range and checks for a rise.
RANGED = ("tasks", "shuffle_write_bytes")


def ledger_row(runs: list[dict[str, int]]) -> dict:
    """The range of each ``RANGED`` count over ``runs``, the most of the rest."""
    return {
        k: [min(r[k] for r in runs), max(r[k] for r in runs)] if k in RANGED
        else max(r[k] for r in runs)
        for k in runs[0]
    }


def rises(committed: dict, measured: dict) -> tuple[list[str], list[str], list[str]]:
    """(rose, added, removed) query names of ``measured`` against
    ``committed`` ledger rows: a query rose when the minimum of its tasks or
    of its shuffle bytes exceeds the recorded maximum."""
    rose = [
        name
        for name in sorted(committed.keys() & measured.keys())
        if any(measured[name][k][0] > committed[name][k][1] for k in RANGED)
    ]
    added = sorted(measured.keys() - committed.keys())
    return rose, added, sorted(committed.keys() - measured.keys())


def merged(committed: dict, measured: dict) -> dict:
    """The rows to record: each ``RANGED`` count keeps the union of its
    committed and measured ranges when they overlap, else (a rise or a
    fall) the measured range."""
    rows = {name: dict(row) for name, row in measured.items()}
    for name in committed.keys() & measured.keys():
        for k in RANGED:
            (old_lo, old_hi), (lo, hi) = committed[name][k], measured[name][k]
            if lo <= old_hi and hi >= old_lo:
                rows[name][k] = [min(old_lo, lo), max(old_hi, hi)]
    return rows


def _dump(ledger: dict) -> str:
    """JSON with one line per query, so a rise is one line of ``git diff``."""
    sections = (
        f" {json.dumps(key)}: {{\n"
        + ",\n".join(f"  {json.dumps(n)}: {json.dumps(row)}" for n, row in rows.items())
        + "\n }"
        for key, rows in ledger.items()
    )
    return "{\n" + ",\n".join(sections) + "\n}\n"


def write_ledger(spark) -> int:
    """Measure, compare with the committed ledger, write it; 1 if any rose."""
    committed = {}
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            committed = json.load(fh)["sf0.01"]
    rows = {name: ledger_row([measure(spark, name, SF) for _ in range(2)])
            for name in registry.query_names()}
    rose, added, removed = rises(committed, rows)
    for name in rose:
        old, new = committed[name], rows[name]
        print(f"ROSE {name}: " + ", ".join(f"{k} {old[k]} -> {new[k]}" for k in RANGED))
    print(f"added: {', '.join(added) or '-'}\nremoved: {', '.join(removed) or '-'}")
    headline = {}
    for name in HEADLINE:
        large = measure(spark, name, SF_LARGE)
        low, high = rows[name]["shuffle_write_bytes"][0], large["shuffle_write_bytes"]
        headline[name] = {
            "sf0.1": large,
            "byte_exponent": round(math.log10(high / low), 2) if low and high else None,
        }
    rows = merged(committed, rows)
    with open(LEDGER, "w") as fh:
        fh.write(_dump({"sf0.01": rows, "headline": headline}))
    return 1 if rose else 0


def main() -> int:
    registry.load_all()
    # Python workers import the package by name: point them at this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    spark = get_spark()
    status = write_ledger(spark)
    jvm = spark._jvm
    out = [
        f"# PLANS — annotated executed plans (generated at sf0.01, local[{DEFAULT_CPUS}])",
        "",
        "Regenerate: `python tools/gen_plans.py`. Each plan is printed after the",
        "query ran: AQE's final plan, then the initial plan it replaced. The final",
        "plans' structural signatures (exchanges, joins, scans, Python nodes) are in",
        "`plans/signatures.json`, and `tests/test_plan_signatures.py` fails when one",
        "changes; `tests/test_plans.py` asserts the load-bearing shapes (pushdown,",
        "broadcast, partial agg, WindowGroupLimit, AQE re-plan).",
        "",
    ]
    plans_md = os.path.join(REPO, "PLANS.md")
    with open(plans_md) as fh:
        head, *chunks = re.split(r"(?m)^## ", fh.read())
    # A committed section is kept only under the same header, which names
    # the core count it was generated at.
    kept = {
        chunk.split("\n", 1)[0]: "## " + chunk.rstrip("\n") + "\n"
        for chunk in chunks
        if head == "\n".join(out) + "\n"
    }
    with open(SIGNATURES) as fh:
        committed = json.load(fh)
    signatures = {}
    for name, note in NOTES.items():
        start = f"## {name}\n\n{note}\n\n```\n"
        section = kept.get(name, "")

        def sink(df) -> str:
            signatures[name] = signature(df)
            if committed.get(name) == signatures[name] and section.startswith(start):
                return section
            plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            return f"{start}{plan.strip()}\n```\n"

        out.append(registry.run_query(spark, name, SF, sink))
    with open(plans_md, "w") as fh:
        fh.write("\n".join(out))
    with open(SIGNATURES, "w") as fh:
        json.dump(signatures, fh, indent=1)
        fh.write("\n")
    return status


if __name__ == "__main__":
    sys.exit(main())
