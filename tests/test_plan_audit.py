"""The plan audit: no registered query's executed plan holds a communication
or memory anti-pattern of the replication-rate cost model unless ``ALLOW``
argues its bound, and every ``ALLOW`` entry still matches a finding, so the
list cannot drift. The finding classes:

- ``CartesianProduct``: nothing in this engine should plan one.
- ``BroadcastNestedLoopJoin <type>`` for an outer, semi or anti type: it
  broadcasts a relation, so its bound is argued per query. Cross and Inner
  are the bounded crossJoin pattern (1-row or tiny aggregate broadcasts).
- ``BatchEvalPython``: row-at-a-time Python; the Arrow surfaces are the
  sanctioned Python path.
- ``text-exchange``: the raw documents ``text``, or an identity alias or
  cast of it, crossing a shuffle (DEPLOYMENT.md §3's content rule).
- ``objagg:<fn>``: a growth-class aggregate buffer, which holds its whole
  group and cannot spill.
- ``scan-mult:<table>``: a table scanned ``SCAN_MULT_BAR`` times or more
  in a plan with no reused exchange, so duplicate subtrees re-execute.

Each query runs at sf0.001 through ``registry.run_query``, and its
findings come from one walk of its executed plan (plans/signature.py).
"""

from __future__ import annotations

from functools import partial, reduce

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans import registry
from pythonmapreduce_spark.plans.signature import (
    executed_nodes,
    growth_aggregates,
    node_counts,
    raw_text_crossings,
    signature,
    table_scans,
)

registry.load_all()

# query -> {finding: reason}; the single record of why each exception is
# bounded. An entry that no longer matches a finding fails the audit.
ALLOW: dict[str, dict[str, str]] = {
    "pipeline_train_prep": {
        "scan-mult:documents": (
            "three DISJOINT pruned projections since the round-11 split: "
            "the bench-snippet slice (doc_id%7, 60-char prefix only), the "
            "window-explode side (doc_id + text, len>=60 pushed), and the "
            "metadata side (doc_id, lang, sha2) — re-scanning beats "
            "checkpointing corpus TEXT, and the split is what removed the "
            "64-char digest from every exploded window row (measured "
            "1.64 -> 0.98 s at sf0.1); same different-pruned-slices "
            "adjudication as resample_interpolate"
        ),
    },
    "dedup_near_incremental": {
        "scan-mult:documents": (
            "4 scans are two complementary %3 snapshot slices for the band "
            "candidates plus the same two slices for verify tokens (each "
            "slice-pruned since round 6) — ≈2 corpus equivalents, inherent "
            "to cross-snapshot semantics; in production history's band "
            "table is a persisted index and only the new batch scans"
        ),
    },
    "dedup_near_incremental_recall": {
        "scan-mult:documents": (
            "recall contract bounded to doc_id <= 300; every scan reads "
            "<=300 rows behind a pushed range filter"
        ),
    },
    "knn_classify": {
        "scan-mult:embeddings": (
            "two passes are knn_cosine's contract (bounded query collect + "
            "one corpus scan); the label joins re-read vec_id/label with "
            "the embedding IS NOT NULL contract filter — all pruned, none "
            "corpus-squared"
        ),
    },
    "ann_pq_rerank_recall": {
        "scan-mult:embeddings": (
            "a recall contract runs the exact baseline AND the PQ path side "
            "by side by definition; each pass is the certified shape of its "
            "underlying query (bounded collects, no corpus shuffle)"
        ),
    },
    "profile_columns": {
        "scan-mult:lineitem": (
            "one wide stats pass + one SINGLE-COLUMN pruned scan per "
            "profiled column (9 scans, disjoint column bytes ≈ one "
            "full-table read): each distinct count reads only its own "
            "column's parquet chunks and exchanges |distinct(col)| native "
            "values — the alternatives are the 8× Expand multi-distinct "
            "(measured 18 s, corpus sort) or the stack() vertical explode "
            "(8n stringified rows through one aggregate, measured 1.4-2× "
            "slower); same per-column-narrow-scan design as "
            "constraint_check below"
        ),
    },
    "constraint_check": {
        "scan-mult:orders": (
            "a multi-constraint audit is one single-column footer-pruned "
            "scan per constraint (8 scans, ~6 distinct one-column schemas); "
            "combining them via Expand would trade scan count for Expand "
            "row multiplication, profile_columns' documented cost"
        ),
        "scan-mult:lineitem": (
            "same per-constraint narrow-scan design: 3 lineitem scans are "
            "the referential key pass plus two filter-pushed single-column "
            "domain checks — each reads one column and its pushed predicate "
            "can skip row groups, which one merged 2-column unfiltered pass "
            "cannot"
        ),
    },
    "tpch_q21": {
        "scan-mult:lineitem": (
            "the canonical l1/EXISTS-l2/NOT-EXISTS-l3 triple self-join — "
            "the benchmark exists to exercise the optimizer on this "
            "declarative form; every engine (and the DuckDB oracle) reads "
            "lineitem three times, each slice filter- and column-pruned"
        ),
    },
    "resample_interpolate": {
        "scan-mult:events": (
            "three DIFFERENT pruned column slices (bounds, anchor values, "
            "densified grid base); merging them into one scan would read "
            "the union of columns for every consumer and defeat pruning "
            "(round-7 window adjudication)"
        ),
    },
    "bitemporal_asof": {
        "scan-mult:events": (
            "same different-pruned-slices adjudication as "
            "resample_interpolate: the two temporal axes and the probe "
            "side each read distinct column sets behind pushed filters"
        ),
    },
    "dedup_near_recall": {
        "scan-mult:documents": (
            "recall contract bounded to doc_id <= 300 with the range "
            "filter PUSHED on every scan — each pass reads <=300 rows; "
            "same bound as dedup_near_incremental_recall"
        ),
    },
    "ann_pq_rerank": {
        "scan-mult:embeddings": (
            "re-ranking runs the PQ candidate pass and the exact-distance "
            "pass side by side by definition; each pass is the certified "
            "shape of its underlying query (bounded collects, corpus "
            "never shuffles)"
        ),
    },
    "ann_pq_recall": {
        "scan-mult:embeddings": (
            "a recall contract runs the exact baseline AND the PQ path "
            "side by side by definition (same argument as "
            "ann_pq_rerank_recall)"
        ),
    },
    # ---- growth-class ObjectHashAggregate bounds (round-7 check) ----
    # Every surviving collect/percentile buffer argues its PER-GROUP
    # bound; the unbounded cases (percentile_agg, winsorize,
    # robust_scale, histogram_equidepth, conversion_latency) were
    # collapsed through operators/quantiles.py instead.
    "inverted_index": {
        "objagg:collect_set": (
            "the posting list IS the query's output contract (reference "
            "byte-parity with mapreduce_inverted.py, which emits full "
            "per-token doc lists); the production search tier bounds "
            "postings with the df∈[2,100] prune (search.py)"
        ),
    },
    "inverted_index_text": {
        "objagg:collect_set": "same output contract as inverted_index",
    },
    "inverted_index_positional": {
        "objagg:collect_list": (
            "positions collect per (term, doc) — bounded by one "
            "document's length, never corpus-sized"
        ),
    },
    "feature_hashing": {
        "objagg:collect_list": (
            "per-doc list over the 32 fixed hash buckets — hard bound 32 "
            "elements per group"
        ),
    },
    "remove_dup_spans": {
        "objagg:collect_list": (
            "per-doc token list for span rewriting — bounded by one "
            "document's length (the rewrite needs the doc's own tokens "
            "in order)"
        ),
    },
    "anomaly_mad": {
        "objagg:percentile": (
            "median/MAD over the ALREADY-COLLAPSED |days|-row daily "
            "series — group size bounded by the calendar horizon"
        ),
    },
    "interarrival_stats": {
        "objagg:percentile": (
            "per-USER gap percentiles — group size is one user's event "
            "count (hot users are a skew concern, not a memory wall); "
            "global variants must collapse via operators/quantiles.py"
        ),
    },
    "agg_collect": {
        "objagg:collect_list": (
            "intentional coverage query for the collect operators — the "
            "per-group array IS the declared output"
        ),
    },
    "agg_stringagg": {
        "objagg:collect_list": (
            "listagg semantics: the concatenated per-group string is the "
            "output contract; group width is the output row width"
        ),
    },
    "approx_quantile": {
        "objagg:percentile": (
            "the exact percentile here is the CALIBRATION BOUND the "
            "sketch contract asserts against — the query exists to hold "
            "the sketch to the exact answer at test scale; production "
            "runs the sketch alone"
        ),
    },
    "udf_group_arrow": {
        "text-exchange": (
            "applyInPandas/applyInArrow must co-locate each group's rows "
            "on one task — shipping the group's content IS the operator; "
            "coverage query for the grouped-Arrow surface"
        ),
    },
}

# The banded-LSH bucket membership lists (MinHash and SimHash paths):
# the buffer holds (doc_id[, signature]) per bucket MEMBER — linear in
# members, id-width rows, never document content — and a bucket is a
# band-hash collision class, i.e. near-duplicates of one document, so
# the largest buffer scales with the corpus's largest duplicate cluster
# (the thing this pipeline removes). The QUADRATIC danger (pair
# explosion) is what _BUCKET_CAP's star degradation caps; the membership
# collect itself is the documented one-shuffle in-bucket pair design
# (pipeline/dedup.py:_pairs_in_buckets).
for _q in (
    "dedup_near",
    "dedup_near_recall",
    "dedup_simhash",
    "dedup_simhash_verify",
    "dedup_near_incremental",
    "dedup_near_incremental_recall",
):
    ALLOW.setdefault(_q, {})["objagg:collect_list"] = (
        "LSH bucket membership list: id-width rows linear in bucket "
        "members (≈ one duplicate cluster); pair explosion capped by "
        "_BUCKET_CAP star degradation"
    )

# The adjacency base (graphs._sym_adjacency, basket_adjacency_rows) is
# one collect_set row per vertex, which the lazy graph bases put into
# each of these final plans.
for _q in (
    "triangle_count",
    "graph_common_neighbors",
    "pagerank_iter",
    "bfs_distances",
    "graph_clustering_coef",
    "hits_hub_authority",
    "label_propagation_communities",
):
    ALLOW.setdefault(_q, {})["objagg:collect_set"] = (
        "adjacency set per vertex — bounded by max degree, which the "
        "co-occurrence construction bounds by order size (the same "
        "bound the wedge join's Σdeg² argument rests on); ROADMAP item 4 "
        "chunks the row at a fixed width"
    )

# The edge-row queries carry only graphs._baskets' per-order part set.
for _q in ("graph_degree", "graph_cc_rounds"):
    ALLOW.setdefault(_q, {})["objagg:collect_set"] = (
        "part set per order — bounded by order size (~4 items in TPC-H, "
        "similarly small in real carts)"
    )

# IVF's "collect" is the K centroids into ONE broadcastable row — bound
# is K, corpus-size-independent.
for _q in ("ann_ivf", "ann_ivf_recall"):
    ALLOW.setdefault(_q, {})["objagg:collect_list"] = (
        "collects the K centroid vectors into one broadcast row — bound "
        "is K (fixture 8/deployment ~sqrt(n) lists), never corpus rows"
    )
# Lowered 4 -> 3 late round 7 after the honest final-plan-only counter
# landed: at bar 4 the 3-scan chi2_independence / retention_cohorts /
# resample_ffill / dedup_intradoc_spans / boilerplate_detect shapes all
# slipped through and each turned out to be a real duplicated subtree.
SCAN_MULT_BAR = 3


def findings(nodes: list) -> set[str]:
    """The audit's findings in one executed plan's nodes (module notes)."""
    sig = node_counts(nodes)
    found = {f"objagg:{fn}" for fn in growth_aggregates(nodes)}
    found |= {
        key.removeprefix("join ")
        for key in sig
        if key.startswith("join BroadcastNestedLoopJoin ")
        and not key.endswith((" Cross", " Inner"))
    }
    if "CartesianProduct" in sig:
        found.add("CartesianProduct")
    if "python BatchEvalPython" in sig:
        found.add("BatchEvalPython")
    if raw_text_crossings(nodes):
        found.add("text-exchange")
    if "ReusedExchange" not in sig:
        found |= {
            f"scan-mult:{table}"
            for table, n in table_scans(sig).items()
            if n >= SCAN_MULT_BAR
        }
    return found


def unexplained(name: str, found: set[str]) -> list[str]:
    """Findings of query ``name`` without an exemption, and its exemptions
    that match no finding."""
    allowed = ALLOW.get(name, {})
    return [f"{name}: {f} has no exemption" for f in sorted(found - allowed.keys())] + [
        f"{name}: stale exemption {f}" for f in sorted(allowed.keys() - found)
    ]


@pytest.mark.parametrize("name", registry.query_names())
def test_plan_audit(spark, sf_smoke, name: str) -> None:
    found = registry.run_query(spark, name, sf_smoke, lambda df: findings(executed_nodes(df)))
    assert not unexplained(name, found)


def test_stale_exemption_is_a_problem() -> None:
    assert unexplained("tpch_q21", set()) == ["tpch_q21: stale exemption scan-mult:lineitem"]
    assert unexplained("agg_basic", {"CartesianProduct"}) == [
        "agg_basic: CartesianProduct has no exemption"
    ]


def test_scan_counter_matches_catalog_tables(spark, sf_smoke) -> None:
    # A catalog scan the counter no longer recognised would leave the
    # scan-multiplicity class dead.
    assert table_scans(signature(load(spark, sf_smoke, "orders"))) == {"orders": 1}


# One hand-built plan per finding class.
_CAUGHT = {
    "CartesianProduct": lambda t: t("nation").hint("shuffle_replicate_nl").crossJoin(t("region")),
    "BroadcastNestedLoopJoin LeftAnti": lambda t: t("orders").join(
        t("customer"), F.col("o_custkey") < F.col("c_custkey"), "left_anti"
    ),
    "BatchEvalPython": lambda t: t("documents").select(
        F.udf(lambda s: len(s or ""), "int")("text")
    ),
    "text-exchange": lambda t: t("documents").select(F.col("text").alias("body")).repartition(3),
    "objagg:collect_list": lambda t: (
        t("orders").groupBy("o_custkey").agg(F.collect_list("o_orderkey"))
    ),
    "scan-mult:orders": lambda t: reduce(
        DataFrame.union,
        (t("orders").where(F.col("o_orderkey") % 3 == r).select("o_orderkey") for r in range(3)),
    ),
}


@pytest.mark.parametrize("finding", list(_CAUGHT))
def test_finding_class_is_caught(spark, sf_smoke, finding: str) -> None:
    df = _CAUGHT[finding](partial(load, spark, sf_smoke))
    assert finding in findings(executed_nodes(df))


def _crossings(df: DataFrame) -> set[str]:
    return raw_text_crossings(executed_nodes(df.repartition(2)))


def test_text_tracer_follows_identity_aliases(spark, sf_smoke) -> None:
    # An alias of the text, and an alias of that alias behind a shuffle,
    # are traced; a digest or a substring of it is new content.
    body = load(spark, sf_smoke, "documents").select(F.col("text").alias("body"))
    df = body.repartition(2).select(
        F.col("body").alias("c"),
        F.xxhash64("body").alias("d"),
        F.substring("body", 1, 10).alias("snip"),
    )
    assert _crossings(df) == {"body", "c"}


def test_text_tracer_is_id_keyed_not_name_keyed(spark, sf_smoke) -> None:
    # A digest named `text` crosses a shuffle and is aliased after it: the
    # query stage that outputs it is not a leaf of the plan, so neither
    # is taken for the text.
    digest = load(spark, sf_smoke, "documents").select(F.xxhash64("text").alias("text"))
    df = digest.repartition(2, "text").select(F.col("text").alias("d"))
    assert _crossings(df) == set()


def test_text_tracer_follows_identity_casts(spark, sf_smoke) -> None:
    # A cast to binary and back to string keeps the bytes; a cast of a
    # function of the text does not.
    docs = load(spark, sf_smoke, "documents")
    df = docs.select(
        F.col("text").cast("binary").alias("raw"),
        F.length("text").cast("string").alias("len_s"),
    )
    df = df.repartition(2).select("raw", "len_s", F.col("raw").cast("string").alias("c"))
    assert _crossings(df) == {"raw", "c"}


def test_growth_aggregates_see_sortaggregate_not_sketches(spark, sf_smoke) -> None:
    # The same whole-group buffer runs under SortAggregate when the object
    # hash aggregate is off; approx_percentile's fixed-size sketch is fine.
    orders = load(spark, sf_smoke, "orders").groupBy("o_custkey")
    spark.conf.set("spark.sql.execution.useObjectHashAggregateExec", "false")
    try:
        nodes = executed_nodes(orders.agg(F.percentile("o_totalprice", 0.5)))
    finally:
        spark.conf.unset("spark.sql.execution.useObjectHashAggregateExec")
    assert "SortAggregate" in {n.nodeName() for n in nodes}
    assert growth_aggregates(nodes) == {"percentile"}
    sketch = orders.agg(F.percentile_approx("o_totalprice", 0.5))
    assert growth_aggregates(executed_nodes(sketch)) == set()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.sampled_from(["alias", "cast", "wrap", "wrap_as_text"]), max_size=8),
    st.randoms(use_true_random=False),
)
def test_text_tracer_follows_random_chains(spark, sf_smoke, steps: list[str], rng) -> None:
    # Each step adds a column computed from any earlier one, in its own
    # projection (the nondeterministic filter keeps the optimizer from
    # merging them). An alias or a cast carries its source's text; a
    # function of it carries none, also when it replaces `text` itself.
    df = load(spark, sf_smoke, "documents").select("text")
    raw = {"text": True}
    for k, step in enumerate(steps):
        src = rng.choice(sorted(raw))
        new = "text" if step == "wrap_as_text" else f"c{k}"
        if step == "alias":
            col = F.col(src)
        elif step == "cast":
            col = F.col(src).cast("binary" if dict(df.dtypes)[src] == "string" else "string")
        else:
            col = F.xxhash64(src)
        raw[new] = raw[src] and step in ("alias", "cast")
        df = df.withColumn(new, col).where(F.rand(k) >= 0)
    assert _crossings(df) == {name for name, is_raw in raw.items() if is_raw}
