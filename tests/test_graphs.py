"""Graph-tier contracts beyond the DuckDB oracle diff: an independent
second algorithm for triangles, PageRank mass conservation, and plan-shape
gates (no cartesian products in the wedge join)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pythonmapreduce_spark.operators.graphs import (
    _SENTINEL,
    _edges,
    _pagerank_ranks,
    _sym_adjacency,
    basket_adjacency_rows,
    basket_pair_rows,
)
from pythonmapreduce_spark.plans import registry

registry.load_all()


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_triangle_count_matches_adjacency_intersection(spark, sf_smoke) -> None:
    """Cross-check the wedge-join count with the edge-iterator formula:
    Σ_{(u,v)∈E} |N(u) ∩ N(v)| = 3·triangles — a fully independent
    second algorithm (adjacency-set intersection vs wedge join)."""
    e = _edges(spark, sf_smoke)
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    adj = sym.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    common = (
        e.join(adj.withColumnsRenamed({"src": "u", "nbrs": "nu"}), F.col("src") == F.col("u"))
        .join(adj.withColumnsRenamed({"src": "v", "nbrs": "nv"}), F.col("dst") == F.col("v"))
        .select(F.size(F.array_intersect("nu", "nv")).alias("c"))
        .agg(F.sum("c").alias("total"))
        .collect()[0]["total"]
    )
    wedge = registry.QUERIES["triangle_count"](spark, sf_smoke).collect()[0][
        "n_triangles"
    ]
    assert common == 3 * wedge
    assert wedge > 0  # the graph is non-degenerate at every test SF


def test_basket_pair_rows_unbounded_basket(spark) -> None:
    """Skew fixture (round 12): one 10⁴-item basket must stream through
    the two-level pair explode — k(k-1)/2 ≈ 5·10⁷ pair ROWS, never a
    single row holding k² structs (the round-11 flatten(transform(...))
    form built exactly that and had no spill path). Also pins pair
    semantics on a small basket: count, p1 < p2, and the exact pair set.
    """
    hot = spark.range(1).select(
        F.expr("sequence(0L, 9999L)").alias("parts")
    )
    k = 10_000
    n = basket_pair_rows(hot, "p1", "p2").count()
    assert n == k * (k - 1) // 2

    small = spark.createDataFrame(
        [([1, 3, 7],), ([5],), ([],)], "parts array<long>"
    )
    got = sorted(
        (r.p1, r.p2) for r in basket_pair_rows(small, "p1", "p2").collect()
    )
    assert got == [(1, 3), (1, 7), (3, 7)]


def test_basket_adjacency_rows_hand_built_baskets(spark) -> None:
    """The loop base's neighbor sets on hand-built baskets: a part alone
    in its basket (5) gets no row, an empty basket adds nothing, and the
    3–7 pair that co-occurs in two baskets yields ONE neighbor each way —
    no duplicates, no self-loops."""
    baskets = spark.createDataFrame(
        [([1, 3, 7],), ([5],), ([],), ([3, 7, 9],)], "parts array<long>"
    )
    got = {
        r.vtx: sorted(r.nbrs) for r in basket_adjacency_rows(baskets).collect()
    }
    assert got == {1: [3, 7], 3: [1, 7, 9], 7: [1, 3, 9], 9: [3, 7]}


def test_sym_adjacency_is_symmetric_closure_of_edges(spark, sf_smoke) -> None:
    """On the live graph the basket-built adjacency equals the symmetric
    closure of ``_edges``: same vertex set, and each vertex's sorted
    neighbor list is exactly its edge endpoints in both directions."""
    e = _edges(spark, sf_smoke)
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    want = {
        r.src: sorted(r.nbrs)
        for r in sym.groupBy("src").agg(F.collect_list("dst").alias("nbrs")).collect()
    }
    got = {r.vtx: sorted(r.nbrs) for r in _sym_adjacency(spark, sf_smoke).collect()}
    assert want  # the graph is non-degenerate at the smoke SF
    assert got == want


def test_pagerank_mass_conserved(spark, sf_smoke) -> None:
    """Uniform teleport + symmetric (dangling-free) graph ⇒ the full rank
    vector sums to exactly 1 after every synchronous iteration."""
    ranks = _pagerank_ranks(spark, sf_smoke)
    total = ranks.agg(F.sum("pr").alias("s")).collect()[0]["s"]
    assert abs(total - 1.0) < 1e-9
    low = ranks.agg(F.min("pr").alias("m")).collect()[0]["m"]
    assert low > 0


def test_pagerank_ranks_never_emit_the_sentinel(spark, sf_smoke) -> None:
    """Round 1's |V| sentinel row stops at round 2's adjacency join: the
    rank vector holds exactly the graph's vertices."""
    ranks = _pagerank_ranks(spark, sf_smoke)
    nodes = {r.src for r in ranks.select("src").collect()}
    assert _SENTINEL not in nodes
    assert nodes == {r.vtx for r in _sym_adjacency(spark, sf_smoke).select("vtx").collect()}


def test_graph_plans_have_no_cartesian(spark, sf_smoke) -> None:
    for name in ("triangle_count", "pagerank_iter", "graph_degree"):
        plan = _plan(registry.QUERIES[name](spark, sf_smoke))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bm25_scores_in_scan_stage(spark, sf_smoke) -> None:
    """bm25_rank scores each document in its scan row: the corpus
    statistics come from the materializing pass's observed metrics, so
    the plan has no exchange and no join, nothing explodes, the documents
    are read from the materialized base (no parquet rescan), and the
    ranking is TakeOrderedAndProject. Building it runs exactly one job,
    the materialization that also yields the statistics."""
    sc = spark.sparkContext
    group = "bm25_build"
    sc.setJobGroup(group, "bm25_rank build")
    try:
        df = registry.QUERIES["bm25_rank"](spark, sf_smoke)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = _plan(df)
    # a shuffle exchange would print a "(N) Exchange" details header
    assert not re.findall(r"^\(\d+\) Exchange$", plan, re.M), plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" not in plan
    assert "Scan parquet" not in plan
    assert "TakeOrderedAndProject" in plan


def test_superstep0_specializations_match_general_round(spark, sf_smoke) -> None:
    """The round-1 specializations in LPA / CC / pagerank / HITS / k-core
    fold the deterministic uniform init into one expression. Their
    soundness rests on the neighbor sets being duplicate-free (``_edges``
    ends in distinct() under src < dst); this test re-runs round 1 in the
    GENERAL form the oracle unrolls and asserts equality on the live
    graph, so a future edge derivation that drops the distinct (or an
    asymmetric variant that makes both directions collide) fails here,
    not in the driver diff.

    Only graph_cc_rounds runs on this edge-row sym, so its fold is checked
    in that form; LPA, HITS and k-core fold over the basket-built
    ``_sym_adjacency`` row (array_min(nbrs), size(nbrs)) and are checked
    in the form the code runs.
    """
    from pyspark.sql import Window

    e = _edges(spark, sf_smoke)
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # the by-construction claim itself
    assert sym.count() == sym.distinct().count()

    labels0 = sym.select(F.col("src").alias("vid")).distinct().withColumn(
        "lbl", F.col("vid")
    )

    # Round-1 votes carry one distinct label per neighbor, so every
    # (src, lbl) vote count is exactly 1 — the fact the min() rewrite uses.
    dup_votes = (
        sym.join(labels0.withColumnRenamed("vid", "dst2"), F.col("dst") == F.col("dst2"))
        .groupBy("src", "lbl")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
    )
    assert dup_votes.count() == 0

    # LPA round 1, general: vote count + (cnt DESC, lbl ASC) top-1.
    w = Window.partitionBy("src").orderBy(F.col("cnt").desc(), F.col("lbl").asc())
    lpa_general = (
        sym.join(labels0.withColumnRenamed("vid", "dst2"), F.col("dst") == F.col("dst2"))
        .groupBy("src", "lbl")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("src").alias("vid"), "lbl")
    )
    adj = _sym_adjacency(spark, sf_smoke)
    lpa_special = adj.select(F.col("vtx").alias("vid"), F.array_min("nbrs").alias("lbl"))
    assert lpa_general.exceptAll(lpa_special).count() == 0
    assert lpa_special.exceptAll(lpa_general).count() == 0

    # CC round 1, general: neighbor-min left-joined onto own label.
    nbr_min = (
        sym.join(labels0.withColumnRenamed("vid", "dst2"), F.col("dst") == F.col("dst2"))
        .groupBy("src")
        .agg(F.min("lbl").alias("nbl"))
        .select(F.col("src").alias("vid"), "nbl")
    )
    cc_general = labels0.join(nbr_min, "vid", "left").select(
        "vid", F.least(F.col("lbl"), F.coalesce("nbl", F.col("lbl"))).alias("lbl")
    )
    cc_special = sym.groupBy("src").agg(F.min("dst").alias("nbl")).select(
        F.col("src").alias("vid"),
        F.least(F.col("src"), F.col("nbl")).alias("lbl"),
    )
    assert cc_general.exceptAll(cc_special).count() == 0
    assert cc_special.exceptAll(cc_general).count() == 0

    # PageRank iteration 1, general join form vs _pagerank_ranks' folded
    # form (0.15 + Σ 0.85/d) / |V|: float sums may reorder, so compare
    # per-vertex within 1e-12 — three orders tighter than the oracle's
    # round-6dp-of-×1000 compare.
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    base = sym.join(deg, "src")
    n = base.select("src").distinct().count()
    teleport = 0.15 / n
    ranks0 = base.select("src", "d").dropDuplicates(["src"]).select(
        "src", F.lit(1.0 / n).alias("pr")
    )
    pr_general = (
        base.join(ranks0, "src")
        .groupBy("dst")
        .agg((F.lit(teleport) + 0.85 * F.sum(F.col("pr") / F.col("d"))).alias("pr"))
    )
    pr_special = base.groupBy("dst").agg(
        ((F.lit(0.15) + F.sum(0.85 / F.col("d"))) / n).alias("pr")
    )
    drift = (
        pr_general.withColumnRenamed("pr", "pg")
        .join(pr_special, "dst")
        .select(F.max(F.abs(F.col("pg") - F.col("pr"))).alias("m"))
        .collect()[0]["m"]
    )
    assert drift is not None and drift < 1e-12
    assert pr_general.count() == pr_special.count() == n

    # HITS half-round 1, general join+sum over a0 ≡ 1.0 vs the degree as
    # a double: a sum of exact 1.0s is exact, so equality is exact.
    a0 = labels0.select("vid", F.lit(1.0).alias("a"))
    h_general = (
        sym.join(a0, sym.dst == a0.vid)
        .groupBy("src")
        .agg(F.sum("a").alias("h"))
    )
    h_special = adj.select(F.col("vtx").alias("src"), F.size("nbrs").cast("double").alias("h"))
    assert h_general.exceptAll(h_special).count() == 0
    assert h_special.exceptAll(h_general).count() == 0

    # k-core round 1: the two survivor semi-joins are identity filters
    # when every vertex is alive, so the bare degree count matches.
    alive0 = labels0.select("vid")
    deg_general = (
        sym.join(alive0.withColumnRenamed("vid", "sv"), F.col("src") == F.col("sv"), "left_semi")
        .join(alive0.withColumnRenamed("vid", "dv"), F.col("dst") == F.col("dv"), "left_semi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    deg_special = adj.select(F.col("vtx").alias("src"), F.size("nbrs").cast("long").alias("deg"))
    assert deg_general.exceptAll(deg_special).count() == 0
    assert deg_special.exceptAll(deg_general).count() == 0
