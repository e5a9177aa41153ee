"""Graph analytics over a relational co-occurrence graph.

Triangle counting and PageRank are THE canonical MapReduce-era graph
workloads (the reference's lineage — its wordcount/inverted-index jobs,
/root/reference/mapreduce_wc.py:3-11, are the text half of the same
classic suite), re-expressed as DataFrame plans.

Graph derivation: parts co-occurring in the same URGENT order form an
undirected edge. The bipartite projection is degree-bounded by order size
(TPC-H orders hold ~4 items, and real carts are similarly small), so the
per-order pair explosion is O(items²)-per-order with a small constant —
linear in lineitem overall, which is what survives 100 TB. The priority
filter prunes at the orders scan before anything joins.

Scale notes per operator:
- triangle_count and graph_clustering_coef enumerate wedges from the
  adjacency base: each vertex pairs its higher-id neighbours, so the
  u<v<w total order generates each triangle exactly once and wedge
  volume is Σ deg(v)²/2 over the oriented adjacency — the standard
  node-iterator bound. A wedge (v, w) closes when w is in v's neighbour
  array: one equi-join on the vertex key, no cartesian anywhere.
- Loop-base rule: the fixed-depth loops (pagerank_iter, bfs_distances,
  hits_hub_authority, label_propagation_communities, kcore_rounds)
  loop over the adjacency base (_sym_adjacency), hash-partitioned on
  vtx by its own groupBy, and all but kcore_rounds as ONE plan. Every
  join of O(V) loop state to it goes through _round_join, a
  shuffle-hash join that builds the adjacency: AQE keeps the join on
  the base's own exchange and runs no broadcast job, and per round
  only the state moves. The build side is one AQE-coalesced partition
  of the adjacency; a super-node row is ROADMAP item 4.
- A loop-wide scalar rides an exchange the loop already has: PageRank's
  |V| is the sum of a sentinel row that round 1 emits beside each
  vertex's contributions, and the subquery that reads it filters the
  round's aggregate output, so it reuses round 1's exchange. A NULL
  sentinel key or a filter on the key is pushed below the aggregate and
  costs the subquery its own exchange (see _pagerank_ranks).
- The one exception is graph_cc_rounds, which loops over the 2|E| edge
  rows and joins its O(V) labels to them unhinted (AQE broadcasts the
  labels under the broadcast threshold, which saves the edge shuffle):
  on the adjacency it wrote 134,584 → 153,014 B at sf0.01, because the
  base's collect_set exchange ships each edge in both directions
  (ROADMAP item 4).
- Only kcore_rounds (see there) and the star loops, whose rounds are
  driver-loop actions, checkpoint at build time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.registry import register
from pythonmapreduce_spark.plans.materialize import (
    iter_materialize,
    materialize_observed,
    observe_pass,
)

# Shared CTE prefix for the DuckDB oracles — identical edge derivation.
# AS MATERIALIZED throughout the graph oracles: DuckDB inlines a CTE
# once PER REFERENCE, so a chain of rounds where each level is read
# twice (sym -> m and sym -> e) re-computes the base 2^depth times —
# graph_cc_bigstar's 4-round oracle measured 21 s plain vs 0.05 s
# materialized at sf0.01, identical result. The hint is DuckDB-side
# only; Spark never parses oracle SQL.
_EDGES_CTE = """
    WITH urgent AS MATERIALIZED (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    items AS MATERIALIZED (
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN urgent u ON l.l_orderkey = u.o_orderkey
    ),
    edges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM items a
        JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
"""


def _sym_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric ADJACENCY LISTS: (vtx, nbrs) — one row per vertex,
    neighbors as an array. The base of every graph loop but
    graph_cc_rounds (see the module notes), the triangle pair and
    graph_common_neighbors.

    Built straight from the per-order baskets (basket_adjacency_rows), not
    from ``_edges``: the neighbor sets are the symmetric closure of the
    edge set by construction, so the loop base needs neither the edge
    ``distinct()`` shuffle nor a union with the mirrored edges (which put
    the whole basket subtree into the plan twice). The build is two
    exchanges: the basket groupBy on l_orderkey and the neighbor
    collect_set on vtx.

    Returned unmaterialized and hash-partitioned on ``vtx``: a round join
    reaches it through _round_join and stays on this exchange (see the
    module notes). A checkpointed base, as in kcore_rounds, re-enters as
    ``Scan ExistingRDD`` with UnknownPartitioning under AQE, so a round
    join shuffles the adjacency a second time.

    Why arrays instead of (src, dst) edge rows: a round join moves |V|
    rows carrying |E|+|V| longs instead of 2|E| rows × 16 bytes — about
    half the bytes and a V-sized join cardinality instead of 2E. The
    propagation itself becomes join-on-vertex → explode(nbrs), and
    per-vertex degree is size(nbrs) — free, no second aggregate.

    Degree-skew bound: one vertex's row is O(deg) and is built in ONE
    collect_set buffer, which has no spill path — the co-occurrence graph
    keeps degrees small, but a super-node would be a single large row.
    Chunking into bounded (vtx, chunk, nbrs) rows is ROADMAP item 4.
    Neighbor order within ``nbrs`` is unspecified; every consumer
    aggregates with order-independent (min/count) or rounding-absorbed
    (float-sum) semantics."""
    return basket_adjacency_rows(_baskets(spark, sf_dir))


def _round_join(adj: DataFrame, state: DataFrame, on) -> DataFrame:
    """Join O(V) loop state to the vtx-partitioned adjacency as a
    shuffle-hash join that builds the adjacency. Unhinted, AQE would
    broadcast the adjacency in an extra job; hinted, the join stays on
    the base's own exchange, and the state still streams in its own
    order, so the shuffle bytes do not change."""
    return adj.hint("shuffle_hash").join(state, on)


# PageRank's |V| row key: below every part key, so it never names a
# vertex, and not NULL (see _pagerank_ranks).
_SENTINEL = -1


def _pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full (node, pr) vector after 3 iterations; no rows on an empty
    graph. Factored out of the registered query so tests can assert
    global invariants (Σ pr = 1) the top-20 projection hides."""
    # Round 12: adjacency-array loop base (see _sym_adjacency) — the
    # out-degree is size(nbrs), so the old sym ⋈ deg contrib_base (2|E|
    # rows re-shuffled every round) collapses into the |V|-row base.
    adj = _sym_adjacency(spark, sf_dir).select(
        "vtx", "nbrs", F.size("nbrs").alias("d")
    )
    # Round 1 (superstep-0 constant folding): the uniform init makes every
    # rank 1/|V|, so a vertex's rank is (0.15 + m) / |V| with m the sum of
    # 0.85/d over its neighbors — no rank table to join. Each adjacency row
    # also emits one _SENTINEL row with t = -1; the rows are exactly the
    # vertices, so the sentinel's m is -|V|. |V| is a scalar subquery that
    # filters this aggregate's output, so it reads round 1's own dst
    # exchange as a ReusedExchange: no count job, no SinglePartition
    # exchange. Round 2's join to the adjacency drops the sentinel row.
    # Forms that lose the reuse or add bytes (pagerank_iter at sf0.01,
    # against 201,048 B / 8 tasks for this one):
    # - a NULL key: the round join's inferred isnotnull(src) is pushed
    #   below this aggregate, so the subquery needs an exchange of its
    #   own (9 tasks);
    # - a subquery filter on the key instead of on m: pushed below the
    #   aggregate the same way (9 tasks);
    # - array_append in place of concat: its result may hold NULLs, so
    #   isnotnull(dst) is kept below the aggregate (220,504 B, 9 tasks);
    # - t = 1/d (+213 B), or all three rounds unnormalized with one
    #   division at the end (+433 B): the value form moves the
    #   compressed bytes.
    raw = (
        adj.select(
            F.explode(F.concat("nbrs", F.array(F.lit(_SENTINEL)))).alias("dst"), "d"
        )
        .select(
            "dst",
            F.when(F.col("dst") == _SENTINEL, -1.0)
            .otherwise(0.85 / F.col("d"))
            .alias("t"),
        )
        .groupBy("dst")
        .agg(F.sum("t").alias("m"))
    )
    n_nodes = raw.where(F.col("m") < 0).select(-F.col("m")).scalar()
    teleport = F.lit(0.15) / n_nodes
    ranks = raw.select(
        F.col("dst").alias("src"), ((F.lit(0.15) + F.col("m")) / n_nodes).alias("pr")
    )
    for _ in range(2):
        ranks = (
            _round_join(adj, ranks, F.col("vtx") == F.col("src"))
            .select(
                F.explode("nbrs").alias("dst"),
                (F.col("pr") / F.col("d")).alias("t"),
            )
            .groupBy("dst")
            .agg((teleport + 0.85 * F.sum("t")).alias("pr"))
            .withColumnRenamed("dst", "src")
        )
    return ranks


def basket_pair_rows(baskets: DataFrame, c1: str, c2: str, *keep: str) -> DataFrame:
    """All ordered pairs (a < b) from each basket's sorted distinct
    ``parts`` array, one pair per output row with the ``keep`` columns —
    shared by the graph edge base, the triangle wedges and basket_rules.

    Round 12 shape: a TWO-LEVEL explode (posexplode each anchor, then
    explode the anchor's tail slice) instead of round 11's
    ``flatten(transform(...))`` single explode. The single-explode form
    materialized all k(k-1)/2 pair structs of a basket INSIDE ONE ROW
    before the Generate — fine at TPC-H's k≈4, but a skewed 100 TB
    basket key makes that one row O(k²) bytes with no spill path (a
    10⁶-item basket would be a single ~10 TB row). The two-level form
    keeps every row O(k): level 1 emits one (anchor, parts) row per
    item, level 2 slices the tail on the fly, and both Generates stream
    through the same whole-stage pipeline — the O(k²) pair volume still
    exists (it is the job's output), but only ever as ROWS, which
    shuffle and spill like any other rows. Same total work, no
    single-row blowup, no cap constant, no degrade branch, and still
    exactly one pass over the fact table. p1 < p2 by construction
    (sorted distinct array, tail slice strictly after the anchor)."""
    return baskets.select(
        *keep, "parts", F.posexplode("parts").alias("_i", c1)
    ).select(
        *keep,
        c1,
        F.explode(
            F.expr("slice(parts, _i + 2, size(parts) - _i - 1)")
        ).alias(c2),
    )


def basket_adjacency_rows(baskets: DataFrame) -> DataFrame:
    """Symmetric adjacency (vtx, nbrs) of the basket co-occurrence graph:
    each part of each basket is a vertex whose neighbors are the basket's
    other parts, merged across baskets.

    Every row stays O(k) — the same skew argument as basket_pair_rows:
    level 1 emits one (parts, vtx) row per item, level 2 explodes the
    basket minus that item. collect_set removes duplicate neighbors
    map-side (a pair co-occurring in many baskets counts once), and
    ``array_remove`` drops the vertex itself, so ``nbrs`` is exactly the
    symmetric closure of the ``_edges`` set: no duplicates, no
    self-loops. A part alone in its basket gets no row, as it has no
    edge."""
    return (
        baskets.select("parts", F.explode("parts").alias("vtx"))
        .select(
            "vtx",
            F.explode(F.array_remove("parts", F.col("vtx"))).alias("nbr"),
        )
        .groupBy("vtx")
        .agg(F.collect_set("nbr").alias("nbrs"))
    )


def _baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted distinct part arrays (l_orderkey, parts) of the
    URGENT orders — the input of both graph bases. ONE lineitem pass;
    collect_set dedups map-side and order size (~4) bounds the array."""
    urgent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    return (
        load(spark, sf_dir, "lineitem")
        .join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )


def _both_directions(e: DataFrame) -> DataFrame:
    """Each (src, dst) edge of ``e`` in both directions, from one read of
    ``e``: a union of the two directions re-reads e's distinct exchange
    and re-runs its final aggregate once per branch."""
    return e.select(
        F.inline(
            F.array(
                F.struct("src", "dst"),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        )
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge set (src < dst) of the part co-occurrence graph.

    Round 11 shape: pairs explode from each order's sorted distinct part
    array (_baskets) in-JVM — sorted arrays make src < dst by
    construction. The old form self-joined a distinct
    (l_orderkey, l_partkey) projection with itself, which the physical
    plan executed as TWO full lineitem scans + two distinct exchanges +
    a join-key shuffle; now the only exchanges are the groupBy(order)
    and the final edge distinct. Identical edge set (verified row-equal
    at sf0.1 and via every graph oracle). Round 12: the pair explode is
    the two-level skew-safe form — see basket_pair_rows."""
    return basket_pair_rows(_baskets(spark, sf_dir), "src", "dst").distinct()


@register(
    "graph_degree",
    oracle=_EDGES_CTE
    + """
    , deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT src AS node, dst FROM edges
            UNION ALL
            SELECT dst AS node, src FROM edges
        ) GROUP BY node
    )
    SELECT degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-occurrence graph.

    The first question asked of any production graph (skew detection:
    a power-law hub is what breaks the wedge join below). Explode each
    edge to its two endpoints, count per node, histogram the counts — two
    partial-agg exchanges, output is |distinct degrees| rows.
    """
    node = _edges(spark, sf_dir).select(F.explode(F.array("src", "dst")).alias("node"))
    deg = node.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "triangle_count",
    oracle=_EDGES_CTE
    + """
    SELECT COUNT(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count via the node-iterator wedge join.

    Wedges (u<v, u<w, v<w) explode from the lower endpoint's adjacency
    row, then close against v's neighbour array in one equi-join on the
    vertex key — each triangle counted exactly once because the vertex
    total order orients it uniquely. Wedge volume is the classic Σ deg²
    bound, kept small here by the order-size-bounded co-occurrence
    degree. One global count at the end (partial counts combine
    map-side).
    """
    return _triangles(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_triangles"))


def _triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every triangle once, as (u, v, w) with u < v < w: the pairs of
    u's higher neighbours (the two-level explode of basket_pair_rows, so
    a row stays O(deg)), kept when w is a neighbour of v. The join is
    unhinted: AQE sizes it at run time (at sf0.1 it broadcasts the
    wedges and the adjacency stays on its own exchange)."""
    adj = _sym_adjacency(spark, sf_dir)
    higher = adj.select(
        F.col("vtx").alias("u"),
        F.array_sort(F.filter("nbrs", lambda x: x > F.col("vtx"))).alias("parts"),
    )
    wedges = basket_pair_rows(higher, "v", "w", "u")
    return (
        adj.join(wedges, F.col("vtx") == F.col("v"))
        .where(F.array_contains("nbrs", F.col("w")))
        .select("u", "v", "w")
    )


@register(
    "pagerank_iter",
    oracle=_EDGES_CTE
    + """
    , sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM sym GROUP BY node),
    n AS (SELECT COUNT(*) AS c FROM deg),
    r0 AS (SELECT node, 1.0 / (SELECT c FROM n) AS pr FROM deg),
    r1 AS (
        SELECT s.dst AS node,
               0.15 / (SELECT c FROM n)
                   + 0.85 * SUM(r.pr / g.d) AS pr
        FROM sym s JOIN r0 r ON s.src = r.node JOIN deg g ON s.src = g.node
        GROUP BY s.dst
    ),
    r2 AS (
        SELECT s.dst AS node,
               0.15 / (SELECT c FROM n)
                   + 0.85 * SUM(r.pr / g.d) AS pr
        FROM sym s JOIN r1 r ON s.src = r.node JOIN deg g ON s.src = g.node
        GROUP BY s.dst
    ),
    r3 AS (
        SELECT s.dst AS node,
               0.15 / (SELECT c FROM n)
                   + 0.85 * SUM(r.pr / g.d) AS pr
        FROM sym s JOIN r2 r ON s.src = r.node JOIN deg g ON s.src = g.node
        GROUP BY s.dst
    )
    SELECT node, ROUND(pr * 1000, 6) + 0.0 AS pr_millis
    FROM r3
    ORDER BY ROUND(pr * 1000, 6) DESC, node
    LIMIT 20
    """,
)
def pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 synchronous iterations, damping 0.85, uniform init.

    Per iteration: ranks ⋈ edges on the source vertex, contributions
    pr/deg flow along out-edges, sum per destination, re-seed with the
    teleport term. The symmetric edge set guarantees no dangling mass
    (every node has out-degree ≥ 1). Ranks stay O(V); the adjacency base
    is shuffled once, on the vertex key its own groupBy produced, and
    every iteration's rank join reuses that exchange (see the module
    notes). Fixed iteration count keeps the computation a finite DAG,
    which is what makes the unrolled-CTE oracle expressible; scores
    ×1000 then rounded to 6dp so the cross-engine float-summation drift
    stays below the compare precision. Top-20 with vertex-id tiebreak.
    An empty graph yields no rows.
    """
    return (
        _pagerank_ranks(spark, sf_dir).select(
            F.col("src").alias("node"),
            (F.round(F.col("pr") * 1000, 6) + 0.0).alias("pr_millis"),
        )
        .orderBy(F.col("pr_millis").desc(), "node")
        .limit(20)
    )


@register(
    "bfs_distances",
    oracle=_EDGES_CTE
    + """
    , sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ),
    d0 AS (
        SELECT DISTINCT src AS node, 0 AS dist FROM sym WHERE src % 97 = 0
    ),
    d1 AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d0
            UNION ALL
            SELECT s.dst AS node, d.dist + 1 FROM d0 d JOIN sym s ON s.src = d.node
        ) GROUP BY node
    ),
    d2 AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d1
            UNION ALL
            SELECT s.dst AS node, d.dist + 1 FROM d1 d JOIN sym s ON s.src = d.node
        ) GROUP BY node
    ),
    d3 AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d2
            UNION ALL
            SELECT s.dst AS node, d.dist + 1 FROM d2 d JOIN sym s ON s.src = d.node
        ) GROUP BY node
    )
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM d3 GROUP BY dist
    """,
)
def bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: shortest hop distance (≤ 3 hops) from the
    deterministic source set {v : v % 97 = 0} — the frontier-expansion
    iterative shape next to pagerank_iter's value iteration (together
    they cover both classic iterative-graph dataflows).

    Each round relaxes dist(v) = min(dist(v), min_{u→v} dist(u)+1) as a
    union + min-aggregate over the adjacency base: one vertex-key
    equi-join and one partial+final min per hop; the distance table
    stays O(V). The base is shuffled once, on the vertex key its own
    groupBy produced, and every hop's join reuses that exchange (see the
    module notes).
    Bounded hop count makes the computation a finite DAG (the unrolled
    oracle); the unbounded variant is the same loop with a convergence
    count, exactly like dedup_clusters. Output: distance histogram
    (≤ hops+2 rows: 0..3 plus unreached nodes never appear).
    """
    # Round 12: adjacency-array loop base (see _sym_adjacency) — each
    # relaxation is a |V|-row join + neighbor explode instead of a 2|E|-
    # row edge shuffle; min() is order-independent, so the result is
    # exactly the edge-row form's (verified row-equal). The vertex set
    # is unique by construction, so the old source-set distinct is gone.
    adj = _sym_adjacency(spark, sf_dir)
    dist = (
        adj.select(F.col("vtx").alias("node"))
        .where(F.col("node") % 97 == 0)
        .select("node", F.lit(0).alias("dist"))
    )
    for _ in range(3):
        relaxed = _round_join(adj, dist, F.col("vtx") == F.col("node")).select(
            F.explode("nbrs").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.groupBy("dist").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


@register(
    "graph_common_neighbors",
    oracle=_EDGES_CTE
    + """
    , sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ),
    adj AS (SELECT src AS node, list_sort(list(dst)) AS nbrs FROM sym GROUP BY src)
    SELECT e.src, e.dst,
           CAST(LEN(list_intersect(a.nbrs, b.nbrs)) AS BIGINT) AS common,
           ROUND(CAST(LEN(list_intersect(a.nbrs, b.nbrs)) AS DOUBLE)
                 / LEN(list_distinct(list_concat(a.nbrs, b.nbrs))), 4) + 0.0
               AS jaccard
    FROM edges e
    JOIN adj a ON e.src = a.node
    JOIN adj b ON e.dst = b.node
    WHERE LEN(list_intersect(a.nbrs, b.nbrs)) >= 5
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge strength via neighborhood overlap: common-neighbor count and
    neighbor-set Jaccard per edge (≥5 common) — the classic
    link-prediction/tie-strength baseline, and the per-edge refinement
    of triangle_count (Σ common over all edges = 3 × triangles, pinned
    by tests/test_graphs.py's cross-check).

    Each edge (src < dst) explodes from src's adjacency row with src's
    set attached, joins dst's set on the vertex key, and the
    intersection runs as a JVM array expression per edge — work is
    Σ(deg(u)+deg(v)) over edges, never a pair explosion. The ≥5 floor
    keeps the emitted edge list to the structurally-embedded ties.
    """
    adj = _sym_adjacency(spark, sf_dir)
    e = adj.select(
        F.col("vtx").alias("src"), F.col("nbrs").alias("na"), F.explode("nbrs").alias("dst")
    ).where(F.col("src") < F.col("dst"))
    common = F.size(F.array_intersect("na", "nb"))
    union_size = F.size(F.array_union("na", "nb"))
    return (
        e.join(adj.withColumnsRenamed({"vtx": "v", "nbrs": "nb"}), F.col("dst") == F.col("v"))
        .where(common >= 5)
        .select(
            "src",
            "dst",
            common.cast("long").alias("common"),
            (F.round(common.cast("double") / union_size, 4) + 0.0).alias("jaccard"),
        )
    )


@register(
    "graph_clustering_coef",
    oracle=_EDGES_CTE
    + """
    , sym AS (
        SELECT src AS v, dst AS u FROM edges
        UNION ALL
        SELECT dst AS v, src AS u FROM edges
    ),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY v
    ),
    tris AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
        JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    tv AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM (
            SELECT a AS v FROM tris
            UNION ALL SELECT b AS v FROM tris
            UNION ALL SELECT c AS v FROM tris
        ) GROUP BY v
    )
    SELECT d.v AS part, d.d AS degree,
           COALESCE(tv.t, 0) AS n_triangles,
           ROUND(2.0 * COALESCE(tv.t, 0) / (d.d * (d.d - 1)), 4)
               AS clustering_coef
    FROM deg d LEFT JOIN tv ON d.v = tv.v
    WHERE d.d >= 2
    """,
)
def graph_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient: 2·T(v) / (deg(v)·(deg−1))
    — how close each part's neighborhood is to a clique, the community-
    structure metric on top of triangle_count's global tally (same
    oriented triangle enumeration, each triangle exploded to its three
    corners before a vertex-key count).

    Same scale spine as the rest of the graph tier: one adjacency base
    gives both the triangles (_triangles, Σdeg² wedges) and the degrees
    (size(nbrs)), the per-vertex triangle count is a combine-enabled
    aggregate over the exploded corners, and the final join is
    |V|-sized. Degree<2 vertices are excluded (coefficient undefined).
    """
    tv = (
        _triangles(spark, sf_dir)
        .select(F.explode(F.array("u", "v", "w")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    deg = _sym_adjacency(spark, sf_dir).select(
        F.col("vtx").alias("v"), F.size("nbrs").cast("long").alias("d")
    )
    return (
        deg.join(tv, "v", "left")
        .where(F.col("d") >= 2)
        .select(
            F.col("v").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                2.0 * F.coalesce("t", F.lit(0)) / (F.col("d") * (F.col("d") - 1)), 4
            ).alias("clustering_coef"),
        )
    )


@register(
    "hits_hub_authority",
    oracle=_EDGES_CTE
    + """
    , sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ),
    v AS (SELECT DISTINCT src AS vid FROM sym),
    a0 AS (SELECT vid, 1.0 AS a FROM v),
    h1r AS (
        SELECT s.src AS vid, SUM(a0.a) AS h
        FROM sym s JOIN a0 ON s.dst = a0.vid GROUP BY s.src
    ),
    h1 AS (
        SELECT vid, h / (SELECT SUM(h) FROM h1r) AS h FROM h1r
    ),
    a1r AS (
        SELECT s.dst AS vid, SUM(h1.h) AS a
        FROM sym s JOIN h1 ON s.src = h1.vid GROUP BY s.dst
    ),
    a1 AS (
        SELECT vid, a / (SELECT SUM(a) FROM a1r) AS a FROM a1r
    )
    SELECT h1.vid AS part,
           ROUND(h1.h, 6) AS hub,
           ROUND(a1.a, 6) AS authority
    FROM h1 JOIN a1 ON h1.vid = a1.vid
    ORDER BY hub DESC, part LIMIT 20
    """,
)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HITS round (hub/authority scores, sum-normalized) over the
    symmetric co-occurrence graph — the mutually-recursive ranking next
    to pagerank_iter's single-score iteration (on an undirected graph
    after one round they coincide up to normalization; the two-table
    UPDATE shape is the point, it is what link-spam and citation
    analysis run on directed webs).

    Same spine as the rest of the tier: scores live in O(V) tables
    keyed on the vertex, the authority half-round is one round join to
    the adjacency base + a pushed explode and combine-enabled sum,
    normalizers are 1-row broadcasts, and the deterministic top-20
    (score desc, id) bounds the output. One plan, no checkpoint; more
    rounds repeat the round join.
    """
    adj = _sym_adjacency(spark, sf_dir)
    # Half-round 1 (superstep-0 fold, as in pagerank): a0 is uniformly
    # 1.0, so the first hub score is the degree, size(nbrs) — exact, as
    # the general half-round's sum of 1.0s is.
    h1r = adj.select(F.col("vtx").alias("vid"), F.size("nbrs").cast("double").alias("h"))
    h_tot = h1r.agg(F.sum("h").alias("ht"))
    h1 = h1r.crossJoin(F.broadcast(h_tot)).select(
        "vid", (F.col("h") / F.col("ht")).alias("h")
    )
    a1r = (
        _round_join(adj, h1, F.col("vtx") == F.col("vid"))
        .select(F.explode("nbrs").alias("dst"), "h")
        .groupBy("dst")
        .agg(F.sum("h").alias("a"))
        .select(F.col("dst").alias("vid"), "a")
    )
    a_tot = a1r.agg(F.sum("a").alias("at"))
    a1 = a1r.crossJoin(F.broadcast(a_tot)).select(
        "vid", (F.col("a") / F.col("at")).alias("a")
    )
    # Hinted like the adjacency round joins: both sides are already hash
    # exchanged on vid, and unhinted AQE broadcasts a1 or not depending on
    # which stage finishes first.
    return (
        h1.join(a1.hint("shuffle_hash"), "vid")
        .select(
            F.col("vid").alias("part"),
            F.round("h", 6).alias("hub"),
            F.round("a", 6).alias("authority"),
        )
        .orderBy(F.col("hub").desc(), "part")
        .limit(20)
    )


def _cc_oracle(rounds: int) -> str:
    """Unrolled min-label propagation over the symmetric edge set."""
    parts = [
        _EDGES_CTE
        + """
    , sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ),
    l0 AS (SELECT DISTINCT src AS vid, src AS lbl FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
    l{r} AS (
        SELECT v.vid, LEAST(v.lbl, COALESCE(MIN(n.lbl), v.lbl)) AS lbl
        FROM l{p} v
        LEFT JOIN sym s ON s.src = v.vid
        LEFT JOIN l{p} n ON n.vid = s.dst
        GROUP BY v.vid, v.lbl
    )"""
        )
    return (
        "".join(parts)
        + f"""
    SELECT lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM l{rounds} GROUP BY lbl
    """
    )


@register("graph_cc_rounds", oracle=_cc_oracle(3))
def graph_cc_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by min-label propagation run for EXACTLY 3
    rounds — the driver-checkable twin of dedup_clusters (which is
    rows-only because its edges come from the LSH hash family and it
    iterates to data-dependent convergence; here the edge set is the
    oracle-able co-occurrence graph and the round count is pinned, so
    the intermediate label state is deterministic and the unrolled CTE
    reproduces it exactly — same trick as bfs_distances' fixed hops).
    Emits component label → size after round 3; labels that have not yet
    converged are part of the CONTRACT, not an error.

    Per round: one vertex-key equi-join against the label table + a
    min-aggregate — labels O(V), the edge exchange reused by every round
    of the one plan. A run to convergence is a driver loop that cuts
    lineage per round, as bigstar_fixpoint does.
    """
    # The one edge-row loop: the adjacency base raises its bytes (see the
    # module notes).
    sym = _both_directions(_edges(spark, sf_dir))
    # Round-1 specialization (superstep-0 constant folding): with every
    # initial label equal to the vertex id, round 1's neighbor-min is
    # just min(dst) per src and the least() against the own label is
    # least(src, min(dst)) — one combine-enabled aggregate over the edge
    # base replaces the label join + left-join merge. Every vertex
    # appears as a src in the symmetric edge set, so no left join is
    # needed to keep isolated-side rows. Integer min — bit-identical to
    # the general round the oracle unrolls.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("nbl"))
        .select(
            F.col("src").alias("vid"),
            F.least(F.col("src"), F.col("nbl")).alias("lbl"),
        )
    )
    for _ in range(2):
        nbr_min = (
            sym.join(labels.withColumnRenamed("vid", "dst2"), F.col("dst") == F.col("dst2"))
            .groupBy("src")
            .agg(F.min("lbl").alias("nbl"))
            .select(F.col("src").alias("vid"), "nbl")
        )
        labels = (
            labels.join(nbr_min, "vid", "left")
            .select(
                "vid",
                F.least(F.col("lbl"), F.coalesce("nbl", F.col("lbl"))).alias("lbl"),
            )
        )
    return labels.groupBy(F.col("lbl").alias("component")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices")
    )


def _lpa_oracle(rounds: int) -> str:
    """Unrolled synchronous label propagation over the symmetric edge set."""
    parts = [
        _EDGES_CTE
        + """
    , sym AS MATERIALIZED (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS vid, src AS lbl FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
    v{r} AS MATERIALIZED (
        SELECT s.src AS vid, l.lbl, COUNT(*) AS cnt
        FROM sym s JOIN l{p} l ON l.vid = s.dst
        GROUP BY s.src, l.lbl
    ),
    l{r} AS MATERIALIZED (
        SELECT vid, lbl FROM (
            SELECT vid, lbl,
                   ROW_NUMBER() OVER (PARTITION BY vid
                                      ORDER BY cnt DESC, lbl ASC) AS rn
            FROM v{r}
        ) WHERE rn = 1
    )"""
        )
    return (
        "".join(parts)
        + f"""
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM l{rounds} GROUP BY lbl
    """
    )


@register("label_propagation_communities", oracle=_lpa_oracle(2))
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA, Raghavan
    et al. 2007) run for EXACTLY 2 rounds: each vertex adopts the MOST
    FREQUENT label among its neighbors, smallest label on ties — the
    modularity-free community detector, and a genuinely different
    labeling from connected components (CC merges everything reachable;
    LPA splits a component along its dense cores). Plain LPA iterates
    asynchronously with random tie-breaks; pinning the round count,
    synchronous updates, and the (count DESC, label ASC) tie order makes
    every intermediate state deterministic, so the unrolled DuckDB CTE
    reproduces it exactly (the graph_cc_rounds trick).

    Per round: one round join of the label table to the adjacency base,
    a pushed explode into a (vertex, label) count aggregate, and a
    per-vertex top-1 expressed as max_by(lbl, (cnt, -lbl)) — a second
    combine-enabled hash aggregate instead of a per-vertex sort window,
    so both round stages take map-side partials and nothing sorts.
    Labels stay O(V), and the one plan builds the adjacency once. Same
    iterative scale shape as pagerank: state keyed on the vertex,
    nothing collected, rounds extend to convergence on a cluster.
    """
    adj = _sym_adjacency(spark, sf_dir)
    # Round-1 specialization (the Pregel superstep-0 fold): every initial
    # label is the vertex id and nbrs holds no duplicates, so every
    # round-1 vote count is exactly 1 and the (cnt DESC, lbl ASC) top-1
    # is the least neighbor id: array_min(nbrs), integer and exact.
    labels = adj.select(F.col("vtx").alias("vid"), F.array_min("nbrs").alias("lbl"))
    for _ in range(1):
        # Each vertex pushes its label to its neighbors: one vote per edge.
        votes = (
            _round_join(adj, labels, F.col("vtx") == F.col("vid"))
            .select(F.explode("nbrs").alias("dst"), "lbl")
            .groupBy("dst", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # Top-1 under (cnt DESC, lbl ASC) == argmax of the struct
        # (cnt, -lbl), which is unique per vertex (labels are distinct
        # within a vote group), so max_by is deterministic and
        # order-equivalent to the oracle's ROW_NUMBER pick — but runs as
        # a combine-enabled hash aggregate instead of a per-vertex sort
        # window (map-side partials, no sort, no WindowGroupLimit pass).
        labels = votes.groupBy(F.col("dst").alias("vid")).agg(
            F.max_by("lbl", F.struct(F.col("cnt"), (-F.col("lbl")).alias("nl"))).alias("lbl")
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices")
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled k-core peeling over the symmetric edge set."""
    parts = [
        _EDGES_CTE
        + """
    , sym AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ),
    a0 AS (SELECT DISTINCT src AS vid FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
    a{r} AS (
        SELECT s.src AS vid
        FROM sym s
        JOIN a{p} x ON s.src = x.vid
        JOIN a{p} y ON s.dst = y.vid
        GROUP BY s.src
        HAVING COUNT(*) >= {k}
    )"""
        )
    selects = [
        f"SELECT {r} AS peel_round, CAST(COUNT(*) AS BIGINT) AS n_alive FROM a{r}"
        for r in range(1, rounds + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("kcore_rounds", oracle=_kcore_oracle(3, 3))
def kcore_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by EXACTLY 3 peeling rounds (k=3): each round
    recomputes degrees over the surviving subgraph and drops vertices
    below k — the density filter that strips hangers-on before community
    detection, and the standard "find the engaged core" cut for social/
    co-occurrence graphs. Fixed round count makes the intermediate
    survivor sets deterministic, so the unrolled CTE reproduces them
    exactly (graph_cc_rounds' trick); full peeling runs the same round
    in a driver loop to fixpoint.

    Per round: two semi-joins restrict the checkpointed adjacency to the
    surviving subgraph (vertex-key equi-joins, survivor sets O(V)), then
    one combine-enabled degree count — no edge regeneration, no pair
    explosion. Emits survivors per round, counted in the pass that
    materializes each round's survivor set (round 3's pass, which no
    round reads, only counts); a round losing no vertices is the
    converged core.
    """
    # Round 12: adjacency-array loop base (see _sym_adjacency) — round 1's
    # degree is size(nbrs) (map-only; the edge-row form paid a count
    # shuffle), and each peeling round filters the |V|-row base + the
    # exploded neighbors against the survivor set instead of
    # semi-joining the 2|E| edge rows twice. Counts are order-
    # independent — identical survivor sets (oracle green). Checkpointed:
    # as one plan each round re-reads the base's collect_set, and executor
    # CPU broke BASELINE.md's rule at sf0.1 in every lazy form measured.
    adj = iter_materialize(_sym_adjacency(spark, sf_dir))
    alive = None
    counts = []
    for r in range(1, 4):
        if alive is None:
            # Round-1 specialization: the initial survivor set is every
            # vertex (both endpoint filters are identity), so round 1 is
            # a bare projection of the adjacency degree.
            deg = adj.select(F.col("vtx").alias("src"), F.size("nbrs").alias("deg"))
        else:
            deg = (
                adj.join(alive.withColumnRenamed("vid", "sv"), F.col("vtx") == F.col("sv"), "left_semi")
                .select(F.col("vtx").alias("src"), F.explode("nbrs").alias("nb"))
                .join(alive.withColumnRenamed("vid", "dv"), F.col("nb") == F.col("dv"), "left_semi")
                .groupBy("src")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
        # The pass that materializes a round's survivors also counts them,
        # so the three counts return as one local partition with no
        # aggregate over the survivor sets. Nothing reads round 3's
        # survivors, so its pass only counts them and keeps no blocks.
        survivors = deg.where(F.col("deg") >= 3).select(F.col("src").alias("vid"))
        n_alive = F.count(F.lit(1)).alias("n_alive")
        if r < 3:
            alive, stats = materialize_observed(survivors, n_alive)
        else:
            stats = observe_pass(survivors, n_alive)
        counts.append((r, stats["n_alive"]))
    return spark.createDataFrame(counts, "peel_round int, n_alive long").coalesce(1)


def _bigstar_oracle(rounds: int) -> str:
    """Unrolled alternating large-star / small-star rounds (m = min of
    the closed neighborhood; the seed edges arrive oriented src < dst
    from _EDGES_CTE, every star round re-emits oriented a > b)."""
    parts = [
        _EDGES_CTE
        + """
    , e0 AS (SELECT src AS a, dst AS b FROM edges)"""
    ]
    idx = 0
    for _ in range(rounds):
        for op in ("L", "S"):
            p, idx = idx, idx + 1
            sym = f"""
    sym{idx} AS MATERIALIZED (
        SELECT a AS v, b AS u FROM e{p}
        UNION ALL
        SELECT b AS v, a AS u FROM e{p}
    ),
    m{idx} AS MATERIALIZED (
        SELECT v, LEAST(MIN(u), v) AS m FROM sym{idx} GROUP BY v
    )"""
            if op == "L":
                new = f"""
    e{idx} AS MATERIALIZED (
        SELECT DISTINCT s.u AS a, m.m AS b
        FROM sym{idx} s JOIN m{idx} m ON s.v = m.v
        WHERE s.u > s.v
    )"""
            else:
                new = f"""
    e{idx} AS MATERIALIZED (
        SELECT DISTINCT a, b FROM (
            SELECT s.u AS a, m.m AS b
            FROM sym{idx} s JOIN m{idx} m ON s.v = m.v
            WHERE s.u < s.v
            UNION ALL
            SELECT m.v AS a, m.m AS b FROM m{idx} m
        ) WHERE a <> b
    )"""
            parts.append("," + sym + "," + new)
    return (
        "".join(parts)
        + f"""
    SELECT b AS root, CAST(COUNT(DISTINCT a) AS BIGINT) AS n_children
    FROM e{idx} GROUP BY b
    """
    )


@register("graph_cc_bigstar", oracle=_bigstar_oracle(2))
def graph_cc_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by ALTERNATING large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the algorithm that replaces min-label propagation at extreme scale:
    each operation is one neighborhood min-aggregate + one re-keyed edge
    emission, and the alternation contracts components in O(log n)
    rounds instead of O(diameter) (graph_cc_rounds' propagation walks
    the diameter; a 10^9-vertex path graph never finishes that way).
    large-star hangs every larger neighbor off the neighborhood minimum;
    small-star re-hangs the smaller ones; every star round re-emits
    edges oriented a > b (the seed set arrives src < dst and both
    engines symmetrize it identically), so the pair space only shrinks.

    Run for exactly 2 alternating rounds with the intermediate edge sets
    deterministic (pure integer min/join/distinct), so the unrolled CTE
    oracle reproduces the exact parent multiset — same fixed-depth trick
    as graph_cc_rounds/bfs_distances; production runs to fixpoint with
    iter_materialize cutting lineage per round. Per round nothing wider
    than (vertex, vertex) int pairs crosses an exchange.
    """
    # Checkpointed like each star_op round: the driver-loop sites of
    # ROADMAP item 4, which decides their checkpoint cadence.
    e = iter_materialize(_edges(spark, sf_dir)).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    for op in ("L", "S", "L", "S"):
        e = star_op(e, op)
    return e.groupBy(F.col("b").alias("root")).agg(
        F.count_distinct("a").cast("long").alias("n_children")
    )


def star_op(e: DataFrame, op: str) -> DataFrame:
    """One large-star ("L") or small-star ("S") operation over an (a, b)
    edge DataFrame, result materialized (lineage cut per round). Shared by
    graph_cc_bigstar's fixed unrolling and bigstar_fixpoint below."""
    sym = e.select(F.col("a").alias("v"), F.col("b").alias("u")).unionAll(
        e.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )
    m = sym.groupBy("v").agg(F.least(F.min("u"), F.col("v")).alias("m"))
    if op == "L":
        out = (
            sym.join(m, "v")
            .where(F.col("u") > F.col("v"))
            .select(F.col("u").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
    else:
        smaller = (
            sym.join(m, "v")
            .where(F.col("u") < F.col("v"))
            .select(F.col("u").alias("a"), F.col("m").alias("b"))
        )
        selfrow = m.select(F.col("v").alias("a"), F.col("m").alias("b"))
        out = (
            smaller.unionAll(selfrow)
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
    return iter_materialize(out)


def bigstar_fixpoint(e: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Alternating large-star / small-star run to CONVERGENCE over an
    (a, b) edge DataFrame: returns the final star edges, child ``a`` →
    component-minimum root ``b`` (Kiveris et al.'s fixpoint — every
    component contracts to a star rooted at its minimum vertex in
    O(log n) alternations). Convergence is detected by edge-set
    stability (symmetric-difference count 0 after an L,S pair); each
    round's edges are materialized, so the check costs one count over an
    O(E) integer-pair set, never a lineage replay.

    graph_cc_bigstar keeps its fixed 2-round unrolling (that is what its
    CTE oracle replicates); this fixpoint form is the production path
    and the independent labeling that dedup_clusters_verify checks label
    propagation against."""
    e = iter_materialize(e)
    for _ in range(max_rounds):
        new = star_op(star_op(e, "L"), "S")
        changed = (
            new.join(e, ["a", "b"], "left_anti")
            .unionAll(e.join(new, ["a", "b"], "left_anti"))
            .count()
        )
        e = new
        if changed == 0:
            break
    return e
