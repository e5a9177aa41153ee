"""Similarity search over embedding vectors (array<float> columns).

The family, exact to approximate:
- exact kNN in three result-identical formulations — ``knn_cosine``
  (HOF expressions, broadcast queries, corpus unshuffled),
  ``knn_blocked`` (two-stage block-local top-k merge), ``knn_gemm``
  (Arrow-batch numpy GEMM with per-batch pruning) — plus the
  ``knn_classify``/``knn_eval`` layer on top.
- approximate indexes: ``ann_ivf`` (centroid probing), ``ann_lsh``
  (hyperplane bands), ``ann_pq`` (product-quantized 8-byte codes + ADC)
  and ``ann_pq_rerank`` (exact rescore of the ADC shortlist) — each
  pinned by an oracle-backed recall-floor contract query.
- embedding analytics: ``dup_embedding``/``semdedup`` near-dup pruning,
  centroids, int8 quantization, Gram/PCA, k-means, norm audits,
  Matryoshka truncation A/B, hard-negative mining.

Scoring math is JVM-side array expressions (zip_with/aggregate) in
double precision wherever the plan allows; Python appears only as
Arrow-batched numpy kernels (GEMM, PQ train/encode) with bounded driver
collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.materialize import iter_materialize, release_at_run_end
from pythonmapreduce_spark.plans.registry import QUERIES, register

def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with NULL vectors dropped at the scan.

    Every consumer here feeds vectors into fixed-shape math (HOF dot
    products, numpy GEMM batches, centroid updates); a NULL embedding is
    not a computable point and would otherwise turn an Arrow batch ragged
    deep inside a worker. Dropping at the scan keeps the predicate next
    to the parquet reader (pushed down) and the semantics explicit:
    null-vector rows are data-quality exhaust (constraint_check /
    bad_records_quarantine territory), not similarity inputs.
    """
    return load(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())


_KNN_QUERIES = 20  # vec_id <= 20 form the query set
_KNN_K = 10


def _as_double(col: F.Column) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_norm(df: DataFrame, vec: str = "v") -> DataFrame:
    """Precompute the L2 norm once per row (reused across all comparisons)."""
    return df.withColumn("nrm", _norm(F.col(vec)))


@register(
    "knn_cosine",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id <= {_KNN_QUERIES} AND embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
        WHERE embedding IS NOT NULL
    ), scored AS (
        SELECT q_id, n_id,
               list_cosine_similarity(qv, nv) AS cos_raw
        FROM q CROSS JOIN c
        WHERE q_id <> n_id
    )
    SELECT q_id, n_id, ROUND(cos_raw, 4) AS cosine, rn AS rank
    FROM (
        SELECT q_id, n_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY ROUND(cos_raw, 4) DESC, n_id ASC) AS rn
        FROM scored
    )
    WHERE rn <= {_KNN_K}
    """,
)
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast(queries) ⋈ corpus → per-partition scoring →
    window top-k per query. The corpus is scanned once, never shuffled
    (the only exchange is on q_id for the final top-k, k rows per query
    per partition after partial ranking).
    """
    emb = _vectors(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    corpus = with_norm(emb).select(
        F.col("vec_id").alias("n_id"), F.col("v").alias("nv"), F.col("nrm").alias("n_nrm")
    )
    queries = with_norm(emb.where(F.col("vec_id") <= _KNN_QUERIES)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("q_nrm")
    )
    # Rank over the ROUNDED cosine with n_id tiebreak: the raw double is
    # summation-order-dependent (HOF fold here vs list_cosine_similarity in
    # the oracle vs BLAS in knn_gemm), so near-ties at the k boundary could
    # flip membership between engines. 4dp is the emitted precision — making
    # it the ranking key resolves every tie on the deterministic n_id. It is
    # rounded once, before the window, so the window exchange carries the
    # rounded value alone and the raw double never leaves the scan stage.
    scored = corpus.join(F.broadcast(queries), F.col("q_id") != F.col("n_id")).select(
        "q_id",
        "n_id",
        F.round(_dot(F.col("qv"), F.col("nv")) / (F.col("q_nrm") * F.col("n_nrm")), 4).alias(
            "cosine"
        ),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select("q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


@register("ann_ivf")  # approximate (probed subset) → rows-only
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: coarse-quantize the corpus into
    K=16 clusters (centroids = the first 16 vectors — deterministic), then
    answer each query by scanning only its nprobe=4 closest clusters.

    Plan shape (single job, zero corpus shuffle): the 16 centroids are
    pre-normalized and packed into ONE row as an array<struct> (a 16-row
    aggregate — the only exchange on the build side), then broadcast-
    cross-joined against the corpus with a 1× row multiplier. Cluster
    assignment is a per-row higher-order-function argmax fused into the
    scan; the earlier formulation exploded the corpus 16× and shuffled
    every 64-dim vector through a groupBy/max_by. Probe selection (top-4
    clusters per query) reuses the same packed array: array_sort by
    descending sim + slice(4) + explode, all narrow. Only the probed
    ~nprobe/K fraction of (query, vector) pairs reaches the top-k window,
    and the corpus crosses an exchange exactly once (the probe join's
    window). Recall is approximate ⇒ rows-only; the exact twin is
    knn_cosine.
    """
    emb = _vectors(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    emb = with_norm(emb)
    # Centroid-training note (measured, round 3): wiring 2 Lloyd
    # refinement iterations over this init (kmeans_history returns the
    # centroid matrix for exactly this) was benchmarked and NOT adopted —
    # on the near-uniform fixture embeddings it measured recall@10 0.881
    # vs 0.900 naive at sf0.1 while adding ~0.8 s of per-query training.
    # Real clustered corpora are where trained centroids pay; the hook
    # stays one line away (kmeans_history(spark, sf_dir, k=16)[2]).
    packed = (
        emb.where(F.col("vec_id") <= 16)
        .select(
            F.col("vec_id").alias("c_id"),
            F.transform("v", lambda x: x / F.col("nrm")).alias("cu"),
        )
        .agg(F.collect_list(F.struct("c_id", "cu")).alias("cents"))
    )
    # scored_arr[i] = (sim, c_id) per centroid; struct ordering gives a
    # deterministic argmax (max sim, ties to the larger c_id).
    scored_arr = (
        "transform(cents, c -> struct("
        "aggregate(zip_with(v, c.cu, (x, y) -> x * y), 0D, (a, x) -> a + x) / nrm AS sim, "
        "c.c_id AS c_id))"
    )
    assigned = (
        emb.join(F.broadcast(packed))
        .withColumn("cluster", F.expr(f"array_max({scored_arr}).c_id"))
        .drop("cents")
    )
    # Probe sets: top-4 clusters per query vector, same packed centroids.
    probes = (
        emb.where(F.col("vec_id") <= _KNN_QUERIES)
        .join(F.broadcast(packed))
        .withColumn(
            "probe",
            F.expr(
                f"explode(slice(array_sort({scored_arr}, "
                "(l, r) -> CASE WHEN l.sim > r.sim THEN -1 WHEN l.sim < r.sim THEN 1 "
                "WHEN l.c_id < r.c_id THEN -1 ELSE 1 END), 1, 4))"
            ),
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("probe.c_id").alias("cluster"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    # Score only vectors in probed clusters; probes (n_queries*4) broadcast.
    scored = (
        assigned.join(F.broadcast(probes), "cluster")
        .where(F.col("q_id") != F.col("vec_id"))
        .withColumn("cos_raw", _dot(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("nrm")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round("cos_raw", 4).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


@register(
    "dup_embedding",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id <= 400 AND embedding IS NOT NULL
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    """,
)
def dup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine above a corpus-calibrated threshold) over a bounded
    id range — the exact, oracle-checkable core of semantic dedup.

    At full scale the same scoring runs behind an LSH/IVF candidate
    generator (see ann_ivf) instead of the bounded self-join used here.
    """
    emb = with_norm(
        _vectors(spark, sf_dir)
        .where(F.col("vec_id") <= 400)
        .select("vec_id", _as_double(F.col("embedding")).alias("v"))
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cos)
        .where(F.col("cos_raw") >= 0.4)
        .select("id_a", "id_b", F.round("cos_raw", 4).alias("cosine"))
    )


@register(
    "embedding_centroid",
    oracle="""
    SELECT label, pos, ROUND(AVG(CAST(val AS DOUBLE)), 6) AS centroid_val
    FROM (
        SELECT label,
               UNNEST(range(len(embedding))) AS pos,
               UNNEST(embedding) AS val
        FROM embeddings WHERE embedding IS NOT NULL
    )
    GROUP BY label, pos
    """,
)
def embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors (mean pooling).

    Emitted FLAT — one row per (label, dimension) — rather than
    re-assembled into arrays: flat rows partial-aggregate map-side like any
    numeric agg, and the comparison contract stays scalar. posexplode is a
    generator expression, not a UDF, so the whole plan is codegen'd. At
    100 TB this is the shape of per-cluster mean computation: |labels|×dim
    output rows regardless of corpus size.
    """
    return (
        _vectors(spark, sf_dir)
        .select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"))
    )


def _hyperplanes(n: int, dim: int) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed — the LSH family must be
    identical on every executor and every run)."""
    import numpy as np

    rng = np.random.default_rng(42)
    return rng.standard_normal((n, dim)).tolist()


@register("ann_lsh")  # approximate: bucket recall is probabilistic → rows-only
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane (SimHash) LSH for cosine distance.

    32 signed projections split into 8 bands of 4 bits; vectors colliding
    with a query in ANY band become candidates, then exact cosine ranks
    the candidates (top-10 per query). P[bit collision] = 1 − θ/π for unit
    vectors, so a 4-bit band keeps a θ=60° neighbor with p≈0.2 and any of
    8 bands with p≈0.83 — the classic narrow-bands-many-bands recall knob
    — while each band still prunes ~2⁴ of the space.

    Scale shape: signatures are one linear pass (16 dot products per row,
    all JVM array expressions); the candidate join is an equi-join on the
    band key — a hash join on a short string, NOT a cross join. Recall vs
    the exact knn_cosine baseline is asserted in tests.
    """
    n_bits, n_bands = 32, 8
    band_width = n_bits // n_bands
    planes = _hyperplanes(n_bits, 64)

    # The hyperplane matrix rides in as a BROADCAST single-row table and
    # the signature is a higher-order function over that COLUMN — not a
    # 32×64-literal expression tree. The literal form cost ~6 s of Py4J
    # plan construction (as 2k Column objects) or ~2×2 s of whole-stage-
    # codegen compile (as one inlined array literal, compiled once per
    # side); a column reference keeps the generated code tiny. Same
    # lesson as ann_ivf's packed centroids.
    # One partition: a local list parallelizes to defaultParallelism, and
    # the broadcast job would run a task per (empty) slice.
    planes_df = spark.createDataFrame(
        [(planes,)], "_planes array<array<double>>"
    ).coalesce(1)
    bits_sql = (
        "transform(_planes, p -> "
        "CASE WHEN aggregate(zip_with(transform(v, x -> CAST(x AS DOUBLE)), p, "
        "(x, y) -> x * y), 0D, (a, x) -> a + x) >= 0 THEN '1' ELSE '0' END)"
    )
    bands_sql = (
        f"explode(transform(sequence(0, {n_bands - 1}), b -> "
        f"struct(CAST(b AS INT) AS band, "
        f"array_join(slice(_bits, b * {band_width} + 1, {band_width}), '') AS key)))"
    )

    def with_bands(df: DataFrame, vec: str) -> DataFrame:
        """One row per (vector, band): band id + that band's bit-string key.
        Exploding bands into rows turns "collide in ANY band" into a single
        equi-join on (band, key) — one hash join regardless of n_bands,
        instead of a union of n_bands joins."""
        return (
            df.join(F.broadcast(planes_df))
            .withColumn("_bits", F.expr(bits_sql))
            .select("*", F.expr(bands_sql).alias("bk"))
            .select("*", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
            .drop("bk", "_bits", "_planes")
        )

    emb = with_norm(
        _vectors(spark, sf_dir).select(
            "vec_id", F.col("embedding").alias("v")
        ),
        "v",
    )
    corpus = with_bands(emb, "v")
    queries = with_bands(emb.where(F.col("vec_id") <= _KNN_QUERIES), "v").select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        "band",
        "key",
    )

    # Candidates: any shared (band, key); dedup collapses multi-band hits.
    # The rounded cosine is scored in the join's projection, before the
    # dedup: every duplicate of a pair carries the same score, so only
    # (q_id, vec_id, cosine) crosses the dedup exchange, not two vectors.
    cos = _dot(_as_double(F.col("qv")), _as_double(F.col("v"))) / (
        F.col("q_nrm") * F.col("nrm")
    )
    cand = (
        corpus.join(F.broadcast(queries), ["band", "key"], "inner")
        .where(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id", F.round(cos, 4).alias("cosine"))
        .dropDuplicates(["q_id", "vec_id"])
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


_KNN_BLOCKS = 8


@register(
    "knn_blocked",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id <= {_KNN_QUERIES} AND embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
        WHERE embedding IS NOT NULL
    ), scored AS (
        SELECT q_id, n_id,
               list_cosine_similarity(qv, nv) AS cos_raw
        FROM q CROSS JOIN c
        WHERE q_id <> n_id
    )
    SELECT q_id, n_id, ROUND(cos_raw, 4) AS cosine, rn AS rank
    FROM (
        SELECT q_id, n_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY ROUND(cos_raw, 4) DESC, n_id ASC) AS rn
        FROM scored
    )
    WHERE rn <= {_KNN_K}
    """,
)
def knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-partitioned exact kNN: the 100 TB formulation of knn_cosine,
    with the SAME oracle — the hash-compare proves blocking never changes
    results.

    Two-stage top-k: corpus vectors are hashed into B blocks, local top-k
    runs per (query, block), and only B·k survivors per query reach the
    global ranking. Why it matters at scale: a single window partitioned by
    q_id funnels the ENTIRE scored corpus for one query through one task
    (20 queries = 20 straggler partitions on a 1000-executor cluster);
    partitioning by (q_id, block) spreads the heavy ranking over B× more
    tasks and the final per-query merge sees only B·k tiny rows.
    Correctness: every global top-k row is in some block, and its rank
    within that block can only be ≤ its global rank, so per-block top-k is
    a superset of the global answer.
    """
    emb = _vectors(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    corpus = with_norm(emb).select(
        F.col("vec_id").alias("n_id"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("n_nrm"),
    )
    queries = with_norm(emb.where(F.col("vec_id") <= _KNN_QUERIES)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("q_nrm")
    )
    scored = corpus.join(F.broadcast(queries), F.col("q_id") != F.col("n_id")).select(
        "q_id",
        "n_id",
        F.round(_dot(F.col("qv"), F.col("nv")) / (F.col("q_nrm") * F.col("n_nrm")), 4).alias(
            "cosine"
        ),
    )
    # Rounded-cosine ranking (see knn_cosine): per-block top-k under the
    # same total order is still a superset of the global top-k. The block
    # is a partition expression of n_id, hashed inside the exchange, so
    # no block column ships beside the id it derives from.
    order = (F.col("cosine").desc(), F.col("n_id").asc())
    block = F.pmod(F.xxhash64("n_id"), F.lit(_KNN_BLOCKS))
    local_w = W.partitionBy("q_id", block).orderBy(*order)
    survivors = (
        scored.withColumn("lrank", F.row_number().over(local_w))
        .where(F.col("lrank") <= _KNN_K)
        .select("q_id", "n_id", "cosine")
    )
    global_w = W.partitionBy("q_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(global_w))
        .where(F.col("rank") <= _KNN_K)
        .select("q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


@register(
    "knn_gemm",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id <= {_KNN_QUERIES} AND embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
        WHERE embedding IS NOT NULL
    ), scored AS (
        SELECT q_id, n_id,
               list_cosine_similarity(qv, nv) AS cos_raw
        FROM q CROSS JOIN c
        WHERE q_id <> n_id
    )
    SELECT q_id, n_id, ROUND(cos_raw, 4) AS cosine, rn AS rank
    FROM (
        SELECT q_id, n_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY ROUND(cos_raw, 4) DESC, n_id ASC) AS rn
        FROM scored
    )
    WHERE rn <= {_KNN_K}
    """,
)
def knn_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN as a per-partition BLAS matmul — the vectorized formulation,
    sharing knn_cosine's oracle so the hash-compare proves all three kNN
    variants (HOF-expression, blocked, GEMM) return identical answers.

    Each Arrow batch of corpus vectors becomes one numpy (batch x dim) @
    (dim x q) GEMM against the broadcast query matrix; the batch emits only
    its local top-k per query (superset of the global top-k), and one tiny
    window merges. This is the sanctioned Python escape hatch used RIGHT:
    Arrow batches amortize the JVM->Python crossing, BLAS does the math,
    and per-batch pruning keeps the shuffle at k rows per query per batch
    regardless of corpus size.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    emb = _vectors(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    qrows = emb.where(F.col("vec_id") <= _KNN_QUERIES).collect()
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    # empty corpus / query set (degenerate-partition robustness): keep the
    # matrix 2-D so the norms and GEMM below stay well-defined
    qm = (
        np.array([r["v"] for r in qrows], dtype=np.float64)
        if qrows
        else np.zeros((0, 1))
    )
    qm_n = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
    k = _KNN_K

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("n_id", T.LongType()),
            T.StructField("cos_raw", T.DoubleType()),
        ]
    )

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(q_ids) == 0:
                yield pd.DataFrame({"q_id": [], "n_id": [], "cos_raw": []})
                continue
            n_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cm = np.array(list(pdf["v"]), dtype=np.float64).reshape(len(pdf), -1)
            cm_n = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-300)
            sims = cm_n @ qm_n.T  # (n, q)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                mask = n_ids != qid
                ids, vals = n_ids[mask], col[mask]
                if len(ids) == 0:
                    continue
                # local top-k under the SAME total order as the final rank
                # (rounded cos desc, n_id asc) — pruning by raw cosine
                # could drop a row that ties on the rounded key but wins
                # the n_id tiebreak
                order = np.lexsort((ids, -np.round(vals, 4)))[:k]
                out_q.extend([qid] * len(order))
                out_n.extend(ids[order])
                out_s.extend(vals[order])
            yield pd.DataFrame({"q_id": out_q, "n_id": out_n, "cos_raw": out_s})

    local = emb.mapInPandas(score_batches, schema).select(
        "q_id", "n_id", F.round("cos_raw", 4).alias("cosine")
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


_GRAM_ORACLE = """
WITH e AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) AS i,
           CAST(UNNEST(embedding) AS DOUBLE) AS v
    FROM embeddings WHERE embedding IS NOT NULL
)
SELECT a.i AS i, b.i AS j,
       -- + 0.0 after ROUND (registry signed-zero rule): a near-zero sum
       -- rounds to -0.0 on one engine and 0.0 on the other depending on
       -- which side of zero its summation-order noise lands (hit at
       -- sf0.001, entry (12,47))
       ROUND(SUM(a.v * b.v), 3) + 0.0 AS g
FROM e a JOIN e b ON a.vec_id = b.vec_id
GROUP BY a.i, b.i
"""


@register("gram_matrix", oracle=_GRAM_ORACLE)
def gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X^T X over the embedding corpus, emitted
    flat as (i, j, value) — the kernel under PCA/whitening/linear probes.

    Scale shape: each Arrow batch computes its 64x64 partial with one
    numpy GEMM (the same trick as knn_gemm) and emits 4096 flat rows; the
    only exchange carries |batches| * 4096 tiny rows into a final
    groupBy(i, j) sum. The corpus itself never shuffles, and the reduce
    input is independent of n — this is how a 100 TB corpus yields a 16 KB
    matrix without any driver-side row loop. float32 inputs are promoted
    to float64 BEFORE multiplying so per-term products are bit-identical
    to the oracle's DOUBLE arithmetic.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    dim = 64
    out_schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("j", T.LongType()),
            T.StructField("partial", T.DoubleType()),
        ]
    )
    ii, jj = np.meshgrid(np.arange(1, dim + 1), np.arange(1, dim + 1), indexing="ij")

    def batch_gram(batches):
        for pdf in batches:
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            if not len(x):
                continue
            g = x.T @ x
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "partial": g.ravel()}
            )

    emb = _vectors(spark, sf_dir).select("embedding")
    partials = emb.mapInPandas(batch_gram, schema=out_schema)
    return partials.groupBy("i", "j").agg(
        (F.round(F.sum("partial"), 3) + 0.0).alias("g")
    )


@register("pca_project")  # eigendecomposition is not SQL-expressible → rows-only
def pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA: project every embedding onto the top-2 principal components.

    Two-pass algorithm with nothing unbounded at the driver:
    pass 1 aggregates the d-dim mean and the d x d Gram matrix
    distributed (same GEMM-partial shape as gram_matrix), collects only
    d^2 + d = 4160 numbers, and eigensolves the 64x64 covariance on the
    driver — O(d^3) work that is independent of corpus size. Pass 2
    broadcasts the two component vectors as array literals and computes
    the projections as pure Column expressions (zip_with dot product), so
    the corpus streams through one codegen stage with no Python in the
    row path and no shuffle at all.

    Component sign is fixed deterministically (largest-|coefficient|
    entry made positive) so output is stable across runs/platforms.
    Eigendecomposition has no DuckDB twin -> rows-only here;
    tests/test_pca.py pins the contract (variance ordering, component
    orthonormality, projection reproducibility).
    """
    import numpy as np

    dim = 64
    emb = _vectors(spark, sf_dir)
    gram_flat = gram_matrix.__wrapped__(spark, sf_dir)  # type: ignore[attr-defined]
    sums = emb.select(
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "i", "v"
        )
    ).groupBy("i").agg(F.sum("v").alias("s"))

    n = emb.count()
    g = np.zeros((dim, dim))
    for r in gram_flat.collect():  # 4096 rows — bounded by d^2, not by n
        g[r["i"] - 1, r["j"] - 1] = r["g"]
    mu = np.zeros(dim)
    for r in sums.collect():  # 64 rows
        mu[r["i"]] = r["s"] / n
    if n == 0:  # degenerate corpus: project onto the first two axes
        mu = np.zeros(dim)
        g = np.eye(dim)
        n = 1
    cov = g / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    comps = vecs[:, np.argsort(vals)[::-1][:2]].T  # (2, dim), descending variance
    for k in range(2):
        if comps[k][np.argmax(np.abs(comps[k]))] < 0:
            comps[k] = -comps[k]

    def proj(k: int) -> F.Column:
        centered_dot = F.aggregate(
            F.zip_with(
                F.transform("embedding", lambda v: v.cast("double")),
                F.array(*[F.lit(float(c)) for c in comps[k]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(centered_dot - F.lit(float(mu @ comps[k])), 3)

    return emb.select(
        "vec_id", "label", proj(0).alias("pc1"), proj(1).alias("pc2")
    )


def _kmeans_assign_partials(cents):
    """Returns a mapInPandas fn emitting flat per-batch partials: for each
    (cluster, dim): sum of member coordinates + count, plus the batch's
    inertia contribution as (cluster, -1, sq_dist_sum, n)."""
    import numpy as np
    import pandas as pd

    c = np.asarray(cents, dtype=np.float64)  # (K, dim)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)  # (n, K)
            a = d2.argmin(axis=1)  # first min → deterministic
            rows = {"cluster": [], "pos": [], "s": [], "n": []}
            for k in range(len(c)):
                mask = a == k
                nk = int(mask.sum())
                if not nk:
                    continue
                sums = x[mask].sum(axis=0)
                rows["cluster"] += [k] * len(sums) + [k]
                rows["pos"] += list(range(len(sums))) + [-1]
                rows["s"] += list(sums) + [float(d2[mask, k].sum())]
                rows["n"] += [nk] * (len(sums) + 1)
            yield pd.DataFrame(rows)

    return fn


def kmeans_history(spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3):
    """Run Lloyd's k-means; returns (per-iteration inertia list, final
    per-cluster (size, inertia) rows, final centroid matrix). Each
    iteration is ONE distributed job: a mapInPandas pass emits K×(dim+1)
    partial rows per Arrow batch (cluster coordinate sums + counts +
    inertia), the groupBy reduces |batches|×K×65 tiny rows, and only
    K×65 numbers ever reach the driver — the same bounded-collect
    contract as pca_project. Init is the first k vectors (deterministic,
    like ann_ivf's centroids). ann_ivf consumes the refined centroids."""
    import numpy as np

    emb = _vectors(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    init = sorted(
        emb.where(F.col("vec_id") <= k).collect(), key=lambda r: r["vec_id"]
    )
    if not init:
        return [], [], None
    cents = np.array([r["v"] for r in init], dtype=np.float64)
    schema = "cluster long, pos long, s double, n long"
    history = []
    final_rows = []
    for _ in range(iters):
        partials = (
            emb.mapInPandas(_kmeans_assign_partials(cents), schema=schema)
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        new = cents.copy()
        counts = {}
        inertia = 0.0
        for r in partials:
            if r["pos"] == -1:
                inertia += r["s"]
                counts[r["cluster"]] = r["n"]
            else:
                new[r["cluster"], r["pos"]] = r["s"] / r["n"]
        history.append(inertia)
        final_rows = sorted(
            (int(c), int(n) ) for c, n in counts.items()
        )
        cents = new
    return history, final_rows, cents


@register("kmeans_iter")  # iterative, centroids engine-internal → rows-only
def kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering (K=8, 3 Lloyd iterations, deterministic init):
    the iterative-convergence showcase next to dedup_clusters' label
    propagation. Emits final cluster sizes; tests/test_pca.py pins the
    contract (monotonically non-increasing inertia, all vectors
    assigned). Iterative re-estimation is not SQL-expressible → rows-only.
    """
    history, rows, _cents = kmeans_history(spark, sf_dir)
    if not rows:
        return spark.createDataFrame([], "cluster long, n_vecs long")
    return spark.createDataFrame(rows, "cluster long, n_vecs long")


@register(
    "embedding_quantize",
    oracle="""
    -- promote float32 -> double BEFORE any math: DuckDB's ROUND(FLOAT)
    -- returns FLOAT, whose float64 reading re-grows the 1e-11 artifact
    -- the round was supposed to remove
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT vec_id,
           ROUND((list_max(emb) - list_min(emb)) / 255.0, 6) + 0.0 AS scale,
           ROUND(list_min(emb), 6) + 0.0 AS zero_point,
           array_to_string(
               list_transform(
                   emb[1:8],
                   x -> CAST(ROUND(
                       (x - list_min(emb))
                       / (CASE WHEN list_max(emb) = list_min(emb)
                               THEN 1.0
                               ELSE (list_max(emb) - list_min(emb))
                                    / 255.0 END)) AS BIGINT)),
               ',') AS q_head
    FROM e
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (min/max affine): the memory
    layer under every large ANN index — a 64-dim float32 vector becomes
    64 bytes + (scale, zero_point), a 4× shrink that turns a 100 TB
    embedding store into 25 TB before any index structure is built.

    Pure higher-order Column expressions (array_min/array_max/transform)
    inside whole-stage codegen — per-row math, no shuffle at all; the
    scan is the whole plan. Degenerate constant vectors quantize to 0
    via the scale=0 guard. The compare emits the first 8 codes as a
    string (driver canonicalizers reject array cells) with round-to-
    nearest the identical half-up direction on both engines (codes ≥ 0).

    Cast chain note: embedding is array<float>; both engines promote to
    double BEFORE min/max/scale math (float32 literals like 0.1f differ
    from their float64 reading, so mixed-precision order would drift).
    """
    emb = F.expr("transform(embedding, x -> cast(x as double))")
    mn, mx = F.array_min(emb), F.array_max(emb)
    scale = (mx - mn) / F.lit(255.0)
    safe_scale = F.when(mx == mn, F.lit(1.0)).otherwise(scale)
    return _vectors(spark, sf_dir).select(
        "vec_id",
        (F.round(scale, 6) + 0.0).alias("scale"),
        (F.round(mn, 6) + 0.0).alias("zero_point"),
        F.array_join(
            F.expr(
                "transform(slice(transform(embedding, x -> cast(x as double)), 1, 8), "
                "x -> cast(round((x - array_min(transform(embedding, x -> cast(x as double)))) / "
                "(case when array_max(transform(embedding, x -> cast(x as double))) = "
                "array_min(transform(embedding, x -> cast(x as double))) then 1.0d else "
                "(array_max(transform(embedding, x -> cast(x as double))) - "
                "array_min(transform(embedding, x -> cast(x as double)))) / 255.0d end)) as bigint))"
            ),
            ",",
        ).alias("q_head"),
    )


@register(
    "knn_classify",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv, label AS true_label
        FROM embeddings WHERE vec_id <= {_KNN_QUERIES} AND embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv, label FROM embeddings
        WHERE embedding IS NOT NULL
    ), scored AS (
        SELECT q_id, true_label, n_id, label,
               list_cosine_similarity(qv, nv) AS cos_raw
        FROM q CROSS JOIN c
        WHERE q_id <> n_id
    ), topk AS (
        SELECT q_id, true_label, label
        FROM (
            SELECT q_id, true_label, label,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY ROUND(cos_raw, 4) DESC, n_id ASC) AS rn
            FROM scored
        )
        WHERE rn <= {_KNN_K}
    ), votes AS (
        SELECT q_id, true_label, label, CAST(COUNT(*) AS BIGINT) AS n_votes,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY COUNT(*) DESC, label ASC) AS vr
        FROM topk GROUP BY q_id, true_label, label
    )
    SELECT q_id, true_label, label AS predicted, n_votes
    FROM votes WHERE vr = 1
    """,
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification: each query vector takes the
    majority label of its 10 exact cosine neighbors (self excluded,
    smallest-label tiebreak) — the evaluation-style capability layered
    on the similarity tier (label propagation / weak-label audit for
    embedding spaces).

    Reuses knn_cosine's exact plan (broadcast queries, corpus never
    shuffles, rounded-cosine deterministic ranking); the vote is a
    |queries|×k count + rank, negligible after the scoring stage.
    """
    neighbors = QUERIES["knn_cosine"](spark, sf_dir)
    labels = _vectors(spark, sf_dir).select("vec_id", "label")
    truth = labels.withColumnsRenamed({"vec_id": "q_id", "label": "true_label"})
    nbr_labeled = (
        neighbors.join(
            labels.withColumnsRenamed({"vec_id": "n_id", "label": "label"}), "n_id"
        )
        .join(F.broadcast(truth), "q_id")
    )
    votes = nbr_labeled.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    w = W.partitionBy("q_id").orderBy(F.col("n_votes").desc(), F.col("label").asc())
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .where(F.col("vr") == 1)
        .select("q_id", "true_label", F.col("label").alias("predicted"), "n_votes")
    )


@register(
    "knn_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv, label AS true_label
        FROM embeddings WHERE vec_id <= {_KNN_QUERIES} AND embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv, label FROM embeddings
        WHERE embedding IS NOT NULL
    ), scored AS (
        SELECT q_id, true_label, n_id, label,
               list_cosine_similarity(qv, nv) AS cos_raw
        FROM q CROSS JOIN c
        WHERE q_id <> n_id
    ), topk AS (
        SELECT q_id, true_label, label
        FROM (
            SELECT q_id, true_label, label,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY ROUND(cos_raw, 4) DESC, n_id ASC) AS rn
            FROM scored
        )
        WHERE rn <= {_KNN_K}
    ), votes AS (
        SELECT q_id, true_label, label AS predicted,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY COUNT(*) DESC, label ASC) AS vr
        FROM topk GROUP BY q_id, true_label, label
    ), preds AS (
        SELECT q_id, true_label, predicted FROM votes WHERE vr = 1
    )
    SELECT cls,
           CAST(SUM(tp) AS BIGINT) AS tp,
           CAST(SUM(n_true) AS BIGINT) AS n_true,
           CAST(SUM(n_pred) AS BIGINT) AS n_pred,
           ROUND(SUM(tp) * 1.0 / NULLIF(SUM(n_pred), 0), 4) AS precision_,
           ROUND(SUM(tp) * 1.0 / NULLIF(SUM(n_true), 0), 4) AS recall_
    FROM (
        SELECT true_label AS cls,
               CASE WHEN predicted = true_label THEN 1 ELSE 0 END AS tp,
               1 AS n_true, 0 AS n_pred
        FROM preds
        UNION ALL
        SELECT predicted AS cls, 0, 0, 1 FROM preds
    )
    GROUP BY cls
    """,
)
def knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall of the kNN classifier — the evaluation
    closing the classify → evaluate loop (knn_classify produces
    predictions; this scores them against the embedding labels).

    The confusion accounting is a UNION of two tagged projections of the
    prediction table (one row per truth, one per prediction) followed by
    a single aggregate — no per-class filtering passes, so the plan cost
    is |queries| regardless of how many classes exist. Rounded ratios +
    NULL-on-zero denominators identical on both engines. Both tagged
    projections read ``preds`` (|queries| rows).
    """
    preds = QUERIES["knn_classify"](spark, sf_dir).select("true_label", "predicted")
    truth_side = preds.select(
        F.col("true_label").alias("cls"),
        F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0).alias("tp"),
        F.lit(1).alias("n_true"),
        F.lit(0).alias("n_pred"),
    )
    pred_side = preds.select(
        F.col("predicted").alias("cls"),
        F.lit(0).alias("tp"),
        F.lit(0).alias("n_true"),
        F.lit(1).alias("n_pred"),
    )
    return (
        truth_side.unionByName(pred_side)
        .groupBy("cls")
        .agg(
            F.sum("tp").cast("long").alias("tp"),
            F.sum("n_true").cast("long").alias("n_true"),
            F.sum("n_pred").cast("long").alias("n_pred"),
            F.round(
                F.sum("tp") * 1.0 / F.nullif(F.sum("n_pred"), F.lit(0)), 4
            ).alias("precision_"),
            F.round(
                F.sum("tp") * 1.0 / F.nullif(F.sum("n_true"), F.lit(0)), 4
            ).alias("recall_"),
        )
    )


# ---------------------------------------------------------------------------
# ANN recall contracts (driver-checkable twins of the rows-only ANN queries)
# ---------------------------------------------------------------------------

_EXACT_TOPK_COUNT = f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id <= {_KNN_QUERIES} AND embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
        WHERE embedding IS NOT NULL
    ), topk AS (
        SELECT q_id, n_id
        FROM (
            SELECT q_id, n_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY ROUND(list_cosine_similarity(qv, nv), 4) DESC,
                                n_id ASC) AS rn
            FROM q CROSS JOIN c WHERE q_id <> n_id
        ) WHERE rn <= {_KNN_K}
    )
"""


def _ann_recall_contract(
    spark: SparkSession, sf_dir: str, ann_name: str, floor: float
) -> DataFrame:
    """Overall-recall floor of an ANN query against the exact kNN baseline,
    folded into ONE comparable row: (n_exact, recall_floor, recall_ok).

    The oracle recomputes n_exact independently (the same exact top-k the
    knn_cosine oracle pins) and asserts recall_ok literally TRUE — so a
    hash-family / banding / probe regression that drops overall recall
    below the floor flips the Spark-side boolean and the external value
    compare goes red. The floors sit well under measured recall (IVF
    ≈0.82 → 0.6; LSH ≈0.70 → 0.5) so data regeneration noise cannot trip
    them, while an implementation break (recall → ~0) always does.
    """
    exact = QUERIES["knn_cosine"](spark, sf_dir).select("q_id", "n_id")
    ann = QUERIES[ann_name](spark, sf_dir).select(
        "q_id", "n_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(ann, ["q_id", "n_id"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) >= F.count(F.lit(1)) * floor).alias(
                "recall_ok"
            ),
        )
        .select("n_exact", F.lit(floor).alias("recall_floor"), "recall_ok")
    )


@register(
    "ann_ivf_recall",
    oracle=_EXACT_TOPK_COUNT
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(0.6 AS DOUBLE) AS recall_floor,
           TRUE AS recall_ok
    FROM topk
    """,
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall contract: ann_ivf must recover ≥60% of the exact top-10
    pairs overall (measured ≈82% at sf0.01). See _ann_recall_contract —
    ann_ivf itself stays rows-only (its output depends on the probed
    subset); this query pins the property that matters."""
    return _ann_recall_contract(spark, sf_dir, "ann_ivf", 0.6)


@register(
    "ann_lsh_recall",
    oracle=_EXACT_TOPK_COUNT
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(0.5 AS DOUBLE) AS recall_floor,
           TRUE AS recall_ok
    FROM topk
    """,
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH recall contract: ann_lsh must recover ≥50% of the
    exact top-10 pairs overall (measured ≈70% at sf0.01; the 8×4-bit
    banding keeps a 60° neighbor with p≈0.83). ann_lsh itself stays
    rows-only; this query is its driver-checkable tripwire."""
    return _ann_recall_contract(spark, sf_dir, "ann_lsh", 0.5)


# SemDeDup's cluster count is a DEPLOYMENT CONSTANT, never a function of the
# corpus (the paper pins 50k clusters for LAION-440M and scans cluster-count
# as a hyperparameter, not as n/const). The registered fixture pins K=64;
# production passes its own K (and usually kmeans_iter centroids) to
# semdedup_k below.
_SEMDEDUP_K = 64


def _semdedup_unit_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings as unit vectors (normalized once at the scan; cosine ≡ dot
    thereafter, saving two norms per comparison)."""
    raw = _vectors(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v0")
    )
    return raw.withColumn("nrm", _norm(F.col("v0"))).select(
        "vec_id",
        F.transform(F.col("v0"), lambda x: x / F.col("nrm")).alias("v"),
    )


def semdedup_assign(spark: SparkSession, e: DataFrame, centroids: DataFrame) -> DataFrame:
    """Centroid assignment as a chunked Arrow-batch GEMM — the stage the
    round-3 audit flagged when it was an n×K expression cross join over a
    broadcast that grew with the corpus.

    The centroid table (cid, cv) is collected to the driver — bounded by
    K·d doubles, a deployment constant independent of corpus size (the
    same bounded-collect discipline as ann_pq's 256-row codebooks) — and
    shipped to executors as a torrent-broadcast numpy matrix, NOT as a
    SQL BroadcastExchange join side: the plan contains no join at all for
    this stage, so no broadcast-threshold cliff and no n×K expression
    tree. Each Arrow batch of corpus vectors scores against all K
    centroids with one (batch × d)·(d × K) matrix multiply and takes a
    vectorized argmax, i.e. O(n·K·d) total work streamed through
    executors with K constant → linear in n.

    Determinism contract (shared with the DuckDB oracle and the old
    expression formulation, pinned by tests/test_pca.py's equivalence
    gate): the argmax key is ROUND(dot, 4) — half away from zero, exactly
    Spark's F.round / DuckDB's ROUND — encoded as a BIGINT in 1e-4 units
    scaled past the centroid-id range minus cid, so (dot DESC, cid ASC)
    cannot be flipped by last-bit float drift between engines or BLAS
    summation orders.
    """
    import numpy as np
    import pandas as pd

    rows = centroids.collect()  # K rows — deployment constant, never corpus
    if not rows:
        return spark.createDataFrame([], "vec_id long, cluster long")
    cid_arr = np.array([r["cid"] for r in rows], dtype=np.int64)
    cmat = np.array([list(r["cv"]) for r in rows], dtype=np.float64)  # K × d
    bc = spark.sparkContext.broadcast((cid_arr, cmat.T.copy()))  # d × K
    release_at_run_end(lambda: bc.unpersist(blocking=False))

    def assign_batches(batches):
        cids, ct = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["v"].to_numpy())  # b × d
            dots = v @ ct  # b × K GEMM
            # half-away-from-zero via an exact fraction comparison: the
            # floor(x + 0.5) idiom rounds UP for fractions one ulp BELOW
            # .5 (the IEEE add carries), silently diverging from
            # ROUND's half-away in that window (review r4.2)
            m = np.abs(dots) * 10000.0
            base = np.floor(m)
            key = np.sign(dots) * (base + (m - base >= 0.5))
            key = key.astype(np.int64) * 1000000 - cids[np.newaxis, :]
            best = np.argmax(key, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cluster": cids[best]}
            )

    return e.mapInPandas(assign_batches, "vec_id long, cluster long")


def semdedup_k(
    spark: SparkSession,
    sf_dir: str,
    k: int = _SEMDEDUP_K,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Parameterized SemDeDup: fixed cluster count ``k``, optional caller
    centroid table (production feeds ``kmeans_iter``'s trained centroids;
    the default is the K lowest-id unit vectors — ann_ivf's deterministic
    naive-init convention, which keeps the DuckDB oracle expressible).

    Scale shape: assignment is the chunked-GEMM stage above (no join, no
    broadcast exchange, O(n·K·d) with K constant); the in-cluster pair
    join shuffles on the cluster key, unit vectors ship once each way;
    with K sized so clusters average c vectors, pair work is n·c/2 dots.
    Nothing global, nothing that grows superlinearly in n. ``e`` is
    consumed four ways (centroid slice, GEMM input, both pair-join sides)
    and ``assign`` three (ea, eb, final keep join)."""
    # Kept (d): lazy raises CPU min 0.221 -> 0.330 s at sf0.01 (0.083 s spread).
    e = iter_materialize(_semdedup_unit_vectors(spark, sf_dir))
    if centroids is None:
        centroids = e.where(F.col("vec_id") <= k).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv")
        )
    # Kept (b): lazy, each consumer re-runs the mapInPandas GEMM.
    assign = iter_materialize(semdedup_assign(spark, e, centroids))
    ea = assign.join(e, "vec_id").select(
        F.col("vec_id").alias("id_a"), "cluster", F.col("v").alias("va")
    )
    eb = assign.join(e, "vec_id").select(
        F.col("vec_id").alias("id_b"), F.col("cluster").alias("cluster_b"), F.col("v").alias("vb")
    )
    removed = (
        ea.join(
            eb,
            (F.col("cluster") == F.col("cluster_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(_dot(F.col("va"), F.col("vb")) >= 0.4)
        .select("id_b")
        .distinct()
    )
    return assign.join(
        removed, assign.vec_id == removed.id_b, "left"
    ).select(
        "vec_id",
        "cluster",
        F.col("id_b").isNull().alias("keep"),
    )


@register(
    "semdedup",
    oracle=f"""
    WITH n0 AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    u AS (
        SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM n0
    ),
    c AS (
        SELECT vec_id AS cid, v AS cv FROM u WHERE vec_id <= {_SEMDEDUP_K}
    ),
    scored AS (
        SELECT u.vec_id, c.cid,
               CAST(ROUND(list_dot_product(u.v, c.cv) * 10000) AS BIGINT)
                   * 1000000 - c.cid AS dkey
        FROM u CROSS JOIN c
    ),
    assign AS (
        SELECT vec_id, ARG_MAX(cid, dkey) AS cluster
        FROM scored GROUP BY vec_id
    ),
    removed AS (
        SELECT DISTINCT b.vec_id AS id_b
        FROM assign a
        JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN u ua ON ua.vec_id = a.vec_id
        JOIN u ub ON ub.vec_id = b.vec_id
        WHERE list_dot_product(ua.v, ub.v) >= 0.4
    )
    SELECT s.vec_id, s.cluster,
           (r.id_b IS NULL) AS keep
    FROM assign s LEFT JOIN removed r ON s.vec_id = r.id_b
    """,
)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): cluster embeddings,
    then drop points with a near-identical neighbor INSIDE their cluster —
    the embedding-space analog of MinHash near-dedup, catching rephrased/
    re-encoded duplicates no lexical hash sees.

    The registered fixture runs ``semdedup_k`` with K pinned at 64 and
    the deterministic lowest-id centroid rule so the DuckDB oracle can
    replicate assignment exactly; K is a deployment hyperparameter (the
    paper uses a constant 50k for LAION-440M), NEVER derived from n —
    round 3's K = max(8, n/64) made the assignment stage O(n²/64) with an
    O(n) broadcast and is exactly what this formulation retires. Within a
    cluster the smallest vec_id of a similar pair (dot ≥ 0.4,
    dup_embedding's threshold) survives — the same survivor rule
    dedup_exact's window uses."""
    return semdedup_k(spark, sf_dir, k=_SEMDEDUP_K)


@register(
    "embedding_outliers",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    norms AS (
        SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ),
    stats AS (
        SELECT AVG(nrm) AS mu, STDDEV_SAMP(nrm) AS sd FROM norms
    )
    SELECT n.vec_id,
           ROUND(n.nrm, 4) AS l2_norm,
           ROUND((n.nrm - s.mu) / s.sd, 4) + 0.0 AS z,
           (ABS((n.nrm - s.mu) / s.sd) >= 2.5) AS is_outlier
    FROM norms n CROSS JOIN stats s
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality audit: per-vector L2 norm z-scored against the
    corpus distribution — the cheap screen for broken encoder output
    (zero vectors, exploding activations, truncated writes) that should
    run before any ANN index build or semantic dedup trusts the vectors.

    One scan computes norms (pure HOF arithmetic, no shuffle); the 1-row
    (mean, std) aggregate broadcasts back onto the unshuffled norm
    column. Cost is one pass + one scalar exchange regardless of corpus
    size — the embedding twin of constraint_check's relational gates.
    """
    norms = _vectors(spark, sf_dir).select(
        "vec_id",
        _norm(_as_double(F.col("embedding"))).alias("nrm"),
    )
    stats = norms.agg(
        F.avg("nrm").alias("mu"), F.stddev_samp("nrm").alias("sd")
    )
    z = (F.col("nrm") - F.col("mu")) / F.col("sd")
    return norms.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.round("nrm", 4).alias("l2_norm"),
        (F.round(z, 4) + 0.0).alias("z"),
        (F.abs(z) >= 2.5).alias("is_outlier"),
    )


@register(
    "hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, label AS q_label, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id <= {_KNN_QUERIES} AND embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS n_id, label AS n_label, CAST(embedding AS DOUBLE[]) AS nv
        FROM embeddings WHERE embedding IS NOT NULL
    ), scored AS (
        SELECT q_id, q_label, n_id, n_label,
               list_cosine_similarity(qv, nv) AS cos_raw,
               (q_label = n_label) AS same_label
        FROM q CROSS JOIN c
        WHERE q_id <> n_id
    ), ranked AS (
        SELECT q_id, n_id, cos_raw, same_label,
               ROW_NUMBER() OVER (PARTITION BY q_id, same_label
                                  ORDER BY ROUND(cos_raw, 4) DESC, n_id ASC) AS rn
        FROM scored
    )
    SELECT q_id,
           CAST(MAX(CASE WHEN same_label THEN n_id END) AS BIGINT) AS pos_id,
           ROUND(MAX(CASE WHEN same_label THEN cos_raw END), 4) AS pos_cos,
           CAST(MAX(CASE WHEN NOT same_label THEN n_id END) AS BIGINT) AS neg_id,
           ROUND(MAX(CASE WHEN NOT same_label THEN cos_raw END), 4) AS neg_cos
    FROM ranked WHERE rn = 1
    GROUP BY q_id
    """,
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding-model training: for each
    query vector, the closest SAME-label neighbor (positive) and the
    closest DIFFERENT-label neighbor (the hard negative — the most
    confusable wrong-class example, which is what makes contrastive
    batches informative; random negatives are too easy to matter).

    Same plan family as knn_cosine: broadcast(queries) onto the
    unshuffled corpus scan, one cosine per (query, candidate), then a
    window top-1 per (query, label-parity) — ranks order by ROUND(cos,4)
    with id tiebreak so cross-engine float drift cannot flip the argmax.
    The only exchange carries 2 rows per query. At 100 TB the corpus
    side stays put; only queries move.
    """
    emb = _vectors(spark, sf_dir).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    q = emb.where(F.col("vec_id") <= _KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("label").alias("n_label"),
        F.col("v").alias("nv"),
    )
    cos = _dot(F.col("qv"), F.col("nv")) / (
        _norm(F.col("qv")) * _norm(F.col("nv"))
    )
    # Rounded once, before the window. The oracle's ROUND(MAX(cos)) equals
    # MAX(ROUND(cos)) because rounding is monotone.
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(cos, 4).alias("cosine"),
            (F.col("q_label") == F.col("n_label")).alias("same_label"),
        )
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("q_id", "same_label").orderBy(
                F.col("cosine").desc(), F.col("n_id")
            )
        ),
    ).where(F.col("rn") == 1)
    return ranked.groupBy("q_id").agg(
        F.max(F.when(F.col("same_label"), F.col("n_id"))).cast("long").alias("pos_id"),
        F.max(F.when(F.col("same_label"), F.col("cosine"))).alias("pos_cos"),
        F.max(F.when(~F.col("same_label"), F.col("n_id"))).cast("long").alias("neg_id"),
        F.max(F.when(~F.col("same_label"), F.col("cosine"))).alias("neg_cos"),
    )


@register(
    "contamination_embedding",
    oracle="""
    WITH n0 AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    u AS (
        SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM n0
    ),
    bench AS (
        SELECT vec_id AS b_id, v AS bv FROM u WHERE vec_id <= 10
    ),
    corpus AS (
        SELECT vec_id, v FROM u WHERE vec_id > 10
    ),
    hits AS (
        SELECT c.vec_id,
               MAX((CAST(ROUND(list_dot_product(c.v, b.bv) * 10000) AS BIGINT)
                    + 10000) * 1000000 + b.b_id) AS best_key
        FROM corpus c CROSS JOIN bench b
        GROUP BY c.vec_id
    )
    SELECT vec_id,
           CAST(best_key % 1000000 AS BIGINT) AS nearest_bench_id,
           (best_key // 1000000 - 10000) / 10000.0 AS max_cos,
           ((best_key // 1000000 - 10000) / 10000.0 >= 0.35) AS contaminated
    FROM hits
    """,
)
def contamination_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination in EMBEDDING space: corpus vectors whose
    cosine to ANY benchmark vector clears a threshold are flagged —
    catching paraphrased/translated benchmark leakage that the n-gram
    scans (ngram_decontaminate / decontamination) cannot see. The two
    decontamination modalities run on the same corpus; training excludes
    the union.

    Same integer-key argmax trick as semdedup: the rounded dot in 1e-4
    units scales past the benchmark-id range so ONE BIGINT max_by yields
    (best cosine, best id) deterministically in both engines — here via
    plain MAX over key+id (ids positive, key dominates). The benchmark
    set broadcasts onto the unit-normalized corpus scan: one cosine per
    (corpus row × benchmark row), one combine-enabled aggregate, no
    corpus shuffle. At 100 TB the benchmark side is ~10⁴ vectors — still
    a broadcast.
    """
    raw = _vectors(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v0")
    )
    u = raw.withColumn("nrm", _norm(F.col("v0"))).select(
        "vec_id",
        F.transform(F.col("v0"), lambda x: x / F.col("nrm")).alias("v"),
    )
    bench = u.where(F.col("vec_id") <= 10).select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("bv")
    )
    corpus = u.where(F.col("vec_id") > 10)
    # +10000 shift keeps the key positive for every cosine in [-1, 1]:
    # integer division then floors identically in both engines (Spark's
    # long cast truncates toward zero, DuckDB's // floors — they only
    # agree on non-negatives)
    key = (
        (F.round(_dot(F.col("v"), F.col("bv")) * 10000).cast("long") + 10000)
        * 1000000
        + F.col("b_id")
    )
    hits = (
        corpus.crossJoin(F.broadcast(bench))
        .groupBy("vec_id")
        .agg(F.max(key).alias("best_key"))
    )
    max_cos = ((F.col("best_key") / 1000000).cast("long") - 10000) / 10000.0
    return hits.select(
        "vec_id",
        (F.col("best_key") % 1000000).cast("long").alias("nearest_bench_id"),
        max_cos.alias("max_cos"),
        (max_cos >= 0.35).alias("contaminated"),
    )


@register(
    "embedding_truncate_recall",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id <= {_KNN_QUERIES} AND embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
        WHERE embedding IS NOT NULL
    ), full_k AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY ROUND(list_cosine_similarity(qv, nv), 4) DESC,
                                n_id ASC) AS rn
            FROM q CROSS JOIN c WHERE q_id <> n_id
        ) WHERE rn <= {_KNN_K}
    ), trunc_k AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY ROUND(list_cosine_similarity(qv[1:16], nv[1:16]), 4)
                                    DESC,
                                n_id ASC) AS rn
            FROM q CROSS JOIN c WHERE q_id <> n_id
        ) WHERE rn <= {_KNN_K}
    )
    SELECT CAST((SELECT COUNT(DISTINCT q_id) FROM full_k) AS BIGINT) AS n_queries,
           CAST({_KNN_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           ROUND(COUNT(*) * 1.0
                 / (SELECT COUNT(*) FROM full_k), 4) AS recall
    FROM full_k f JOIN trunc_k t ON f.q_id = t.q_id AND f.n_id = t.n_id
    """,
)
def embedding_truncate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation A/B: recall@k of exact kNN
    over the FIRST 16 dimensions against exact kNN over all 64 — the
    measurement behind shipping truncated embeddings (4× less memory and
    bandwidth; MRL-trained models concentrate signal in the prefix, so
    this number is the evidence for how far an index can shrink).

    Both retrievals share knn_cosine's plan family (broadcast queries,
    unshuffled corpus, rank on ROUND(cos,4) with id tiebreak); the
    truncated variant just slices the vector at the scan. One |queries|×k
    join scores the overlap into a single summary row — comparable
    across rounds like the ANN recall contracts.
    """
    emb = _vectors(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    q = emb.where(F.col("vec_id") <= _KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("n_id"), F.col("v").alias("nv"))

    def topk(qv_col: F.Column, nv_col: F.Column):
        cos = _dot(qv_col, nv_col) / (_norm(qv_col) * _norm(nv_col))
        ranked = (
            c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
            .select(
                "q_id",
                "n_id",
                F.row_number()
                .over(
                    W.partitionBy("q_id").orderBy(
                        F.round(cos, 4).desc(), F.col("n_id")
                    )
                )
                .alias("rn"),
            )
            .where(F.col("rn") <= _KNN_K)
            .select("q_id", "n_id")
        )
        return ranked

    # NOT materialized (round-12 negative result): full_k feeds both the
    # overlap join and the n_full normalizer, but checkpointing it
    # measured 1.36× SLOWER interleaved (1.535 vs 1.128 min, steal 10) —
    # the planner already serves the two identical window subtrees from
    # one exchange, so the eager checkpoint only added a job barrier.
    full_k = topk(F.col("qv"), F.col("nv"))
    trunc_k = topk(F.slice("qv", 1, 16), F.slice("nv", 1, 16))
    hits = full_k.join(trunc_k, ["q_id", "n_id"])
    n_full = full_k.agg(
        F.count(F.lit(1)).alias("nf"),
        F.count_distinct("q_id").alias("nq"),
    )
    return (
        hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        .crossJoin(F.broadcast(n_full))
        .select(
            F.col("nq").cast("long").alias("n_queries"),
            F.lit(_KNN_K).cast("long").alias("k"),
            "n_hits",
            F.round(F.try_divide(F.col("n_hits") * 1.0, F.col("nf")), 4).alias("recall"),
        )
    )


_PQ_M = 8  # subspaces
_PQ_DSUB = 8  # dims per subspace (8 x 8 = 64)
_PQ_K = 256  # codes per subspace (8 bits) — the classic IVFADC configuration
# Training-sample cap: codebooks are trained on the first _PQ_TRAIN_CAP
# vectors by vec_id (one bounded TakeOrdered collect), NOT the full
# corpus — the IVFADC paper's "learning set". At the test SFs the cap
# exceeds the corpus, so sample-training == full-corpus training; at
# deployment scale it bounds driver memory (cap x 64 doubles ≈ 2 MB) and
# saves two full corpus scans per retrain (the old distributed-Lloyd
# shape paid a whole-corpus mapInPandas pass per round to fit a 16 KB
# codebook). The id-prefix sample is exact at test SFs (cap ≥ corpus);
# on a production corpus where vec_id order correlates with source (so a
# prefix would be biased), order the TakeOrdered by xxhash64(vec_id)
# instead — same bounded plan, unbiased learning set.
_PQ_TRAIN_CAP = 4096


def _pq_train(sample):
    """Driver-side PQ training: deterministic first-K init then 2 Lloyd
    rounds over the (n, M*DSUB) unit-vector sample. Assignment is the
    same per-subspace GEMM first-argmin the encode pass uses; a code
    with no assigned points keeps its previous centroid (the distributed
    predecessor's n>0 partial-update rule). Input rows must be sorted by
    vec_id so the result is independent of collect/partition order."""
    import numpy as np

    xs = sample.reshape(len(sample), _PQ_M, _PQ_DSUB)
    cb = sample[:_PQ_K].reshape(-1, _PQ_M, _PQ_DSUB).transpose(1, 0, 2)
    if cb.shape[1] < _PQ_K:  # degenerate tiny corpus: pad by repetition
        reps = -(-_PQ_K // cb.shape[1])
        cb = np.tile(cb, (1, reps, 1))[:, :_PQ_K, :]
    cb = cb.copy()
    xsT = xs.transpose(1, 0, 2)  # (M, n, DSUB) — one batched GEMM per round
    for _ in range(2):
        c2 = (cb**2).sum(axis=2)  # (M, K)
        # argmin over ||x-c||^2 = argmin over (-2 x.c + ||c||^2), all M
        # subspaces in one stacked matmul (round 11; element-identical to
        # the old per-subspace loop — same operands, same argmin).
        am = (c2[:, None, :] - 2.0 * (xsT @ cb.transpose(0, 2, 1))).argmin(axis=2)
        new = cb.copy()
        for m in range(_PQ_M):
            a = am[m]
            # Vectorized centroid update (one scatter-add per subspace,
            # not one masked mean per occupied code: the per-code loop
            # was 2 rounds x 8 subspaces x <=256 fancy-indexed means
            # ~ 0.3 s of driver time at the 4096-vector training cap).
            # np.add.at accumulates in input order (deterministic given
            # the vec_id sort) but SEQUENTIALLY, vs np.mean's pairwise
            # summation — so vs the old loop form, centroids can differ
            # in the last ulp for large clusters, and a near-tie argmin
            # can flip a code. Equality to the loop form was verified at
            # sf0.1 only; the operative guarantee at any scale is the
            # ann_pq_recall / ann_pq_rerank_recall floor, not
            # bit-stability of the codebook.
            cnt = np.bincount(a, minlength=_PQ_K).astype(np.float64)
            sums = np.zeros((_PQ_K, _PQ_DSUB))
            np.add.at(sums, a, xs[:, m, :])
            occ = cnt > 0
            new[m, occ] = sums[occ] / cnt[occ, None]
        cb = new
    return cb


# Per-batch shortlist width for the fused ADC pass: covers BOTH consumers
# (ann_pq's top-10 and ann_pq_rerank's top-50 shortlist). The margin makes
# the unrounded-distance prune conservative against the downstream window's
# ROUND(est_d2, 6) ordering: rounding moves a double by < 5e-7, so any row
# that could still round-tie into the global top-50 sits within 1e-6 of the
# batch's 50th-smallest unrounded distance — pruning only past 2e-6 can
# never drop a global top-50 row (proof in _pq_adc_scored's docstring).
_PQ_SHORTLIST = 50  # ann_pq_rerank's exact-rescore shortlist width
_PQ_PRUNE_K = _PQ_SHORTLIST
_PQ_PRUNE_MARGIN = 2e-6
# The per-batch prune is only lossless for consumers keeping <= _PQ_PRUNE_K
# rows per query; both downstream keeps must stay under it or the prune
# silently drops rows they would have ranked.
assert _PQ_PRUNE_K >= max(_KNN_K, _PQ_SHORTLIST)


def _pq_fused_adc(bc):
    """mapInPandas fused encode + ADC + per-batch shortlist (round 11).

    One Arrow pass does what used to be three plan nodes (encode
    mapInPandas → BroadcastNestedLoopJoin against the 20 distance-table
    rows → per-pair JVM fold): per batch, vectors encode to M codes
    (same per-subspace argmin), estimated distances come from M table
    lookups accumulated LEFT-TO-RIGHT in m order — bitwise identical to
    the old ``aggregate(transform(codes, ...))`` fold, asserted by the
    row-equal gate — and each query keeps only its batch-local top
    ``_PQ_PRUNE_K`` (+margin) candidates, so the top-k window downstream
    sees O(batches × Q × 50) rows instead of Q × corpus. Exactly
    knn_gemm's per-batch-prune pattern applied to the compressed index.
    """
    import numpy as np
    import pandas as pd

    def fn(batches):
        cbv, dtv, qv = bc.value
        c2 = (cbv**2).sum(axis=2)  # (M, K)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["u"]])
            xs = x.reshape(len(x), _PQ_M, _PQ_DSUB)
            codes = np.empty((len(x), _PQ_M), dtype=np.int64)
            for m in range(_PQ_M):
                codes[:, m] = (
                    c2[m][None, :] - 2.0 * (xs[:, m, :] @ cbv[m].T)
                ).argmin(axis=1)
            # ADC accumulation in m order == the old left fold, bitwise.
            est = dtv[:, 0, codes[:, 0]]  # (Q, batch)
            for m in range(1, _PQ_M):
                est = est + dtv[:, m, codes[:, m]]
            vids = pdf["vec_id"].to_numpy()
            out_q, out_v, out_e = [], [], []
            for qi in range(len(qv)):
                mask = vids != qv[qi]
                ev, vv = est[qi][mask], vids[mask]
                if len(ev) > _PQ_PRUNE_K:
                    kth = np.partition(ev, _PQ_PRUNE_K - 1)[_PQ_PRUNE_K - 1]
                    keep = ev <= kth + _PQ_PRUNE_MARGIN
                    ev, vv = ev[keep], vv[keep]
                out_q.append(np.full(len(ev), qv[qi], dtype=np.int64))
                out_v.append(vv)
                out_e.append(ev)
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "est_d2": np.concatenate(out_e),
                }
            )

    return fn


@register("ann_pq")  # quantized distances are approximate -> rows-only
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the compressed-index 100 TB path): unit-
    normalized vectors are split into M=8 subspaces, each subvector
    replaced by the id of its nearest of K=256 trained codes — 8 one-byte
    codes per vector, a 32x compression of the 64-dim float index (the
    m=8, k*=256 configuration of the original IVFADC paper).
    Queries score against the COMPRESSED corpus via asymmetric distance
    computation (ADC): one (M x K) table of exact query-to-code distances
    per query, approx distance = 8 table lookups. On unit vectors L2^2 =
    2 - 2*cos, so smallest-estimated-L2 ranking is cosine ranking.

    Scale/plan shape, stage by stage:
    - TRAIN: per-subspace k-means on a bounded learning set — the first
      _PQ_TRAIN_CAP=4096 vectors by vec_id, ONE TakeOrdered collect
      (≈2 MB), 2 driver-side Lloyd rounds. This is the IVFADC paper's
      sample-trained regime: a 16 KB codebook never justifies full-corpus
      training scans, so train cost is O(cap), independent of corpus
      size. (At the test SFs cap ≥ corpus, so the sample is exact.)
    - ENCODE: one linear Arrow pass corpus -> (vec_id, 8 codes); at
      production scale this is the persisted index (8 bytes/vector vs
      256), re-encoded only when codebooks retrain.
    - QUERY: the 20 ADC tables (20 x 2,048 doubles) BROADCAST onto the
      encoded corpus; the estimated distance is a JVM higher-order-
      function fold over the codes column — no Python, no corpus shuffle;
      the only exchange is the q_id top-k window. IVF's cluster pruning
      (ann_ivf) composes in front of this scan in a full IVF-PQ.
    Quantized ranking is approximate -> rows-only; ann_pq_recall is the
    driver-checkable contract (same pattern as ann_ivf/ann_lsh).
    """
    scored = _pq_adc_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [], "q_id long, n_id long, est_dist double, rank long"
        )
    scored, _ = scored
    w = W.partitionBy("q_id").orderBy(
        F.round("est_d2", 6).asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round("est_d2", 6).alias("est_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _pq_adc_scored(spark: SparkSession, sf_dir: str):
    """Shared PQ machinery: train codebooks, broadcast (codebook, ADC
    tables, query ids) as one torrent-broadcast numpy tuple, and return
    (scored, unit) where scored holds each query's per-batch top-50
    (+tie margin) ADC candidates and unit is the unit-normalized vector
    table. None on an empty corpus.

    Round 11: encode + ADC + shortlist are FUSED into one mapInPandas
    (_pq_fused_adc) — the old plan ran a separate encode pass, a
    BroadcastNestedLoopJoin against the 20 distance-table rows, and a
    per-pair JVM fold, then windowed Q × corpus rows. est_d2 values are
    bitwise identical (same argmin, same left-to-right lookup sum); the
    per-batch prune cannot change any downstream result: both consumers
    rank by (ROUND(est_d2, 6), vec_id) and keep ≤ 50 per query, and a
    row pruned here had ≥ 50 same-batch rows with unrounded distance
    more than 2e-6 below it — each of those rounds strictly smaller, so
    the pruned row's global rank was ≥ 51 under the rounded ordering
    too. Measured min-of-6 interleaved at sf0.1: 2.96 → 1.85 s with
    outputs row-equal for ann_pq AND ann_pq_rerank."""
    import numpy as np

    emb = with_norm(
        _vectors(spark, sf_dir).select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    )
    unit = emb.select(
        "vec_id", F.transform("v", lambda x: x / F.col("nrm")).alias("u")
    )

    # --- train: ONE bounded collect (TakeOrderedAndProject: per-partition
    # top-N merged on the driver — no shuffle, works on sparse vec_ids),
    # then driver-side Lloyd. The same collect serves the K=256 init rows,
    # the learning set, and the Q=20 query vectors (queries are the
    # lowest vec_ids, necessarily inside the ordered prefix).
    sample = sorted(
        unit.orderBy("vec_id").limit(_PQ_TRAIN_CAP).collect(),
        key=lambda r: r["vec_id"],
    )
    if not sample:
        return None
    cb = _pq_train(np.array([r["u"] for r in sample], dtype=np.float64))

    # --- query: exact query-to-code distance tables (Q × M × K doubles,
    # ~320 KB), shipped with the codebook in ONE torrent broadcast; the
    # self-match exclusion (old join condition q_id != vec_id) runs
    # inside the fused pass.
    qrows = [r for r in sample if r["vec_id"] <= _KNN_QUERIES]
    qmat = np.array([r["u"] for r in qrows], dtype=np.float64).reshape(
        len(qrows), _PQ_M, _PQ_DSUB
    )
    dts = ((qmat[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)  # (Q, M, K)
    qids = np.array([int(r["vec_id"]) for r in qrows], dtype=np.int64)
    bc = spark.sparkContext.broadcast((cb, dts, qids))
    release_at_run_end(lambda: bc.unpersist(blocking=False))

    scored = unit.mapInPandas(
        _pq_fused_adc(bc), schema="q_id long, vec_id long, est_d2 double"
    )
    return scored, unit


@register("ann_pq_rerank")  # shortlist is PQ-approximate -> rows-only
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ shortlist + EXACT re-rank — the production retrieval topology
    (FAISS IVFADC+refine, every vector DB's "rescore" stage): ADC over the
    compressed index prunes the corpus to a 50-per-query shortlist, then
    TRUE cosine is recomputed for shortlist members only and the final
    top-10 is exact over that shortlist. Quantization error now only
    matters at the shortlist BOUNDARY (is a true neighbor in the top 50?),
    not in the final ranking — measured recall@10 rises from 0.51 (raw
    ADC, ann_pq) to 0.94 at sf0.01 (0.80 at sf0.1).

    Scale shape: the re-rank join fetches full vectors for |queries| x 50
    rows — a semi-join-sized lookup against the vector store, NOT a second
    corpus scan: the shortlist (a few thousand ids) shuffles, the corpus
    side is an equi-join on its key. Query vectors ride along broadcast.
    The expensive exact math runs on 1,000 pairs instead of |corpus| x
    |queries|.
    """
    scored = _pq_adc_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [], "q_id long, n_id long, cosine double, rank long"
        )
    scored, unit = scored
    w_short = W.partitionBy("q_id").orderBy(
        F.round("est_d2", 6).asc(), F.col("vec_id").asc()
    )
    shortlist = (
        scored.withColumn("srank", F.row_number().over(w_short))
        .where(F.col("srank") <= _PQ_SHORTLIST)
        .select("q_id", "vec_id")
    )
    qvec = unit.where(F.col("vec_id") <= _KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("u").alias("qu")
    )
    reranked = (
        shortlist.join(unit, "vec_id")
        .join(F.broadcast(qvec), "q_id")
        .select("q_id", "vec_id", F.round(_dot(F.col("qu"), F.col("u")), 4).alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


@register(
    "ann_pq_rerank_recall",
    oracle=_EXACT_TOPK_COUNT
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(0.6 AS DOUBLE) AS recall_floor,
           TRUE AS recall_ok
    FROM topk
    """,
)
def ann_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-ranked-PQ recall contract: exact re-ranking of the ADC top-50
    shortlist must recover a floor fraction of the exact top-10 (measured
    0.94 at sf0.01, 0.80 at sf0.1, vs 0.51/0.35 for raw ADC — the quantitative case for the
    rescore stage). Same contract pattern as ann_ivf_recall."""
    return _ann_recall_contract(spark, sf_dir, "ann_pq_rerank", 0.6)


@register(
    "ann_pq_recall",
    oracle=_EXACT_TOPK_COUNT
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(0.3 AS DOUBLE) AS recall_floor,
           TRUE AS recall_ok
    FROM topk
    """,
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall contract: top-10-by-ADC must recover a floor fraction of
    the exact cosine top-10 (measured 0.51 at sf0.01, 0.35 at sf0.1). The
    floor is deliberately modest: 8x256 codes on the near-uniform fixture
    embeddings is a hard quantization regime (weakly separated neighbors);
    real clustered corpora and IVF-PQ with exact re-ranking of the ADC
    shortlist sit far above it. ann_pq itself stays rows-only (code
    assignments depend on trained float centroids); this row is its
    driver-checkable tripwire, same pattern as ann_ivf_recall."""
    return _ann_recall_contract(spark, sf_dir, "ann_pq", 0.3)


@register(
    "embedding_drift",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    mid AS (SELECT CAST(FLOOR(MAX(vec_id) / 2.0) AS BIGINT) AS m FROM v),
    a AS (
        SELECT LIST(cmean ORDER BY pos) AS c, MAX(nrows) AS n FROM (
            SELECT pos, AVG(val) AS cmean, COUNT(*) AS nrows FROM (
                SELECT UNNEST(ve) AS val, UNNEST(range(1, 65)) AS pos
                FROM v, mid WHERE vec_id <= m
            ) GROUP BY pos
        )
    ),
    b AS (
        SELECT LIST(cmean ORDER BY pos) AS c, MAX(nrows) AS n FROM (
            SELECT pos, AVG(val) AS cmean, COUNT(*) AS nrows FROM (
                SELECT UNNEST(ve) AS val, UNNEST(range(1, 65)) AS pos
                FROM v, mid WHERE vec_id > m
            ) GROUP BY pos
        )
    )
    SELECT CAST(a.n AS BIGINT) AS n_ref, CAST(b.n AS BIGINT) AS n_cur,
           ROUND(list_cosine_similarity(a.c, b.c), 6) + 0.0 AS centroid_cosine,
           -- list_zip pads a NULL (empty-half) centroid with NULLs,
           -- which list_dot_product rejects: an empty half is NULL l2
           CASE WHEN a.c IS NOT NULL AND b.c IS NOT NULL THEN
               ROUND(sqrt(list_dot_product(
                     list_transform(list_zip(a.c, b.c),
                                    p -> p[1] - p[2]),
                     list_transform(list_zip(a.c, b.c),
                                    p -> p[1] - p[2]))), 6)
           END AS centroid_l2
    FROM a, b
    """,
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: the corpus split into a
    reference half and a current half (by id, standing in for two
    snapshot dates), compared by CENTROID — cosine near 1 and a small L2
    shift mean the encoder/data distribution is stable; a drop is the
    first alarm that an upstream model or source changed and every
    downstream ANN index and classifier threshold is now suspect. The
    vector-space sibling of psi_drift's scalar histogram comparison.

    Scale shape: ONE mean-pooling aggregate grouped by the half tag
    (64 coordinate sums per group, map-side partials — round 12 fused
    the two per-half aggregates, halving the corpus passes; the split
    point still needs its own max(vec_id) pass, pruned to one column)
    and one global aggregate over the two group rows — nothing but 128
    doubles past the aggregate. That global aggregate always yields ONE
    row: a half with no vectors gives NULL n and NULL metrics, like the
    oracle's global-aggregate CTEs. Per-coordinate means divide
    identically on both engines (same sums, same counts, same order as
    the per-half aggregates they replace); emitted at 6dp.
    """
    v = _vectors(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("ve")
    )
    # explicit FLOOR: DuckDB CAST(x.5 AS BIGINT) rounds where Spark
    # truncates (benford_check pinned the same divergence)
    mid = v.agg(F.floor(F.max("vec_id") / 2.0).cast("long").alias("m"))
    tagged = v.join(F.broadcast(mid)).select(
        (F.col("vec_id") <= F.col("m")).alias("is_ref"), "ve"
    )
    sums = tagged.groupBy("is_ref").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col("ve")[i]).alias(f"s{i}") for i in range(64)],
    )
    arr = F.array(*[F.col(f"s{i}") / F.col("n") for i in range(64)])
    # Pivot the (at most) two half rows into ONE row with a global
    # aggregate, so an empty half still yields the row, with its n, its
    # centroid and both metrics NULL; each max() sees at most one
    # non-NULL value. coalesce(1) puts the half rows in one partition,
    # so the pivot needs no exchange of its own.
    ref, cur = F.col("is_ref"), ~F.col("is_ref")
    ab = sums.select("is_ref", "n", arr.alias("a")).coalesce(1).agg(
        F.max(F.when(ref, F.col("n"))).alias("n"),
        F.max(F.when(ref, F.col("a"))).alias("c"),
        F.max(F.when(cur, F.col("n"))).alias("n2"),
        F.max(F.when(cur, F.col("a"))).alias("c2"),
    )
    dot = F.aggregate(
        F.zip_with("c", "c2", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.col("c"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    nb = F.sqrt(
        F.aggregate(F.col("c2"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with("c", "c2", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return ab.select(
        F.col("n").cast("long").alias("n_ref"),
        F.col("n2").cast("long").alias("n_cur"),
        (F.round(dot / (na * nb), 6) + 0.0).alias("centroid_cosine"),
        F.round(l2, 6).alias("centroid_l2"),
    )
