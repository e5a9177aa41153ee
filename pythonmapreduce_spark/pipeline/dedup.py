r"""Deduplication operators for large-scale training-data pipelines.

The tiers, cheapest signal first (each a different cost/recall point at
100 TB):
- metadata keys: canonical-URL dedup (``dedup_url``) before any content
  hashing.
- exact content: byte hash (``dedup_exact``), normalize-then-hash
  (``dedup_exact_normalized``), cross-snapshot/incremental anti-joins,
  latest/N-version retention, MDM survivorship rules — one shuffle on a
  digest, never text.
- near-dup: MinHash+LSH bands (``dedup_near`` + incremental form),
  SimHash Hamming bands, blocked exact Jaccard/containment — candidate
  generation linear (B band keys per doc), only same-bucket pairs
  verified, ``_BUCKET_CAP`` bounding pathological buckets; recall-floor
  contract queries (``dedup_near_recall`` et al.) pin answer quality.
- sub-document: duplicated-span reporting and REWRITE
  (``remove_dup_spans``), intra-document repetition removal, MOSS
  winnowing fingerprints — span identity travels as digests + (doc, pos)
  ints.
- clustering: min-label / survivor selection over the near-dup pair graph
  (``dedup_clusters``).

The reference's nearest concept is the inverted index's per-key distinct
set (/root/reference/mapreduce_inverted.py:11) — dedup generalizes "group
identical keys" to "group near-identical documents".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.registry import register
from pythonmapreduce_spark.plans.materialize import iter_materialize
from pythonmapreduce_spark.sources.text_corpus import tokens_col

# MinHash parameters: 64 hashes in 16 bands of 4 rows ⇒ candidate-pair
# probability ~ 1-(1-j^4)^16 (steep S-curve around j≈0.7).
_NUM_HASHES = 64
_BANDS = 16
_ROWS_PER_BAND = _NUM_HASHES // _BANDS
_MERSENNE = (1 << 31) - 1  # universal-hash modulus (fits products in int64)
_M32 = 1 << 32


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical text.

    Hash first (sha2-256), so the shuffle key is a fixed 64-byte digest
    rather than the document body — at 100 TB only (digest, doc_id, meta)
    columns move, never text. Window row_number picks the survivor
    deterministically.
    """
    w = W.partitionBy("text_hash").orderBy("doc_id")
    return (
        load(spark, sf_dir, "documents")
        .withColumn("text_hash", F.sha2("text", 256))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


def _shingles(tokens: F.Column, n: int = 3) -> F.Column:
    """n-gram token shingles via a sequence of slice positions (pure
    Column expressions — JVM-side, no UDF)."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.array_join(F.slice(tokens, i, n), " "),
        ),
    ).otherwise(F.array(F.array_join(tokens, " ")))


def lsh_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows from banded minhash signatures.

    Shape chosen for scale AND local speed: explode shingles to rows, hash
    each once (xxhash64 folded to 32 bits), then compute all 64 minhashes
    as plain min-aggregates over universal hashes h_i(x) = (a_i·x+b_i) mod p
    — scalar expressions inside whole-stage codegen with map-side partial
    aggregation, rather than per-element higher-order-function evaluation
    over arrays (~10× slower interpreted). One shuffle of (doc, 64 longs);
    band keys are xxhash64 over each 4-signature band. Fully deterministic.
    """
    # Shingle hashing stays fully scalar: explode the shingle POSITIONS,
    # then hash the 3 tokens at each position with one multi-arg xxhash64 —
    # no shingle strings, no higher-order functions (transform/zip_with are
    # interpreted per element and measured 2.6× slower here at sf0.1).
    # F.get is 0-based and null-safe past the end, and xxhash64 skips null
    # inputs, so docs with <3 tokens degrade to hashing their 1–2 tokens.
    # Plan construction cost matters too: every Python-side F.* call is a
    # Py4J JVM round trip, and building the 64-hash aggregate from Column
    # objects measured ~0.85 s of pure driver time per invocation. SQL
    # expression strings (selectExpr / F.expr) parse JVM-side in one round
    # trip each — same analyzed plan, ~8× cheaper construction.
    toks = tokens_col()
    pos = docs.select("doc_id", toks.alias("toks")).selectExpr(
        "doc_id", "toks", "explode(sequence(0, greatest(size(toks) - 3, 0))) AS i"
    )
    hashed = pos.selectExpr(
        "doc_id",
        f"pmod(xxhash64(get(toks, i), get(toks, i + 1), get(toks, i + 2)), {_M32}) AS h",
    )
    # one struct-wrapped agg expression instead of 64 F.expr Columns:
    # each Column is a Py4J round trip (~90 ms of pure driver time per
    # invocation saved, measured); the optimizer flattens sg.* back to
    # the individual min-aggregates, so the physical plan is unchanged
    # modulo one codegen'd Project. Odd multipliers from a fixed prime
    # offset keep the universal hashes deterministic.
    mins = ", ".join(
        f"min(pmod({2 * i + 1 + 104729} * h + {7919 * (i + 1)}, {_MERSENNE})) AS s{i}"
        for i in range(_NUM_HASHES)
    )
    sig = (
        hashed.groupBy("doc_id")
        .agg(F.expr(f"struct({mins})").alias("sg"))
        .select("doc_id", "sg.*")
    )
    band_structs = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS bucket)".format(
            b=b,
            cols=", ".join(f"s{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)),
        )
        for b in range(_BANDS)
    )
    return sig.selectExpr("doc_id", f"inline(array({band_structs}))")


def minhash_candidates(docs: DataFrame, cap: int | None = None) -> DataFrame:
    """LSH candidate pairs (id_a < id_b): same-bucket pairs over lsh_bands.

    Pair generation WITHIN buckets (groupBy + combination explode), not a
    band-key self-join: a self-join would evaluate the whole signature
    pipeline twice (Spark does not share common subplans across join
    sides) and add a second shuffle. ``cap`` defaults to _BUCKET_CAP; pass
    an explicit large cap only for bounded inputs where the full quadratic
    pair set is wanted (see dedup_near_recall).
    """
    return _pairs_in_buckets(
        lsh_bands(docs), ["band", "bucket"], cap=cap if cap is not None else _BUCKET_CAP
    )


# Pathological-bucket guard: a bucket with s members expands to s(s-1)/2
# pairs, so ONE degenerate bucket (e.g. millions of empty/boilerplate docs
# hashing identically) is quadratic at 100 TB. Past the cap we emit the STAR
# over the bucket's min doc_id (s-1 pairs) instead of all pairs: every member
# still verifies against the hub, so downstream connected components
# (dedup_clusters) merges the bucket into one cluster exactly as the full
# pair set would — recall of the CLUSTERING is preserved while the pair
# count stays linear in bucket size.
_BUCKET_CAP = 64


def _pairs_in_buckets(bands: DataFrame, keys: list[str], cap: int = _BUCKET_CAP) -> DataFrame:
    """All (id_a < id_b) pairs of doc_ids sharing a bucket key; buckets
    larger than ``cap`` degrade to hub-and-spoke pairs (see _BUCKET_CAP).

    One shuffle (the groupBy); output deduplicated across buckets.
    """
    grouped = (
        bands.groupBy(*keys)
        .agg(F.expr("sort_array(collect_list(doc_id)) AS ids"))
        .where("size(ids) > 1")
    )
    return (
        grouped.selectExpr(
            f"""inline(CASE WHEN size(ids) <= {cap}
            THEN flatten(transform(sequence(0, size(ids) - 2),
                 i -> transform(sequence(i + 1, size(ids) - 1),
                 j -> struct(ids[i] AS id_a, ids[j] AS id_b))))
            ELSE transform(sequence(1, size(ids) - 1),
                 j -> struct(ids[0] AS id_a, ids[j] AS id_b))
            END)"""
        )
        .distinct()
    )


@register("dedup_lsh_bucket_stats")  # diagnostic over LSH internals → rows-only
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surfaces the LSH bucket-size distribution and how many buckets hit
    the pathological-bucket cap — the drop-visibility side of _BUCKET_CAP.

    A capped bucket means its pair expansion degraded to the linear star;
    operators watch this to catch boilerplate floods (cap hits spiking is a
    data-quality incident, not a silent slowdown).
    """
    bands = lsh_bands(load(spark, sf_dir, "documents"))
    sizes = bands.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bucket_size"))
    return sizes.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_size").alias("max_bucket"),
        F.sum((F.col("bucket_size") > _BUCKET_CAP).cast("long")).alias("capped_buckets"),
        F.sum(
            F.when(
                F.col("bucket_size") > _BUCKET_CAP,
                (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2 - (F.col("bucket_size") - 1)).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("pairs_avoided"),
    )


def _token_set_jaccard(a: F.Column, b: F.Column) -> F.Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / union


@register("dedup_near")  # approximate candidate generation → rows-only
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH candidates verified by exact
    token-set Jaccard ≥ 0.6.

    Verification joins the (small) candidate pair list back to the token
    arrays — at scale this is two hash joins on doc_id, never a cross
    product. Output is the verified pair list with its similarity.
    """
    docs = load(spark, sf_dir, "documents")
    cands = minhash_candidates(docs)
    # Verification: two SHUFFLE HASH joins on doc_id, with the pair list
    # hinted as the build side. NOT a broadcast: the candidate-pair count
    # grows linearly with corpus size (every near-dup contributes pairs),
    # so broadcasting it is a driver/executor OOM at 100 TB; and NOT the
    # planner's default either, which would broadcast the tokenized corpus
    # (fits under the threshold locally, is the 100 TB side in production).
    # shuffle_hash partitions both sides by the join key and builds the
    # hash table from the hinted (pair) side per partition — bounded memory
    # everywhere, no sort of the corpus (vs sort-merge), scales with
    # partition count.
    toks = docs.select("doc_id", F.array_distinct(tokens_col()).alias("tset"))
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("tset").alias("set_a"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("tset").alias("set_b"))
    return (
        cands.hint("shuffle_hash")
        .join(ta, "id_a")
        .hint("shuffle_hash")
        .join(tb, "id_b")
        .withColumn("jaccard", F.round(_token_set_jaccard(F.col("set_a"), F.col("set_b")), 4))
        .where(F.col("jaccard") >= 0.6)
        .select("id_a", "id_b", "jaccard")
    )


@register(
    "dedup_ngram",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                   AS tset
        FROM documents
        WHERE doc_id <= 300
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(LEN(list_intersect(a.tset, b.tset)) AS DOUBLE)
                 / LEN(list_distinct(list_concat(a.tset, b.tset))), 4) AS jaccard
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(LEN(list_intersect(a.tset, b.tset)) AS DOUBLE)
          / LEN(list_distinct(list_concat(a.tset, b.tset))) >= 0.4
    """,
)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over a bounded, lang-blocked pair space.

    The oracle twin makes the *verification metric* of the LSH pipeline
    independently checkable in SQL. Blocking on lang bounds the pair count;
    doc_id ≤ 300 keeps the oracle cross-join tractable. (In production the
    block key is the LSH bucket, not lang — see dedup_near.)
    """
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    toks = docs.select("doc_id", "lang", F.array_distinct(tokens_col()).alias("tset"))
    a = toks.select(F.col("doc_id").alias("id_a"), "lang", F.col("tset").alias("set_a"))
    b = toks.select(F.col("doc_id").alias("id_b"), "lang", F.col("tset").alias("set_b"))
    jac = _token_set_jaccard(F.col("set_a"), F.col("set_b"))
    return (
        a.join(b, "lang")
        .where(F.col("id_a") < F.col("id_b"))
        .where(jac >= 0.4)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_near_recall",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents
        WHERE doc_id <= 300
    ), s AS (
        SELECT doc_id,
               list_distinct(CASE WHEN LEN(toks) >= 3 THEN
                   list_transform(range(1, LEN(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
               ELSE [array_to_string(toks, ' ')] END) AS sset
        FROM t
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(LEN(list_intersect(a.sset, b.sset)) AS DOUBLE)
                 / LEN(list_distinct(list_concat(a.sset, b.sset))), 4) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE CAST(LEN(list_intersect(a.sset, b.sset)) AS DOUBLE)
          / LEN(list_distinct(list_concat(a.sset, b.sset))) >= 0.9
    """,
)
def dedup_near_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall contract, driver-checkable: every exact SHINGLE-Jaccard
    ≥ 0.9 pair (far above the banding S-curve midpoint ≈ 0.7) in a bounded
    doc range must ALSO be an LSH candidate pair.

    The metric is Jaccard over the same 3-token shingle sets the MinHash
    signatures estimate — NOT token-set Jaccard: a corpus drawn from a
    small vocabulary makes token SETS near-identical across unrelated docs
    while their shingle sequences (what near-dup detection actually
    targets) stay disjoint.

    The query emits the exact high-Jaccard pairs SEMI-JOINED to the LSH
    candidate set; the oracle is the exact pair list alone. The hash family
    is fixed and the pipeline deterministic, so equality holds unless the
    minhash/banding implementation breaks — a silently corrupted hash
    family shrinks the semi-join and the external row-count/hash compare
    goes red. (dedup_near itself stays rows-only: its full output depends
    on the approximate candidate set; THIS query pins the property that
    matters, recall over the certain-positive band.)

    Candidates run UNCAPPED here (cap=2^31): the production bucket cap
    deliberately degrades oversized-bucket pair sets to hub stars, which
    would drop non-hub pairs of large identical-doc clusters from the
    semi-join; over a ≤300-doc range the quadratic pair set is bounded and
    the full-recall property is exactly what this query certifies.
    """
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    sh = docs.select(
        "doc_id", F.array_distinct(_shingles(tokens_col())).alias("sset")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sset").alias("set_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sset").alias("set_b"))
    jac = _token_set_jaccard(F.col("set_a"), F.col("set_b"))
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(jac >= 0.9)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )
    cands = minhash_candidates(docs, cap=1 << 31)
    return exact.join(cands, ["id_a", "id_b"], "left_semi")


# ---------------------------------------------------------------------------
# SimHash dedup
# ---------------------------------------------------------------------------

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import types as T


@F.pandas_udf(T.LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash per document, Arrow-vectorized.

    Token hash = first 8 bytes of blake2b (deterministic across runs and
    machines, unlike Python's salted hash()); signature bit j is the sign
    of the sum over tokens of (+1/-1 per bit j).
    """
    out = np.zeros(len(texts), dtype=np.int64)
    for i, text in enumerate(texts):
        toks = text.split() if isinstance(text, str) else []
        if not toks:
            continue
        hs = np.frombuffer(
            b"".join(hashlib.blake2b(t.encode(), digest_size=8).digest() for t in toks),
            dtype=np.uint64,
        )
        # bits matrix: (n_tokens, 64) of {0,1} -> {+1,-1} summed per column
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(np.int32)
        votes = (2 * bits - 1).sum(axis=0)
        sig = np.uint64(0)
        for j in np.nonzero(votes > 0)[0]:
            sig |= np.uint64(1) << np.uint64(j)
        out[i] = np.int64(sig)
    return pd.Series(out)


@register("dedup_simhash")  # signature-based → rows-only
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ 3.

    Pigeonhole banding: split the 64-bit signature into 4×16-bit bands;
    any pair within distance 3 agrees on ≥1 band, so an equi-join per band
    finds all such pairs with zero cross product. bit_count verifies the
    exact distance JVM-side.
    """
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", _simhash64(F.col("text")).alias("sig")
    )
    bands = docs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.bucket")
    # In-bucket pair generation (see minhash_candidates): the signature UDF
    # runs once, not once per join side, and there is no self-join shuffle.
    # Members carry (doc_id, sig) so Hamming verification needs no join-back.
    grouped = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sig"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    # Same pathological-bucket guard as the MinHash path (_BUCKET_CAP):
    # oversized buckets degrade to hub-and-spoke pairs, linear in size.
    pair_structs = F.expr(
        f"""CASE WHEN size(ms) <= {_BUCKET_CAP}
        THEN flatten(transform(sequence(0, size(ms) - 2),
             i -> transform(sequence(i + 1, size(ms) - 1),
             j -> struct(ms[i] AS a, ms[j] AS b))))
        ELSE transform(sequence(1, size(ms) - 1),
             j -> struct(ms[0] AS a, ms[j] AS b))
        END"""
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("id_a"),
            F.col("p.b.doc_id").alias("id_b"),
            F.bit_count(F.col("p.a.sig").bitwiseXOR(F.col("p.b.sig"))).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .distinct()
    )


@register("dedup_clusters")  # iterative (label propagation) → rows-only
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over verified near-dup pairs: the step that
    turns a pair list into dedup DECISIONS (one survivor per cluster).

    Iterative min-label propagation: every node repeatedly adopts the
    smallest doc_id reachable over an edge, until a fixpoint. Each round is
    two hash joins + a min-aggregate — all DataFrame ops; the driver loop
    only controls iteration count (log-diameter rounds; near-dup clusters
    are tiny, so ≤ 8 rounds is generous). iter_materialize truncates the
    exponentially-growing lineage each round — the standard pattern for
    iterative algorithms on Spark (GraphX's CC does the same shape); the
    cut strategy (localCheckpoint / persist / reliable checkpoint) is a
    deployment conf, see plans/materialize.py.

    Output: (doc_id, cluster_id, is_survivor) for every doc in some
    near-dup cluster; survivor = the cluster's min doc_id.
    """
    pairs = QUERIES["dedup_near"](spark, sf_dir).select("id_a", "id_b")
    return _label_propagation(pairs)


def _label_propagation(pairs: DataFrame) -> DataFrame:
    """Min-label propagation to fixpoint over an (id_a, id_b) pair list —
    dedup_clusters' core, shared with dedup_clusters_verify so the
    contract exercises the REAL implementation on a pair set computed
    once (review r4 finding #6)."""
    # Undirected edge list, both directions.
    edges = (
        pairs.unionByName(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )
        .distinct()
    )
    # Kept (a): the loop's depth depends on a count the driver reads each round.
    edges = iter_materialize(edges)
    # Round-1 specialization (superstep-0 constant folding, same as the
    # graph tier's LPA/CC): with every initial label equal to the node
    # id, the first neighbor-min is just min(id_b) per id_a and the
    # least() against the own label is least(id_a, min(id_b)) — one
    # combine-enabled aggregate over the edge base replaces the label
    # join + left-join merge. min() is duplicate-insensitive, so this
    # needs no dup-free precondition; every node appears as an id_a in
    # the symmetrized edge set, so no left join is needed either.
    # Kept (a): as edges; each round's count compares against these labels.
    labels = iter_materialize(
        edges.groupBy(F.col("id_a").alias("doc_id"))
        .agg(F.min("id_b").alias("nbl"))
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.col("nbl")).alias("cluster_id"),
        )
    )
    for _ in range(7):
        # Each node's candidate label: min over neighbors' current labels.
        neighbor_min = (
            edges.join(labels, edges["id_b"] == labels["doc_id"])
            .groupBy(edges["id_a"].alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # Kept (a): the driver reads the changed count right below.
        new_labels = iter_materialize(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
    )


from pythonmapreduce_spark.plans.registry import QUERIES  # noqa: E402


@register(
    "dedup_clusters_verify",
    oracle=r"""
    -- groups restricted to shingle-width docs (>= 3 tokens, non-NULL):
    -- a zero/short-token or NULL-text duplicate pair is byte-identical
    -- but can never acquire a 3-shingle MinHash edge, so it would trip
    -- the never-split pin while both CC implementations are correct
    -- (review r4 finding #4)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_groups,
           CAST(0 AS BIGINT) AS n_split_exact_groups,
           CAST(0 AS BIGINT) AS n_label_mismatch
    FROM (
        SELECT md5(text) FROM documents
        WHERE text IS NOT NULL
          AND LEN(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) >= 3
        GROUP BY md5(text) HAVING COUNT(*) > 1
    )
    """,
)
def dedup_clusters_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence contract for ``dedup_clusters``, driver-checkable —
    the tripwire that retires the last rows-only query without an
    oracle-backed twin (round-3 ask #6).

    Two independent deterministic algorithms must agree on the SAME
    near-dup edge set: min-label propagation (dedup_clusters, O(diameter)
    rounds) and alternating large-star/small-star run to fixpoint
    (operators/graphs.bigstar_fixpoint, O(log n) rounds). Both converge
    to "every doc labeled with its component's minimum doc_id", so
    ``n_label_mismatch`` is literally 0 unless one of the two iterative
    implementations breaks (early-stopped loop, wrong join side, a
    materialization that dropped rows). Additionally every identical-text
    group of SHINGLE-WIDTH docs (>= 3 tokens, non-NULL — shorter
    byte-identical docs can never acquire a 3-shingle MinHash edge;
    independently countable by the oracle from documents alone) is a
    certain near-dup clique — identical shingle sets collide in all
    LSH bands and the hub-star cap preserves connectivity — so its
    members must land in ONE cluster: ``n_split_exact_groups`` = 0.

    One comparable row: (n_exact_groups, n_split_exact_groups,
    n_label_mismatch); the oracle recomputes the first column and pins
    the two zeros. Scale shape: both labelings are the already-bounded
    iterative jobs; the compare adds two digest-keyed joins over O(V)
    label rows."""
    from pythonmapreduce_spark.operators.graphs import bigstar_fixpoint

    # ONE MinHash-LSH run feeds both labelings; _label_propagation IS
    # dedup_clusters' implementation, so the contract exercises it.
    # Kept (d): lazy raises shuffle bytes 277,066 -> 534,558 B at sf0.01.
    pairs = iter_materialize(
        QUERIES["dedup_near"](spark, sf_dir).select("id_a", "id_b")
    )
    lp = _label_propagation(pairs).select("doc_id", "cluster_id")
    star = bigstar_fixpoint(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    star_labels = (
        star.select(F.col("a").alias("doc_id"), F.col("b").alias("root"))
        .unionByName(star.select(F.col("b").alias("doc_id"), F.col("b").alias("root")))
        .distinct()
    )
    mismatch = (
        lp.join(star_labels, "doc_id", "full")
        .where(
            F.col("cluster_id").isNull()
            | F.col("root").isNull()
            | (F.col("cluster_id") != F.col("root"))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_label_mismatch"))
    )
    eligible = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .where(
            F.size(F.filter(F.split("text", r"\s+"), lambda t: t != "")) >= 3
        )
        .select("doc_id", F.md5(F.col("text")).alias("dig"))
    )
    groups = (
        eligible.groupBy("dig")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    # every member of an identical-text group must share one LP cluster
    members = eligible.join(groups.select("dig"), "dig").join(lp, "doc_id", "left")
    split = members.groupBy("dig").agg(
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.sum(F.col("cluster_id").isNull().cast("int")).alias("n_unlabeled"),
    )
    group_stats = split.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_groups"),
        F.sum(
            ((F.col("n_clusters") != 1) | (F.col("n_unlabeled") > 0)).cast("long")
        ).alias("n_split_exact_groups"),
    )
    return group_stats.crossJoin(mismatch).select(
        "n_exact_groups",
        F.coalesce("n_split_exact_groups", F.lit(0)).cast("long").alias(
            "n_split_exact_groups"
        ),
        "n_label_mismatch",
    )


@register(
    "pipeline_clean_corpus",
    oracle=r"""
    WITH survivors AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ), clean AS (
        SELECT d.doc_id, d.lang, d.n_chars,
               LEN(list_filter(string_split_regex(d.text, '\s+'), t -> t <> ''))
                   AS n_tokens
        FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
        WHERE d.n_chars >= 100
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM clean
    GROUP BY lang
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data cleaning pipeline: length filter → exact
    dedup → per-language corpus stats.

    The end-to-end shape a 100 TB pretraining pipeline runs nightly; each
    stage is one of this engine's operators chained as DataFrames, so
    Catalyst fuses the whole thing into one plan (the dedup's hash shuffle
    is the only wide stage — filters run before it, pruning pushdown-style).

    Every text-derived column (digest, token count) is computed IN THE
    SCAN STAGE, so the dedup exchange carries (doc_id, lang, n_chars,
    n_tokens, 32-byte digest) — never the text itself (DEPLOYMENT §3's
    content-never-crosses-an-exchange rule; the pre-round-7 form selected
    the token count after the window and shipped full text through the
    dedup shuffle).
    """
    from pythonmapreduce_spark.sources.text_corpus import token_count_col

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 100)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            token_count_col().alias("n_tokens"),
            F.sha2("text", 256).alias("h"),
        )
    )
    w = W.partitionBy("h").orderBy("doc_id")
    clean = docs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


_DUP_SPANS_ORACLE = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
    FROM documents
), pos AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS p
    FROM toks WHERE len(t) >= 8
)
SELECT array_to_string(t[p:p+7], ' ') AS span,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM pos
GROUP BY 1
HAVING COUNT(DISTINCT doc_id) >= 2
"""


@register("dup_ngram_spans", oracle=_DUP_SPANS_ORACLE)
def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate detection: every 8-token span that occurs
    in >= 2 distinct documents, with document and occurrence counts.

    This is the signal behind exact-substring dedup of training corpora
    (boilerplate headers, license blocks, templated text that document-
    level dedup misses): explode each document into its overlapping 8-token
    windows — sequence() + explode keeps the blowup linear, |tokens| rows
    per doc, never quadratic — then a single hash aggregate on the span
    with a distinct-doc count. At 100 TB you group on xxhash64(span)
    instead of the span text (8 bytes shuffled per window instead of ~50)
    and keep min(span) per hash for reporting; the string form here is the
    oracle-checkable twin. Whole pipeline is two codegen stages around one
    exchange; no Python in the row path.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", tokens_col().alias("t"))
    spans = (
        docs.where(F.size("t") >= 8)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("t") - 7)).alias("p"),
            "t",
        )
        .select("doc_id", F.array_join(F.slice("t", F.col("p"), 8), " ").alias("span"))
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "dedup_containment",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                   AS tset
        FROM documents
        WHERE doc_id <= 300
    )
    SELECT a.doc_id AS id_inner, b.doc_id AS id_outer,
           ROUND(CAST(LEN(list_intersect(a.tset, b.tset)) AS DOUBLE)
                 / LEN(a.tset), 4) AS containment
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE CAST(LEN(list_intersect(a.tset, b.tset)) AS DOUBLE)
          / LEN(a.tset) >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set containment |A∩B| / |A| over the bounded,
    lang-blocked pair space — the doc-in-doc duplication signal
    symmetric Jaccard misses when sizes differ (a paragraph quoted
    inside a long page has high containment but low Jaccard; boilerplate
    and quote detection need the directed metric).

    Directed pairs (id_inner contained in id_outer), same blocking and
    bound as dedup_ngram; in production the block key is an LSH bucket
    and the same containment formula verifies candidates.
    """
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    toks = docs.select("doc_id", "lang", F.array_distinct(tokens_col()).alias("tset"))
    a = toks.select(F.col("doc_id").alias("id_inner"), "lang", F.col("tset").alias("set_a"))
    b = toks.select(F.col("doc_id").alias("id_outer"), "lang", F.col("tset").alias("set_b"))
    cont = F.size(F.array_intersect("set_a", "set_b")).cast("double") / F.size("set_a")
    return (
        a.join(b, "lang")
        .where(F.col("id_inner") != F.col("id_outer"))
        .where(cont >= 0.9)
        .select("id_inner", "id_outer", F.round(cont, 4).alias("containment"))
    )


@register(
    "dedup_keep_latest",
    oracle="""
    SELECT user_id, event_type, event_id,
           CAST(CAST(ts AS TIMESTAMP) AS VARCHAR) AS ts,
           value
    FROM (
        SELECT user_id, event_type, event_id, ts, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-wins dedup per (user, event_type) — THE production
    CDC/ingest dedup (a replayed or at-least-once feed keeps only the
    newest version of each key).

    One window sort per key partition, deterministic event_id tiebreak;
    at scale the partition key is the same entity key downstream joins
    use, so the shuffle is reused. Spark's WindowGroupLimit pushes the
    rn=1 filter into the sort: each partition keeps one row per key
    before any full materialization.
    """
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        load(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", "event_id", "ts", "value",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
        .withColumn("ts", F.col("ts").cast("string"))
    )


@register(
    "dedup_cross_snapshot",
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
def dedup_cross_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: keep only NEW-batch documents whose
    content digest does not already exist in the historical corpus — the
    asymmetric, cross-snapshot form of dedup_exact (within-set) that an
    incremental crawl runs on every delivery.

    Anti join on the 128-bit digest: only digests shuffle, never text —
    at 100 TB the historical side is a digest-only table (16 bytes/doc)
    that lives pre-partitioned on the digest key, so each new batch
    joins against it with one small-side exchange. Deterministic split
    (doc_id % 3) stands in for the old/new snapshot boundary.
    """
    docs = load(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 3 != 0).select(
        F.md5(F.col("text")).alias("digest")
    )
    new_batch = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.md5(F.col("text")).alias("digest"), "n_chars"
    )
    return new_batch.join(old, "digest", "left_anti").select("doc_id", "n_chars")


@register(
    "dedup_simhash_verify",
    oracle=f"""
    WITH dup AS (
        -- completeness is asserted only for groups the bucket cap keeps
        -- all-pairs: a group past _BUCKET_CAP ({_BUCKET_CAP}) degrades to
        -- hub-star by DESIGN, so its non-hub pairs are intentionally
        -- absent (skew-sweep confirmed: a 126-identical-doc corpus fires
        -- the old unrestricted pin while the implementation is correct).
        -- The cap/2 margin absorbs band-collision riders that could push
        -- a compliant group's bucket past the cap. It is a HEURISTIC, not
        -- a guarantee: an adversarial corpus with 32+ near-identical
        -- variants colliding in every band could still overflow — random
        -- or crawled corpora do not do this; if a fixture ever does, the
        -- red row correctly points at bucket composition, not the hash.
        SELECT md5(text) AS dig, COUNT(*) AS n
        FROM documents GROUP BY md5(text)
        HAVING COUNT(*) > 1 AND COUNT(*) <= {_BUCKET_CAP // 2}
    )
    SELECT CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_exact_pairs,
           CAST(0 AS BIGINT) AS n_missed
    FROM dup
    """,
)
def dedup_simhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash completeness contract, driver-checkable: every pair of
    byte-identical documents (identical text ⇒ identical 64-bit signature
    ⇒ Hamming 0 ⇒ the pigeonhole banding MUST surface it) appears in
    dedup_simhash's output — asserted for groups within half the bucket
    cap, where the all-pairs path is guaranteed (above the cap the
    hub-star degradation drops non-hub pairs BY DESIGN; asserting
    completeness there blames the cap for working — the skew robustness
    sweep caught exactly that with a 126-doc identical group).

    One comparable row: (n_exact_pairs, n_missed). The oracle counts the
    in-scope identical-text pairs independently (digest group sizes →
    n·(n−1)/2) and asserts n_missed = 0 literally, so a broken signature
    UDF, band split, or Hamming verify — any of which would drop
    certain-positive pairs — flips the Spark-side count and the value
    compare goes red. dedup_simhash itself stays rows-only: its
    near-miss pairs (Hamming 1-3) depend on the hash family; THIS query
    pins the certain band.
    """
    groups = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.md5(F.col("text")).alias("dig"))
        .groupBy("dig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= _BUCKET_CAP // 2))
    )
    exact_pairs = groups.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(ids) - 2),"
                " i -> transform(sequence(i + 1, size(ids) - 1),"
                " j -> struct(ids[i] AS id_a, ids[j] AS id_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    sim_pairs = QUERIES["dedup_simhash"](spark, sf_dir).select("id_a", "id_b")
    missed = exact_pairs.join(sim_pairs, ["id_a", "id_b"], "left_anti")
    return exact_pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs")
    ).crossJoin(missed.agg(F.count(F.lit(1)).cast("long").alias("n_missed")))


@register(
    "dedup_url",
    oracle=r"""
    WITH urls AS (
        SELECT doc_id,
               'https://' || source || '.example.' ||
               CASE WHEN doc_id % 3 = 0 THEN 'com' ELSE 'org' END ||
               '/docs/' || CAST(doc_id % 120 AS VARCHAR) ||
               CASE WHEN doc_id % 2 = 0
                    THEN '?utm_source=feed&x=1' ELSE '' END AS url
        FROM documents
    ),
    norm AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^https?://([^/?#]+)', 1))
               || rtrim(regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1), '/')
                   AS url_norm
        FROM urls
    )
    SELECT url_norm,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dups
    FROM norm GROUP BY url_norm
    """,
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-level URL dedup: normalize (lowercase host, strip the query
    string and trailing slash — tracking parameters do not change the
    page) and keep the first document per canonical URL. This is the
    cheapest dedup layer in a web pipeline — it runs BEFORE any content
    hashing because the key is metadata, not text.

    URLs are synthesized deterministically from doc metadata with planted
    collisions (path = doc_id mod 120), identically in both engines —
    the same convention url_parse uses. Scale shape: normalization is a
    scan-side regexp; the only exchange groups by the normalized-URL
    key (in production: its digest), shipping zero document content.
    min(doc_id) as survivor is the deterministic keep rule.
    """
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example."),
        F.when(F.col("doc_id") % 3 == 0, "com").otherwise("org"),
        F.lit("/docs/"),
        (F.col("doc_id") % 120).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, "?utm_source=feed&x=1").otherwise(""),
    )
    norm = F.concat(
        F.lower(F.regexp_extract(url, r"^https?://([^/?#]+)", 1)),
        F.rtrim(F.regexp_extract(url, r"^https?://[^/?#]+(/[^?#]*)", 1), F.lit("/")),
    )
    return (
        docs.select("doc_id", norm.alias("url_norm"))
        .groupBy("url_norm")
        .agg(
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_dups"),
        )
    )


@register(
    "remove_dup_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, md5(array_to_string(t[p:p+7], ' ')) AS span_key, p
        FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 7)) AS p
              FROM toks WHERE len(t) >= 8)
    ), dup AS (
        SELECT span_key FROM pos
        GROUP BY span_key HAVING COUNT(DISTINCT doc_id) >= 2
    ), covered AS (
        SELECT DISTINCT doc_id, cp FROM (
            SELECT p2.doc_id, UNNEST(generate_series(p2.p, p2.p + 7)) AS cp
            FROM pos p2 JOIN dup USING (span_key)
        )
    ), tokpos AS (
        SELECT doc_id, UNNEST(t) AS tok,
               UNNEST(generate_series(1, len(t))) AS tp
        FROM toks
    ), kept AS (
        SELECT k.doc_id, k.tok, k.tp
        FROM tokpos k LEFT JOIN covered c
          ON k.doc_id = c.doc_id AND k.tp = c.cp
        WHERE c.cp IS NULL
    ), rebuilt AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(tok, ' ' ORDER BY tp) AS cleaned
        FROM kept GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(LEN(tk.t) AS BIGINT) AS n_tokens,
           CAST(LEN(tk.t) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.cleaned, '') AS cleaned
    FROM toks tk LEFT JOIN rebuilt r ON tk.doc_id = r.doc_id
    """,
)
def remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as a REWRITE (Lee et al. 2022's ExactSubstr
    applied doc-side): every 8-token span occurring in ≥2 distinct
    documents marks its token positions covered in EVERY occurrence, and
    each document is rebuilt from its uncovered tokens — removing the
    duplicated material itself rather than dropping whole documents
    (dup_ngram_spans only REPORTS these spans; this consumes them).

    Scale shape: span identity travels as a 16-byte md5 digest, never
    span text; the duplicate-span set is found with one digest-keyed
    aggregation; coverage explodes to (doc_id, position) int pairs —
    8 ints per duplicated span occurrence, not text; and the rebuild is
    one per-doc sort of kept (position, token) pairs. The anti-join and
    rebuild both key on doc_id, so the heavy stages reuse one partition
    layout. On a 100 TB corpus this is exactly the suffix-array
    alternative that stays in relational land: bounded fan-out, digest
    shuffles, no global index build.
    """
    docs = load(spark, sf_dir, "documents")
    # Kept (d): lazy raises CPU min 0.269 -> 0.307 s at sf0.01 (0.027 s spread).
    toks = iter_materialize(
        docs.select(
            "doc_id", F.expr("filter(split(text, '\\\\s+'), t -> t != '')").alias("t")
        )
    )
    # span_key never leaves its engine (the output carries no keys), so
    # each side may use its own injective hash: here one multi-arg
    # xxhash64 over the 8 tokens — JVM-side, no per-span string
    # materialization (wall time is flat at test scale, where the
    # coverage explode and rebuild sort dominate; at 100 TB the avoided
    # string allocations matter). The oracle keeps md5 over the joined
    # span; the duplicate-span SETS agree because both hashes group by
    # span content. dup and covered each re-derive pos from the toks
    # checkpoint in their scan stage, which costs less than a checkpoint
    # pass of its own.
    pos = (
        toks.where(F.size("t") >= 8)
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 7)).alias("p"),
        )
        .selectExpr(
            "doc_id",
            "xxhash64(get(t, p - 1), get(t, p), get(t, p + 1), get(t, p + 2), "
            "get(t, p + 3), get(t, p + 4), get(t, p + 5), get(t, p + 6)) AS span_key",
            "p",
        )
    )
    dup = (
        pos.groupBy("span_key")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("span_key")
    )
    covered = (
        pos.join(dup, "span_key", "left_semi")
        .select("doc_id", F.explode(F.sequence("p", F.col("p") + 7)).alias("cp"))
        .distinct()
    )
    tokpos = toks.select(
        "doc_id", F.posexplode("t").alias("pos0", "tok")
    ).select("doc_id", "tok", (F.col("pos0") + 1).alias("tp"))
    kept = tokpos.join(
        covered,
        (tokpos.doc_id == covered.doc_id) & (tokpos.tp == covered.cp),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                lambda s: s.tok,
            ),
            " ",
        ).alias("cleaned"),
    )
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        )
    )


def _cross_snapshot_candidates(
    new_docs: DataFrame, old_docs: DataFrame, cap: int = _BUCKET_CAP
) -> DataFrame:
    """LSH candidate pairs ACROSS two snapshots only: each new doc pairs
    with historical docs sharing a band bucket — old×old and new×new
    pairs are never generated (history was already deduped when it was
    ingested; that work is not repeated).

    The historical band table is exactly the LSH index a production
    pipeline persists between ingests: at 100 TB the old side is a
    pre-computed, bucketed-on-(band,bucket) table read back per batch,
    and the only shuffle is the (band,bucket) join against the new
    batch's bands. Buckets cap their OLD side at ``cap`` sorted ids
    (the star-degradation analog of _BUCKET_CAP: a boilerplate flood in
    history can't go quadratic against a new batch that hashes into it).
    """
    bn = lsh_bands(new_docs).select(
        F.col("doc_id").alias("new_id"), "band", "bucket"
    )
    bo = (
        lsh_bands(old_docs)
        .groupBy("band", "bucket")
        .agg(F.slice(F.sort_array(F.collect_list("doc_id")), 1, cap).alias("old_ids"))
    )
    return (
        bn.join(bo, ["band", "bucket"])
        .select("new_id", F.explode("old_ids").alias("old_id"))
        .distinct()
    )


@register("dedup_near_incremental")  # LSH hash-family dependent → rows-only
def dedup_near_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR dedup: the new batch (doc_id % 3 = 0, the
    dedup_cross_snapshot convention) is checked for near-duplicates
    against the historical corpus via the cross-snapshot LSH band join —
    the fuzzy sibling of dedup_cross_snapshot's exact digest anti-join,
    and the shape every recurring crawl ingest runs (history's band
    table is the persisted index; only the new batch is hashed fresh).

    Candidates verify by exact token-set Jaccard ≥ 0.6 through the same
    shuffle_hash-hinted joins as dedup_near (pair list as build side —
    never broadcast, never a corpus sort). Output: new-batch documents
    with their nearest historical duplicates.
    """
    docs = load(spark, sf_dir, "documents")
    new_docs = docs.where(F.col("doc_id") % 3 == 0)
    old_docs = docs.where(F.col("doc_id") % 3 != 0)
    cands = _cross_snapshot_candidates(new_docs, old_docs)
    # Verify-side token sets are derived per SNAPSHOT SLICE (round 6) so
    # the %3 partition predicate reaches each scan — previously both
    # sides re-tokenized the full corpus (two extra unpruned passes).
    tn = new_docs.select(
        F.col("doc_id").alias("new_id"),
        F.array_distinct(tokens_col()).alias("set_n"),
    )
    to = old_docs.select(
        F.col("doc_id").alias("old_id"),
        F.array_distinct(tokens_col()).alias("set_o"),
    )
    return (
        cands.hint("shuffle_hash")
        .join(tn, "new_id")
        .hint("shuffle_hash")
        .join(to, "old_id")
        .withColumn(
            "jaccard", F.round(_token_set_jaccard(F.col("set_n"), F.col("set_o")), 4)
        )
        .where(F.col("jaccard") >= 0.6)
        .select("new_id", "old_id", "jaccard")
    )


@register(
    "dedup_near_incremental_recall",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents
        WHERE doc_id <= 300
    ), s AS (
        SELECT doc_id,
               list_distinct(CASE WHEN LEN(toks) >= 3 THEN
                   list_transform(range(1, LEN(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
               ELSE [array_to_string(toks, ' ')] END) AS sset
        FROM t
    )
    SELECT n.doc_id AS new_id, o.doc_id AS old_id,
           ROUND(CAST(LEN(list_intersect(n.sset, o.sset)) AS DOUBLE)
                 / LEN(list_distinct(list_concat(n.sset, o.sset))), 4) AS jaccard
    FROM s n JOIN s o
      ON n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
    WHERE CAST(LEN(list_intersect(n.sset, o.sset)) AS DOUBLE)
          / LEN(list_distinct(list_concat(n.sset, o.sset))) >= 0.9
    """,
)
def dedup_near_incremental_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the incremental LSH path, driver-checkable:
    every exact cross-snapshot shingle-Jaccard ≥ 0.9 pair in a bounded
    doc range must appear among the cross-snapshot band-join candidates
    (uncapped here, same reasoning as dedup_near_recall). A broken hash
    family, band split, or snapshot partition shrinks the semi-join and
    the external compare goes red — the incremental path gets the same
    tripwire the batch path has.
    """
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    new_docs = docs.where(F.col("doc_id") % 3 == 0)
    old_docs = docs.where(F.col("doc_id") % 3 != 0)
    sh = docs.select(
        "doc_id", F.array_distinct(_shingles(tokens_col())).alias("sset")
    )
    n = sh.join(new_docs.select("doc_id"), "doc_id").select(
        F.col("doc_id").alias("new_id"), F.col("sset").alias("set_n")
    )
    o = sh.join(old_docs.select("doc_id"), "doc_id").select(
        F.col("doc_id").alias("old_id"), F.col("sset").alias("set_o")
    )
    jac = _token_set_jaccard(F.col("set_n"), F.col("set_o"))
    # bounded ≤300-doc range: the old side broadcasts (BroadcastNestedLoop,
    # never a CartesianProduct — the engine-wide plan audit forbids those)
    exact = (
        n.crossJoin(F.broadcast(o))
        .where(jac >= 0.9)
        .select("new_id", "old_id", F.round(jac, 4).alias("jaccard"))
    )
    cands = _cross_snapshot_candidates(new_docs, old_docs, cap=(1 << 31) - 1)
    return exact.join(cands, ["new_id", "old_id"], "left_semi")


@register(
    "duplicate_cluster_sizes",
    oracle="""
    WITH clusters AS (
        SELECT md5(text) AS digest, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM documents GROUP BY md5(text)
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
    FROM clusters GROUP BY cluster_size
    """,
)
def duplicate_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many exact-dup clusters
    exist at each size, and how many documents dedup would remove — the
    histogram that distinguishes a benign long tail (many pairs) from a
    boilerplate flood (few giant clusters) and predicts dedup_exact's
    yield BEFORE running it. On web corpora this distribution is the
    power law whose head _BUCKET_CAP exists to survive.

    Two combine-enabled aggregations: digest → cluster size (16-byte
    keys), then size → counts over the |clusters|-sized intermediate.
    Nothing wider than a digest ever shuffles.
    """
    clusters = (
        load(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("digest"))
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("n_removable"),
    )


@register(
    "dedup_keep_n_versions",
    oracle="""
    WITH versioned AS (
        SELECT user_id, event_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS version_rank
    FROM versioned WHERE rn <= 3
    """,
)
def dedup_keep_n_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy dedup: keep the latest N=3 versions per key
    (newest first by (ts, id)) — the generalization of
    dedup_keep_latest's N=1 that version-retention policies (Delta
    VACUUM-style, model-checkpoint pruning, audit trails) actually run.

    Spark plans the rank-filter as WindowGroupLimit: each partition is
    pruned to ≤N rows per key BEFORE the window sort materializes full
    partitions — per-key state is N rows regardless of how hot the key
    is, which is what makes retention sweeps over 100 TB of versions
    feasible. Deterministic (ts, id) order on both engines.
    """
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", F.col("rn").cast("long").alias("version_rank"))
    )


@register(
    "winnow_fingerprints",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, UNNEST(range(1, LEN(t) - 2)) AS p, t
        FROM toks WHERE LEN(t) >= 8
    ),
    hashed AS (
        SELECT doc_id, p,
               ('0x' || substr(md5(array_to_string(t[p : p + 3], ' ')), 1, 8))::BIGINT
                   AS h
        FROM grams
    ),
    keyed AS (SELECT doc_id, p, h, h * 8 - p AS m FROM hashed),
    win AS (
        SELECT doc_id, p,
               MIN(m) OVER w5 AS mmin,
               ARG_MIN(p, m) OVER w5 AS pmin,
               LEAD(p, 4) OVER (PARTITION BY doc_id ORDER BY p) AS lead4
        FROM keyed
        WINDOW w5 AS (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
    ),
    selected AS (
        SELECT DISTINCT doc_id, pmin, (mmin + pmin) // 8 AS fp
        FROM win WHERE lead4 IS NOT NULL
    ),
    gc AS (SELECT doc_id, COUNT(*) AS n_grams FROM hashed GROUP BY doc_id),
    sc AS (SELECT doc_id, COUNT(*) AS n_selected FROM selected GROUP BY doc_id)
    SELECT gc.doc_id,
           CAST(gc.n_grams AS BIGINT) AS n_grams,
           CAST(sc.n_selected AS BIGINT) AS n_selected,
           ROUND(sc.n_selected * 1.0 / (gc.n_grams - 4), 4) AS density
    FROM gc JOIN sc ON gc.doc_id = sc.doc_id
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken — the
    MOSS algorithm): hash every 4-token k-gram, then in each window of 5
    consecutive k-grams keep the MINIMUM hash (rightmost on ties) — the
    guarantee-bearing sampler behind plagiarism detection and local
    document fingerprinting: any shared run of >= 8 tokens between two
    documents is guaranteed to share a selected fingerprint, while only
    ~2/(w+1) of positions are kept. The rightmost-min tiebreak is folded
    into one integer key m = h*8 - p (valid because position spread
    within a window is < 8), so the per-window argmin is an ordinary
    MIN(struct) — deterministic on both engines with no float anywhere.

    Emits per-doc selection stats (grams, selected, density ~ 1/3): on
    this vocabulary-random corpus cross-doc fingerprint collisions are
    near-zero, so the per-doc form pins every window/argmin decision
    densely instead of hashing an almost-empty pair table; matching runs
    the tfidf_cosine_pairs posting-join shape over `fp` when used for
    detection. Scale: grams explode linearly in the scan stage, selection
    is one per-doc window sort, only (doc_id, fp) ints would ever reach
    a matching exchange.
    """
    from pyspark.sql import Window

    toks = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr("filter(split(text, '\\\\s+'), x -> x != '')").alias("t"),
        )
        .where(F.size("t") >= 8)
    )
    # n_grams = size(t) - 3 BY CONSTRUCTION (one gram per explode
    # position), so the count rides the scan as a per-row constant — the
    # pre-reshape separate groupBy over the re-derived gram table was a
    # second corpus scan with zero runtime reuse.
    hashed = (
        toks.select(
            "doc_id",
            (F.size("t") - 3).cast("long").alias("n_grams"),
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 3)).alias("p"),
        )
        .selectExpr(
            "doc_id",
            "n_grams",
            "p",
            "CAST(conv(substring(md5(array_join(slice(t, p, 4), ' ')), 1, 8), 16, 10)"
            " AS BIGINT) AS h",
        )
    )
    keyed = hashed.withColumn("m", F.col("h") * 8 - F.col("p"))
    word = Window.partitionBy("doc_id").orderBy("p")
    w5 = word.rowsBetween(0, 4)
    win = keyed.select(
        "doc_id",
        "n_grams",
        "p",
        F.min(F.struct("m", "p")).over(w5).alias("mn"),
        F.lead("p", 4).over(word).alias("lead4"),
    )
    selected = (
        win.where(F.col("lead4").isNotNull())
        .select(
            "doc_id",
            "n_grams",
            F.col("mn.p").alias("pmin"),
            F.expr("(mn.m + mn.p) div 8").alias("fp"),
        )
        .distinct()
    )
    return (
        selected.groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).cast("long").alias("n_selected"))
        .select(
            "doc_id",
            "n_grams",
            "n_selected",
            F.round(F.col("n_selected") * 1.0 / (F.col("n_grams") - 4), 4).alias(
                "density"
            ),
        )
    )


@register(
    "dedup_intradoc_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    positions AS (
        SELECT doc_id, t, UNNEST(range(1, LEN(t))) AS p
        FROM toks WHERE LEN(t) >= 2
    ),
    spans AS (
        SELECT doc_id, p, md5(array_to_string(t[p : p + 1], ' ')) AS sk
        FROM positions
    ),
    firsts AS (
        SELECT doc_id, sk, MIN(p) AS p0
        FROM spans GROUP BY doc_id, sk
    ),
    covered AS (
        SELECT DISTINCT s.doc_id, UNNEST([s.p, s.p + 1]) AS cp
        FROM spans s JOIN firsts f
          ON s.doc_id = f.doc_id AND s.sk = f.sk
        WHERE s.p >= f.p0 + 2
    )
    SELECT tk.doc_id,
           CAST(LEN(tk.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.n_removed, 0) AS BIGINT) AS n_removed
    FROM toks tk
    LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY doc_id
    ) c ON tk.doc_id = c.doc_id
    """,
)
def dedup_intradoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition removal: a 2-token span repeating inside
    the SAME document keeps its first occurrence and marks every later
    non-overlapping occurrence's positions for removal — the
    within-document cleanup (navigation loops, stutter, template echoes)
    next to remove_dup_spans' CROSS-document rewrite, and the removal
    form of repetition_filter's keep/drop flag (Gopher-style filters
    flag; this cleans).

    Spans occurring again at p >= first + span_len are disjoint from the
    kept first occurrence, so the rule is deterministic without
    interval arithmetic; overlapping tails between later occurrences
    union away in the DISTINCT. Scale shape is remove_dup_spans': span
    keys travel as digests, coverage as (doc_id, position) ints, and
    EVERY stage keys on doc_id — one partition layout end to end, no
    cross-doc exchange at all (the span table never leaves its doc).
    The first-occurrence position is a MIN window over (doc_id, sk),
    not a groupBy+self-join: the join form re-derived the exploded span
    table on both sides (two corpus scans with zero runtime reuse) for
    what is one pass over one shuffle of the same key.
    """
    toks = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.expr("filter(split(text, '\\\\s+'), x -> x != '')").alias("t"),
        )
    )
    spans = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("p"),
        )
        .select(
            "doc_id",
            "p",
            F.md5(F.array_join(F.slice("t", F.col("p"), 2), " ")).alias("sk"),
        )
    )
    first_in_doc = W.partitionBy("doc_id", "sk")
    covered = (
        spans.withColumn("p0", F.min("p").over(first_in_doc))
        .where(F.col("p") >= F.col("p0") + 2)
        .select("doc_id", F.explode(F.array("p", F.col("p") + 1)).alias("cp"))
        .distinct()
    )
    removed = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_removed")
    )
    return toks.join(removed, "doc_id", "left").select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
    )


@register(
    "dedup_survivorship",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, n_chars
                   -- TRY_CAST + pinned NULLS FIRST: a malformed source
                   -- name (non-numeric suffix) must degrade to the same
                   -- deterministic order on both engines — Spark's cast
                   -- yields NULL (ASC default NULLS FIRST), DuckDB's
                   -- strict CAST would error and its ASC default is
                   -- NULLS LAST (ADVICE r3)
                   ORDER BY TRY_CAST(SUBSTR(source, 4) AS BIGINT)
                                NULLS FIRST, doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY lang, n_chars) AS grp
        FROM documents
    )
    SELECT source,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_survivors,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lost,
           CAST(SUM(CASE WHEN rn = 1 AND grp > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contested_wins
    FROM ranked
    GROUP BY source
    """,
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship rules (MDM golden-record selection): when several
    records match the same entity, the SURVIVOR is chosen by an explicit
    precedence policy — source priority first (lower src-number = more
    trusted feed), then a stable id tiebreak — rather than
    dedup_keep_latest's recency-only rule. The match key here is the
    (lang, n_chars) blocking key standing in for an entity-resolution
    linkage (the fuzzy_match / dedup tiers produce the real one); the
    policy layer is what this query certifies.

    Per-source survivor/lost/contested-win counts make the precedence
    effect auditable (a trusted source should win its collisions).
    Scale shape: one window over the match key — WindowGroupLimit-class
    work, no pair generation; the rules would arrive as a broadcast
    priority table without changing the plan (here the rank is parsed
    from the source name so both engines derive it identically).
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "n_chars").orderBy(
        # try_cast + asc_nulls_first (Spark's ASC default, made explicit)
        # mirrors the oracle's TRY_CAST ... NULLS FIRST: a source name
        # whose suffix fails the long parse degrades to NULL and sorts
        # first on both engines. A plain cast would THROW under the
        # session's pinned ANSI mode instead of yielding NULL (review r4
        # second pass), so the documented degradation needs try_cast here.
        F.expr("try_cast(substr(source, 4) AS long)").asc_nulls_first(),
        "doc_id",
    )
    wg = Window.partitionBy("lang", "n_chars")
    ranked = docs.select(
        "source",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wg).alias("grp"),
    )
    return ranked.groupBy("source").agg(
        F.sum((F.col("rn") == 1).cast("long")).cast("long").alias("n_survivors"),
        F.sum((F.col("rn") > 1).cast("long")).cast("long").alias("n_lost"),
        F.sum(((F.col("rn") == 1) & (F.col("grp") > 1)).cast("long"))
        .cast("long")
        .alias("n_contested_wins"),
    )
