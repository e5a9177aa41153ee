"""Search relevance and language-model scoring over the documents corpus.

Extends the text-analysis tier (tfidf_terms, quality_score) with the two
ranking primitives a retrieval/curation stack actually serves:

- bm25_rank: full Okapi BM25 (idf × tf saturation × length
  normalization) for a fixed query, the standard lexical ranker.
- lm_perplexity: corpus-trained token-bigram language model scoring
  each document by average log-probability — the classic
  "perplexity-filter" quality signal for LLM training data (documents
  whose token transitions are improbable under the corpus LM are noise
  candidates).

Both are pure Column-expression plans: tokenization, bigram assembly and
probability math all run inside whole-stage codegen; Python never touches
a row. BM25 scores in the scan stage: each document row carries its own
per-query-term counts, the corpus statistics (N, avgdl and the df counts)
are observed by the pass that materializes those rows and enter the
score as literals, and the corpus itself never shuffles.
"""

from __future__ import annotations

import operator
from functools import reduce

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.sources.text_corpus import tokens_col
from pythonmapreduce_spark.plans.materialize import iter_materialize, materialize_observed
from pythonmapreduce_spark.plans.registry import register

# Fixed query for the registered BM25 ranking (terms from the corpus vocab).
_QUERY_TERMS = ["join", "table", "spark"]
_K1, _B = 1.2, 0.75

_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bigram) pairs, one row per adjacent token pair.

    Tokenization happens ONCE into a named ``toks`` column before the
    array expressions touch it — inlining ``filter(split(text))`` into
    each element access makes Catalyst re-tokenize per INDEX, i.e.
    O(len²) per document. The two-step projection keeps bigram assembly
    linear (subexpression reuse inside one whole-stage-codegen stage, no
    shuffle).

    Bigrams are built by zipping the two offset slices (ngram_bigrams'
    idiom) rather than ``transform(sequence(1, size-1), element_at)``:
    under Spark 4's default ANSI mode the sequence form is fatal on 0/1-
    token documents — ``sequence(1, 0)`` DESCENDS to ``[1, 0]`` and
    ``element_at(toks, 0)`` throws — while ``slice`` with a 0 length
    yields an empty array, matching the DuckDB oracles'
    ``generate_series(1, 0) = []``. Identical output for every document
    with ≥2 tokens."""
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr("filter(split(text, '\\\\s+'), t -> t != '')").alias("toks"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), "
                    "slice(toks, 2, greatest(size(toks) - 1, 0)), "
                    "(a, b) -> concat(a, ' ', b))"
                )
            ).alias("bigram"),
        )
    )


@register(
    "bm25_rank",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl FROM docs),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(LEN(toks)) AS avgdl
        FROM docs
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, UNNEST(toks) AS term FROM docs)
        WHERE term IN ('join', 'table', 'spark')
        GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term,
               LN(1 + ((SELECT n_docs FROM stats) - COUNT(*) + 0.5)
                      / (COUNT(*) + 0.5)) AS idf
        FROM tf GROUP BY term
    )
    SELECT tf.doc_id,
           ROUND(SUM(idf.idf * tf.tf * ({_K1} + 1)
                     / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                         / (SELECT avgdl FROM stats)))),
                 4) + 0.0 AS bm25
    FROM tf
    JOIN idf USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT 15
    """,
)
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-15 for the fixed query ``join table spark``.

    Plan shape for 100 TB: ONE corpus pass — a single scan emits
    (doc_id, doc length, per-query-term counts), materialized at
    integer-array width. That pass also observes the corpus statistics
    (N, avgdl, df), which the score reads as literals, so the plan has
    no exchange and no join: each document is scored in place, with no
    explode, no (doc, term) or df shuffle, no doc-length join and no
    broadcast of a corpus aggregate. TakeOrderedAndProject keeps k rows
    per partition. Scores round to 4dp on both engines before the top-k
    order so float-summation drift cannot flip the ranking tiebreak
    (doc_id).
    """
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for the fixed query — bm25_rank's scorer, shared
    with hybrid_search_rrf's lexical leg.

    Every input of a document's score but the corpus statistics sits in
    its own row, so all per-document work runs in the scan stage: the
    materialized base holds (doc_id, dl, tf), where ``tf`` counts each
    query term in ``_QUERY_TERMS`` order. The pass that materializes the
    base also observes n_docs, avgdl and each term's df, and the score
    reads them as literals: the plan has no exchange, no join, no
    (doc_id, term) row, df table or doc-length join.

    Documents with no query term are dropped BEFORE the score: under ANSI
    a corpus of blank texts (avgdl = 0) therefore never reaches the
    length division. A term a document lacks adds exactly 0.0, which is
    the oracle's sum over matched terms only.
    """
    terms_sql = ", ".join(f"'{t}'" for t in _QUERY_TERMS)
    # Kept (a): the pass also yields the corpus statistics the score reads;
    # (d) lazy raises CPU min 0.074 -> 0.145 s at sf0.01.
    base, stats = materialize_observed(
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr("filter(split(text, '\\\\s+'), t -> t != '')").alias("toks"),
        )
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.expr(
                f"transform(array({terms_sql}), "
                "q -> CAST(size(filter(toks, t -> t = q)) AS BIGINT))"
            ).alias("tf"),
        ),
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count_if(F.col("tf")[i] > 0).alias(f"df{i}")
            for i in range(len(_QUERY_TERMS))
        ],
    )
    n_docs = F.lit(stats["n_docs"]).cast("long")
    norm = _K1 * (1 - _B + _B * F.col("dl") / F.lit(stats["avgdl"]).cast("double"))
    score = reduce(
        operator.add,
        [
            F.when(
                F.col("tf")[i] > 0,
                _idf(n_docs, F.lit(stats[f"df{i}"]).cast("long"))
                * F.col("tf")[i] * (_K1 + 1) / (F.col("tf")[i] + norm),
            ).otherwise(0.0)
            for i in range(len(_QUERY_TERMS))
        ],
    )
    return base.where(F.exists("tf", lambda x: x > 0)).select(
        "doc_id", (F.round(score, 4) + 0.0).alias("bm25")
    )


def _idf(n_docs: Column, df: Column) -> Column:
    """BM25's idf, ln(1 + (N − df + 0.5) / (df + 0.5)), as the oracles
    write it."""
    return F.log(1 + (n_docs - df + 0.5) / (df + 0.5))


@register(
    "lm_perplexity",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    grams AS (
        SELECT doc_id, UNNEST(
            list_transform(generate_series(1, LEN(toks) - 1),
                           i -> toks[i] || ' ' || toks[i + 1])
        ) AS bigram
        FROM docs
    ),
    c2 AS (SELECT bigram, COUNT(*) AS c2 FROM grams GROUP BY bigram),
    c1 AS (
        SELECT split_part(bigram, ' ', 1) AS w1, SUM(c2) AS c1
        FROM c2 GROUP BY w1
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(LN(c2.c2 / c1.c1)), 4) + 0.0 AS avg_logp
    FROM grams g
    JOIN c2 USING (bigram)
    JOIN c1 ON split_part(g.bigram, ' ', 1) = c1.w1
    GROUP BY g.doc_id
    """,
)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM average log-probability per document.

    Two logical passes over one tokenization: (1) corpus bigram counts
    c2(w1,w2) and first-position unigram counts c1(w1) = Σ_w2 c2 — both
    derived from the SAME bigram multiset so the model normalizes exactly;
    (2) each document's bigrams join their probabilities and average.
    The model tables are vocabulary-sized (≪ corpus at scale) and join on
    the bigram/unigram key. ONE corpus pass: the explode collapses
    immediately into the per-(doc, bigram) count table, which feeds BOTH
    the model aggregation and the scoring join. The per-doc average weights each
    distinct bigram by its count, which is exactly the per-occurrence
    average. ln on both engines; 4dp round absorbs summation-order
    drift.
    """
    # Kept (d): lazy raises shuffle bytes 205,157 -> 387,026 B at sf0.01.
    tfd = iter_materialize(
        _doc_bigrams(spark, sf_dir)
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c2 = tfd.groupBy("bigram").agg(F.sum("cnt").alias("c2"))
    c1 = (
        c2.groupBy(F.split("bigram", " ").getItem(0).alias("w1"))
        .agg(F.sum("c2").alias("c1"))
    )
    return (
        tfd.join(c2, "bigram")
        .join(c1, F.split(F.col("bigram"), " ").getItem(0) == F.col("w1"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            (
                F.round(
                    F.sum(F.col("cnt") * F.log(F.col("c2") / F.col("c1")))
                    / F.sum("cnt"),
                    4,
                )
                + 0.0
            ).alias("avg_logp"),
        )
    )


@register(
    "tfidf_cosine_pairs",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    grams AS (
        SELECT doc_id, UNNEST(
            list_transform(generate_series(1, LEN(toks) - 1),
                           i -> toks[i] || ' ' || toks[i + 1])
        ) AS g
        FROM docs
    ),
    tf AS (
        SELECT doc_id, g, COUNT(*)::DOUBLE AS tf FROM grams GROUP BY doc_id, g
    ),
    df AS (SELECT g, COUNT(*) AS df FROM tf GROUP BY g),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    w AS (
        SELECT tf.doc_id, tf.g,
               tf.tf * LN((SELECT n FROM n) * 1.0 / df.df) AS w
        FROM tf JOIN df USING (g)
        WHERE df.df BETWEEN 2 AND 100
    ),
    nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nn FROM w GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(a.w * b.w) AS dot
        FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2, ROUND(dot / (x.nn * y.nn), 4) + 0.0 AS cosine
    FROM pairs JOIN nrm x ON d1 = x.doc_id JOIN nrm y ON d2 = y.doc_id
    WHERE ROUND(dot / (x.nn * y.nn), 4) >= 0.3
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse cosine similarity in TF-IDF bigram space — the
    classic MapReduce pairwise-similarity algorithm (inverted-index join),
    the lexical twin of the dense-embedding ``dup_embedding``.

    Scale shape: partial dot products are generated per POSTING LIST
    (equi-join on the bigram key), never per document pair, so work is
    Σ |posting|² over surviving terms — and the df ∈ [2, 100] band prune
    is the load-bearing bound: df=1 terms cannot pair, df>100 hub terms
    (stopword-grade) would quadratically dominate while contributing
    near-zero idf weight. This prefix-filtering family is how all-pairs
    similarity stays tractable on a 100 TB corpus. One shuffle on the
    term key, one on the (d1, d2) pair key, norms broadcast-joined.

    The narrow (doc_id, g, w) weight table is checkpointed, never the
    corpus text: FOUR consumers read it (nrm's n1/n2 legs and both sides
    of the posting-list self-join). Its checkpoint pass plans 3 documents
    scans, one per consumer of tf (the join, df and n_docs); the final
    plan reads only the checkpoint.
    """
    grams = _doc_bigrams(spark, sf_dir).withColumnRenamed("bigram", "g")
    tf = grams.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df_counts = tf.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select(F.countDistinct("doc_id").alias("n"))
    # Kept (d): at sf0.1 lazy bytes vary by run, up to 3,480,061 B vs 3,478,771 B.
    w = iter_materialize(
        tf.join(df_counts, "g")
        .where(F.col("df").between(2, 100))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "g",
            (F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))).alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nn"))
    a = w.select(F.col("doc_id").alias("d1"), "g", F.col("w").alias("w1"))
    b = w.select(F.col("doc_id").alias("d2"), F.col("g").alias("g2"), F.col("w").alias("w2"))
    pairs = (
        a.join(b, (F.col("g") == F.col("g2")) & (F.col("d1") < F.col("d2")))
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    cos = (
        pairs.join(nrm.withColumnsRenamed({"doc_id": "d1", "nn": "n1"}), "d1")
        .join(nrm.withColumnsRenamed({"doc_id": "d2", "nn": "n2"}), "d2")
        .select(
            "d1",
            "d2",
            (F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 4) + 0.0).alias(
                "cosine"
            ),
        )
    )
    return cos.where(F.col("cosine") >= 0.3)


@register(
    "char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM documents
    ),
    cc AS (
        SELECT doc_id, ch, COUNT(*)::DOUBLE AS c
        FROM chars GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, SUM(c) AS len FROM cc GROUP BY doc_id)
    SELECT cc.doc_id,
           ROUND(LOG2(tot.len) - SUM(cc.c * LOG2(cc.c)) / tot.len, 4) + 0.0
               AS entropy
    FROM cc JOIN tot ON cc.doc_id = tot.doc_id
    GROUP BY cc.doc_id, tot.len
    """,
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's character distribution — the
    cheap "is this text or noise" curation signal (binary junk and
    base64 blobs score near log2(alphabet); natural text sits in a
    narrow band).

    Implemented as an Arrow-batched pandas_udf: the per-document
    character histogram is a numpy bincount, three orders of magnitude
    cheaper than exploding one row per CHARACTER through a shuffle
    (the relational formulation the oracle uses — fine at sf0.01,
    catastrophic at 100 TB where it multiplies row count by document
    length). This is the justified-UDF case: per-row math too dense for
    Column expressions, no aggregation state, perfectly batchable.
    Identical H = log2(L) - Σ c·log2(c)/L factoring on both engines.
    """
    @F.pandas_udf("double")
    def entropy(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            if not t:
                out.append(0.0)
                continue
            _, counts = np.unique(list(t), return_counts=True)
            c = counts.astype("float64")
            length = c.sum()
            out.append(float(np.log2(length) - (c * np.log2(c)).sum() / length))
        return pd.Series(out)

    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", (F.round(entropy(F.col("text")), 4) + 0.0).alias("entropy"))
    )


@register(
    "feature_hashing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({_TOKS}) AS t FROM documents
    ),
    b AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 8))::BIGINT % 32 AS bucket
        FROM toks
    ),
    c AS (
        SELECT doc_id, bucket, COUNT(*) AS n FROM b GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           array_to_string(
               list_sort(list(lpad(bucket::VARCHAR, 2, '0') || ':' || n)),
               ' ') AS fvec
    FROM c GROUP BY doc_id
    """,
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: fixed 32-bucket sparse count features per
    document with NO vocabulary pass — tokens hash straight to buckets,
    so the featurizer is stateless, single-pass, and its output width is
    independent of corpus vocabulary (the property that lets a 100 TB
    featurization run without a driver-side dictionary or a second scan).

    The bucket hash must be engine-portable for the oracle: the first 8
    hex digits of md5(token) parsed as an integer (md5 is bit-identical
    everywhere; Spark xxhash64 and DuckDB hash() are not each other's).
    Emitted as a sorted 'bucket:count' string — lexical sort of
    zero-padded bucket labels is identical in both engines, and the
    driver canonicalizer rejects array cells.
    """
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.expr("filter(split(text, '\\\\s+'), t -> t != '')")).alias("t"),
    )
    bucket = F.expr("conv(substring(md5(t), 1, 8), 16, 10)").cast("long") % 32
    counts = (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.groupBy("doc_id").agg(
        F.array_join(
            F.sort_array(
                F.collect_list(
                    F.concat(F.lpad(F.col("bucket").cast("string"), 2, "0"), F.lit(":"), F.col("n"))
                )
            ),
            " ",
        ).alias("fvec")
    )


@register(
    "inverted_index_positional",
    oracle=r"""
    WITH tokpos AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
                   AS word,
               UNNEST(generate_series(1,
                   LEN(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))))
                   AS pos
        FROM documents
    )
    SELECT word,
           CAST(COUNT(*) AS BIGINT) AS n_postings,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           array_to_string(
               list_sort(list(lpad(doc_id::VARCHAR, 6, '0') || ':'
                              || lpad(pos::VARCHAR, 4, '0')))[1:20],
               ' ') AS postings_head
    FROM tokpos
    GROUP BY word
    """,
)
def inverted_index_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL inverted index: word → (doc, position) postings — the
    structure phrase queries and proximity ranking actually need, one
    step past the reference's doc-level inverted index
    (/root/reference/mapreduce_inverted.py:3-11 keeps only the file set;
    positions are what let 'query engine' match as a phrase).

    posexplode keeps the token position from the scan; one combine-
    enabled aggregation on the word key builds each posting list. The
    emitted head is the first 20 postings in (zero-padded doc:pos) order
    — lexically sorted identically in both engines, and bounded so the
    driver compare never ships full posting lists for stopword-like
    tokens (at 100 TB, posting lists are stored columnar and consumed by
    bm25_rank-style term lookups, not collected).
    """
    tokpos = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(tokens_col()).alias("pos0", "word"),
    )
    posting = F.concat(
        F.lpad(F.col("doc_id").cast("string"), 6, "0"),
        F.lit(":"),
        F.lpad((F.col("pos0") + 1).cast("string"), 4, "0"),
    )
    return (
        tokpos.select("word", "doc_id", posting.alias("p"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_postings"),
            F.count_distinct("doc_id").cast("long").alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("p")), 1, 20), " "
            ).alias("postings_head"),
        )
    )


@register(
    "negative_sampling_pairs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        FROM documents WHERE doc_id <= 50
    ),
    pos AS (
        SELECT DISTINCT t[p] AS center, t[p + 1] AS context
        FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 1)) AS p
              FROM toks WHERE len(t) >= 2)
        WHERE t[p] <> t[p + 1]
    ),
    vocab AS (
        SELECT word, ROW_NUMBER() OVER (ORDER BY word) - 1 AS wid,
               COUNT(*) OVER () AS vsize
        FROM (SELECT DISTINCT UNNEST(t) AS word FROM toks)
    ),
    neg AS (
        SELECT p.center, p.context, k.k,
               ('0x' || substr(md5(p.center || ':' || p.context || ':' || k.k), 1, 8))
                   ::BIGINT AS h
        FROM pos p, (SELECT UNNEST(range(2)) AS k) k
    )
    SELECT n.center, n.context, CAST(n.k AS BIGINT) AS neg_slot,
           v.word AS negative
    FROM neg n JOIN vocab v ON v.wid = n.h % v.vsize
    WHERE v.word <> n.center AND v.word <> n.context
    """,
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training-pair generation with negative sampling — the
    word2vec/contrastive data-prep shape: distinct (center, context)
    positives from adjacent-token windows, and k=2 deterministic
    negatives per positive drawn from the vocabulary by hash (a real
    trainer draws from the unigram^0.75 table; the HASH-indexed draw is
    the engine-stable equivalent, and the plan is identical — an
    integer-keyed join into a vocab table). Collisions with the pair's
    own words are dropped, as trainers do.

    Scale shape: positives collapse by DISTINCT on (center, context)
    digest-sized keys; the vocab table is id-indexed once (vocabulary-
    sized, broadcastable); negative assignment is a pure equi-join on
    the hash-derived id — no RNG state, no sampling skew, reproducible
    across any partitioning. Bounded here to 50 docs to keep the driver
    compare light.
    """
    toks = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 50)
        .select("doc_id", tokens_col().alias("t"))
    )
    pos = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("p"), "t"
        )
        .select(
            F.element_at("t", F.col("p")).alias("center"),
            F.element_at("t", F.col("p") + 1).alias("context"),
        )
        .where(F.col("center") != F.col("context"))
        .distinct()
    )
    from pyspark.sql.window import Window as _W

    vocab = (
        toks.select(F.explode("t").alias("word"))
        .distinct()
        .select(
            "word",
            (F.row_number().over(_W.orderBy("word")) - 1).alias("wid"),
        )
    )
    vsize = vocab.agg(F.count(F.lit(1)).alias("vsize"))
    neg = (
        pos.crossJoin(F.broadcast(spark.range(2).select(F.col("id").alias("k"))))
        .withColumn(
            "h",
            F.expr(
                "cast(conv(substring(md5(concat(center, ':', context, ':', k)), 1, 8), 16, 10) as bigint)"
            ),
        )
        .crossJoin(F.broadcast(vsize))
        .withColumn("wid", F.col("h") % F.col("vsize"))
    )
    return (
        neg.join(F.broadcast(vocab), "wid")
        .where((F.col("word") != F.col("center")) & (F.col("word") != F.col("context")))
        .select(
            "center",
            "context",
            F.col("k").cast("long").alias("neg_slot"),
            F.col("word").alias("negative"),
        )
    )


_RRF_K = 60        # reciprocal-rank-fusion damping constant (standard)
_RRF_DEPTH = 100   # per-ranker shortlist depth fused


@register(
    "hybrid_search_rrf",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl FROM docs),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(LEN(toks)) AS avgdl
        FROM docs
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, UNNEST(toks) AS term FROM docs)
        WHERE term IN ('join', 'table', 'spark')
        GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term,
               LN(1 + ((SELECT n_docs FROM stats) - COUNT(*) + 0.5)
                      / (COUNT(*) + 0.5)) AS idf
        FROM tf GROUP BY term
    ),
    lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM (
            SELECT tf.doc_id,
                   ROUND(SUM(idf.idf * tf.tf * ({_K1} + 1)
                             / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                                 / (SELECT avgdl FROM stats)))),
                         4) AS bm25
            FROM tf JOIN idf USING (term) JOIN dl ON tf.doc_id = dl.doc_id
            GROUP BY tf.doc_id
        ) QUALIFY r <= {_RRF_DEPTH}
    ),
    e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    qv AS (SELECT v AS q FROM e WHERE vec_id = 1),
    sem AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY cosr DESC, vec_id) AS r
        FROM (
            SELECT e.vec_id,
                   ROUND(list_dot_product(e.v, qv.q)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(qv.q, qv.q))), 4) AS cosr
            FROM e CROSS JOIN qv WHERE e.vec_id <> 1
        ) QUALIFY r <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               ROUND(COALESCE(1.0 / ({_RRF_K} + l.r), 0)
                     + COALESCE(1.0 / ({_RRF_K} + s.r), 0), 6) AS rrf,
               l.r AS lex_rank, s.r AS sem_rank
        FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, rrf,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank
    FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval by reciprocal-rank fusion (RRF, Cormack et al.):
    fuse a lexical BM25 shortlist (bm25_rank's scorer, fixed query
    "join table spark") with a semantic cosine shortlist (query vector =
    embedding id 1, the knn convention) as Σ 1/(60 + rank) — the
    score-free fusion that needs no calibration between incomparable
    scores, which is why it is the default in production hybrid search.
    The fixture's doc_id↔vec_id identity join stands in for the shared
    document key a real corpus carries.

    Plan shape at 100 TB: each ranker keeps its own scale discipline
    (BM25: every document scored in the scan stage against one broadcast
    1-row corpus aggregate; cosine: the one query vector broadcasts onto
    the unshuffled corpus scan); both
    truncate to top-{depth} BEFORE the fusion join, so the full join +
    final sort touch ≤ 2·{depth} rows regardless of corpus size. Ranks
    are ROW_NUMBER over (rounded score DESC, id) on both engines —
    drift-proof ranking keys, the suite's standard."""
    from pyspark.sql import Window

    # Round 6: the lexical leg shares bm25_rank's one-corpus-pass scorer
    # instead of re-deriving tokenize/dl/stats/tf inline (which cost three
    # additional corpus scans with zero exchange reuse).
    bm25 = _bm25_scores(spark, sf_dir)
    lex = bm25.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("r"),
    ).where(F.col("r") <= _RRF_DEPTH)

    from pythonmapreduce_spark.pipeline.similarity import _as_double, _dot, _norm

    e = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double(F.col("embedding")).alias("v"))
    )
    qv = e.where(F.col("vec_id") == 1).select(F.col("v").alias("q"))
    sem = (
        e.where(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("v"), F.col("q"))
                / (_norm(F.col("v")) * _norm(F.col("q"))),
                4,
            ).alias("cosr"),
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("cosr").desc(), "doc_id"))
            .alias("r"),
        )
        .where(F.col("r") <= _RRF_DEPTH)
    )
    fused = (
        lex.withColumnRenamed("r", "lex_rank")
        .join(
            sem.withColumnRenamed("r", "sem_rank"),
            "doc_id",
            "full",
        )
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("sem_rank").cast("long").alias("sem_rank"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)



# Ranking-evaluation fixture: three two-term PHRASE queries over the
# corpus's stable vocabulary (every term present at every committed SF,
# probed sf0.001-0.1). Graded relevance is PHRASE-AWARE: rel 3 = the
# exact bigram "t1 t2" occurs (adjacent tokens), rel 2 = both terms
# present anywhere, rel 1 = one term only - the classic proximity
# ground truth a bag-of-words ranker cannot see. That decoupling is the
# point: the 31-word fixture vocabulary puts every TERM in ~80% of
# documents, so any term-derived grade saturates the ideal top-10 and
# NDCG degenerates to 1.0 (measured, for both tf-capped and
# distinct-term-coverage grades); phrase hits are ~6% of docs and BM25
# is blind to adjacency, so NDCG lands mid-range (0.48-0.65 at sf0.01)
# and actually measures the ranker-vs-truth gap.
_EVAL_QUERIES = [
    (1, "join", "table"),
    (2, "scan", "filter"),
    (3, "column", "order"),
]
_NDCG_K = 10

_EVAL_QMAP_VALUES = ", ".join(
    f"({qid}, '{t1}', '{t2}')" for qid, t1, t2 in _EVAL_QUERIES
)
_EVAL_ALL_TERMS = ", ".join(f"'{t}'" for q in _EVAL_QUERIES for t in q[1:])


def _ndcg_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_ndcg_mrr's single corpus pass, UN-materialized: (doc_id,
    dl, query-matching tokens, query-phrase bigrams). Factored out so
    the plan tests can assert column pruning and the in-scan filters on
    the subtree that otherwise executes (and vanishes) at
    materialization time."""
    all_terms = [t for q in _EVAL_QUERIES for t in q[1:]]
    phrases = [f"{t1} {t2}" for _, t1, t2 in _EVAL_QUERIES]
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(all_terms)))
    phrases_sql = ", ".join(f"'{p}'" for p in phrases)
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr("filter(split(text, '\\\\s+'), t -> t != '')").alias("toks"),
        )
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.expr(f"filter(toks, t -> t IN ({terms_sql}))").alias("qtoks"),
            F.expr(
                # zip_with over the two offset slices, not
                # transform(sequence(1, size-1), element_at): sequence(1, 0)
                # descends to [1, 0] on 0/1-token docs and element_at(toks, 0)
                # is fatal under ANSI mode (Spark 4 default).
                "filter(zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), "
                "slice(toks, 2, greatest(size(toks) - 1, 0)), "
                "(a, b) -> concat(a, ' ', b)), "
                f"g -> g IN ({phrases_sql}))"
            ).alias("qgrams"),
        )
    )


@register(
    "search_ndcg_mrr",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl FROM docs),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(LEN(toks)) AS avgdl
        FROM docs
    ),
    qmap AS (
        SELECT * FROM (VALUES {_EVAL_QMAP_VALUES}) AS t(query_id, t1, t2)
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, UNNEST(toks) AS term FROM docs)
        WHERE term IN ({_EVAL_ALL_TERMS})
        GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term,
               LN(1 + ((SELECT n_docs FROM stats) - COUNT(*) + 0.5)
                      / (COUNT(*) + 0.5)) AS idf
        FROM tf GROUP BY term
    ),
    qtf AS (
        SELECT q.query_id, t.doc_id, t.term, t.tf
        FROM tf t JOIN qmap q ON t.term IN (q.t1, q.t2)
    ),
    phrase AS (
        SELECT DISTINCT q.query_id, b.doc_id
        FROM (
            SELECT doc_id, array_to_string(toks[s : s + 1], ' ') AS bg
            FROM docs, LATERAL (
                SELECT UNNEST(generate_series(1, len(toks) - 1)) AS s
            ) st
        ) b
        JOIN qmap q ON b.bg = q.t1 || ' ' || q.t2
    ),
    graded AS (
        SELECT c.query_id, c.doc_id,
               CAST(1 + CASE WHEN c.cov = 2 THEN 1 ELSE 0 END
                      + CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END
                   AS BIGINT) AS rel
        FROM (
            SELECT query_id, doc_id, COUNT(DISTINCT term) AS cov
            FROM qtf GROUP BY query_id, doc_id
        ) c
        LEFT JOIN phrase p USING (query_id, doc_id)
    ),
    scored AS (
        SELECT qtf.query_id, qtf.doc_id,
               ROUND(SUM(idf.idf * qtf.tf * ({_K1} + 1)
                         / (qtf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                              / (SELECT avgdl FROM stats)))),
                     4) AS s
        FROM qtf
        JOIN idf USING (term)
        JOIN dl ON qtf.doc_id = dl.doc_id
        GROUP BY qtf.query_id, qtf.doc_id
    ),
    ranked AS (
        SELECT g.query_id, g.doc_id, g.rel,
               ROW_NUMBER() OVER (PARTITION BY g.query_id
                                  ORDER BY s.s DESC, g.doc_id) AS rank
        FROM graded g JOIN scored s USING (query_id, doc_id)
    ),
    dcg AS (
        SELECT query_id,
               SUM((POW(2, rel) - 1) / LOG2(rank + 1)) AS dcg,
               MIN(CASE WHEN rel = 3 THEN rank END) AS first_phrase
        FROM ranked WHERE rank <= {_NDCG_K} GROUP BY query_id
    ),
    ideal AS (
        SELECT query_id, SUM((POW(2, rel) - 1) / LOG2(irank + 1)) AS idcg
        FROM (
            SELECT query_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY rel DESC, doc_id) AS irank
            FROM graded
        ) WHERE irank <= {_NDCG_K} GROUP BY query_id
    ),
    nrel AS (
        SELECT query_id,
               CAST(SUM(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_phrase_docs
        FROM graded GROUP BY query_id
    )
    SELECT CAST(d.query_id AS BIGINT) AS query_id,
           ROUND(d.dcg / i.idcg, 6) + 0.0 AS ndcg_at_k,
           ROUND(COALESCE(1.0 / d.first_phrase, 0.0), 6) + 0.0 AS mrr_at_k,
           n.n_phrase_docs
    FROM dcg d
    JOIN ideal i USING (query_id)
    JOIN nrel n USING (query_id)
    """,
)
def search_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: NDCG@10 and MRR@10 of the BM25
    ranker per query — THE two offline metrics a retrieval/curation
    stack reports before changing a ranker (bm25_rank and
    hybrid_search_rrf produce rankings; this measures one). Three
    two-term queries; phrase-aware graded relevance (rel 3 = exact
    bigram present, 2 = both terms, 1 = one term — see _EVAL_QUERIES);
    DCG = Σ (2^rel − 1)/log2(rank+1) over the top-10 by (4dp-rounded
    BM25 DESC, doc_id), IDCG over the grade-sorted ideal top-10, MRR
    from the first rank whose doc is a phrase match (0.0 when the
    top-10 has none).

    Scale shape at 100 TB: the corpus explode is filtered to the 6
    evaluation terms inside the scan stage, so only matching tokens
    shuffle into the (doc, term) aggregate (bm25_rank goes further and
    scores each document in its scan row, with no (doc, term) shuffle
    at all); the phrase pass filters the bigram explode to the 3
    query bigrams equally early (only phrase hits leave the scan);
    grades and scores aggregate on the same (query_id, doc_id) key,
    per-query ranking is a window partitioned by query_id, and every
    metric aggregate after the top-k touches ≤ |queries|·k rows.
    n_docs and avgdl are observed while the base materializes and enter
    the idf and score as literals; the idf and qmap sides broadcast.
    Ranking keys are (4dp-rounded score, doc_id) and metrics round to
    6dp — the suite's drift-proof compare convention; DCG terms are
    irrational (log2 denominators), so a 6dp half-boundary tie between
    engines is measure-zero.

    ONE narrow base, as in _bm25_scores: (doc_id, dl, query-matching
    tokens, query-phrase bigrams) is computed in a single scan and every
    downstream table (dl, tf, phrase) reads it; ``graded`` feeds
    ranked, ideal and nrel.
    """
    from pyspark.sql import Window

    # One partition: each broadcast of qmap runs one task, not nproc.
    qmap = spark.createDataFrame(
        [(qid, t1, t2) for qid, t1, t2 in _EVAL_QUERIES],
        "query_id long, t1 string, t2 string",
    ).coalesce(1)
    # Kept (c): lazy, documents is scanned 7x instead of once; (a) the pass
    # also yields n_docs and avgdl.
    base, stats = materialize_observed(
        _ndcg_base(spark, sf_dir),
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    dl = base.select("doc_id", "dl")
    avgdl = F.lit(stats["avgdl"]).cast("double")
    tf = (
        base.select("doc_id", F.explode("qtoks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "term",
            _idf(F.lit(stats["n_docs"]).cast("long"), F.col("df")).alias("idf"),
        )
    )
    qtf = tf.join(
        F.broadcast(qmap),
        (F.col("term") == F.col("t1")) | (F.col("term") == F.col("t2")),
    ).select("query_id", "doc_id", "term", "tf")
    phrase = (
        base.select("doc_id", F.explode("qgrams").alias("bigram"))
        .join(
            F.broadcast(qmap),
            F.col("bigram") == F.concat_ws(" ", "t1", "t2"),
        )
        .select("query_id", "doc_id")
        .distinct()
        .withColumn("is_phrase", F.lit(1))
    )
    # Kept until ROADMAP item 5's tf-array restructure: lazy saves tasks but
    # plans graded into its three consumers (2 -> 8 Generate nodes).
    graded = iter_materialize(
        qtf.groupBy("query_id", "doc_id")
        .agg(F.count_distinct("term").alias("cov"))
        .join(phrase, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            (
                1
                + (F.col("cov") == 2).cast("int")
                + F.coalesce("is_phrase", F.lit(0))
            )
            .cast("long")
            .alias("rel"),
        )
    )
    scored = (
        qtf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("idf") * F.col("tf") * (_K1 + 1)
                    / (
                        F.col("tf")
                        + _K1 * (1 - _B + _B * F.col("dl") / avgdl)
                    )
                ),
                4,
            ).alias("s")
        )
    )
    ranked = graded.join(scored, ["query_id", "doc_id"]).select(
        "query_id",
        "rel",
        F.row_number()
        .over(Window.partitionBy("query_id").orderBy(F.col("s").desc(), "doc_id"))
        .alias("rank"),
    )
    dcg = (
        ranked.where(F.col("rank") <= _NDCG_K)
        .groupBy("query_id")
        .agg(
            F.sum((F.pow(F.lit(2.0), "rel") - 1) / F.log2(F.col("rank") + 1)).alias(
                "dcg"
            ),
            F.min(F.when(F.col("rel") == 3, F.col("rank"))).alias("first_phrase"),
        )
    )
    ideal = (
        graded.select(
            "query_id",
            "rel",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "doc_id")
            )
            .alias("irank"),
        )
        .where(F.col("irank") <= _NDCG_K)
        .groupBy("query_id")
        .agg(
            F.sum((F.pow(F.lit(2.0), "rel") - 1) / F.log2(F.col("irank") + 1)).alias(
                "idcg"
            )
        )
    )
    nrel = graded.groupBy("query_id").agg(
        F.sum((F.col("rel") == 3).cast("long")).cast("long").alias("n_phrase_docs")
    )
    return (
        dcg.join(ideal, "query_id")
        .join(nrel, "query_id")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_k"),
            F.round(F.coalesce(1.0 / F.col("first_phrase"), F.lit(0.0)), 6).alias(
                "mrr_at_k"
            ),
            "n_phrase_docs",
        )
    )
