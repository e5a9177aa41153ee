"""Training-corpus curation operators: chunking, sequence packing, domain
mixing, and sketch-based frequency profiling.

These are the steps between a cleaned corpus and a tokenized training run:
split long documents into model-window chunks, pack variable-length
documents into fixed token budgets, rebalance the domain/language mixture,
and profile token frequencies with a mergeable sketch. The reference has no
analog for any of them (its surface is two MapReduce jobs,
/root/reference/mapreduce_wc.py:3-11) — this module exists because the
engine's target workload is LLM data preparation, where these four shapes
are the daily drivers.

Tokenizer contract matches the rest of the text tier (FIXTURES.md): split
on whitespace, drop empties, case-sensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.materialize import iter_materialize
from pythonmapreduce_spark.plans.registry import QUERIES, register
from pythonmapreduce_spark.sources.text_corpus import token_count_col, tokens_col

# Model context window for chunking/packing. Small enough that the fixture
# corpus (~100 tokens/doc) produces multi-chunk docs and multi-doc bins —
# the same code path a 8k/128k window takes on real documents.
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks
_SEQ_LEN = 2048
_PACK_SHARD = 1000  # docs per packing shard (scale unit, see sequence_pack)


@register(
    "doc_chunks",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tokens
        FROM documents
    )
    SELECT doc_id,
           -- start is always a stride multiple so / happens to be exact,
           -- but // keeps it rounding-proof if the stride ever changes
           -- (CAST(x/y AS BIGINT) rounds in DuckDB; Spark casts truncate)
           CAST(start // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           array_to_string(tokens[start + 1 : start + {_CHUNK_SIZE}], ' ') AS chunk_text,
           LEAST({_CHUNK_SIZE}, len(tokens) - start) AS n_tok
    FROM toks, LATERAL (
        SELECT unnest(generate_series(0, len(tokens) - 1, {_CHUNK_STRIDE})) AS start
    ) s
    WHERE len(tokens) > 0
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: fixed {size}-token chunks every
    {stride} tokens (8-token overlap preserves cross-boundary context),
    the standard pre-tokenization split for long documents.

    Scale shape: one narrow stage — tokenize, generate window starts with
    `sequence`, explode, slice. No shuffle at all (the explode multiplies
    rows ~n_tok/stride × inside the scan stage), so it parallelizes as the
    input splits do and a 100 TB corpus chunks at full scan bandwidth.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("tokens"),
    ).where(F.size("tokens") > 0)
    starts = toks.select(
        "doc_id",
        "tokens",
        F.explode(
            F.sequence(F.lit(0), F.size("tokens") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("start"),
    )
    return starts.select(
        "doc_id",
        (F.col("start") / _CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.array_join(
            F.slice("tokens", F.col("start") + 1, F.lit(_CHUNK_SIZE)), " "
        ).alias("chunk_text"),
        F.least(F.lit(_CHUNK_SIZE), F.size("tokens") - F.col("start")).alias("n_tok"),
    )


@register(
    "sequence_pack",
    oracle=f"""
    WITH toks AS (
        -- integer division (//): CAST(x/1000 AS BIGINT) ROUNDS in DuckDB
        -- while Spark's cast truncates — invisible while doc_id < 500,
        -- a shard-boundary flip on any larger corpus (robust-sweep find)
        SELECT doc_id,
               CAST(doc_id // {_PACK_SHARD} AS BIGINT) AS shard,
               len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_tok
        FROM documents
    ),
    placed AS (
        SELECT shard, n_tok,
               CAST(FLOOR((SUM(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok) / {_SEQ_LEN}.0) AS BIGINT) AS bin
        FROM toks
    )
    SELECT shard, bin, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(SUM(n_tok) / {_SEQ_LEN}.0, 4) AS fill_ratio
    FROM placed
    GROUP BY shard, bin
    """,
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: documents are laid end-to-end in
    doc_id order and assigned to the {seq_len}-token training bin their
    START offset falls in (document-boundary packing with overflow — the
    greedy packer every data loader implements, made order-deterministic).

    Scale shape: the running sum is windowed PER SHARD of {shard} adjacent
    doc_ids, never over the global corpus — a single unpartitioned window
    would serialize 100 TB through one task, while shards pack in parallel
    and each is a bounded, reproducible unit (re-packing shard 7 never
    changes shard 8's bins, which is what makes incremental re-runs safe).
    Output is the per-bin fill profile (the packing-efficiency report).
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") / _PACK_SHARD).cast("bigint").alias("shard"),
        F.size(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("n_tok"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.select(
        "shard",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / float(_SEQ_LEN)).alias("bin"),
    )
    return placed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.round(F.sum("n_tok") / float(_SEQ_LEN), 4).alias("fill_ratio"),
    )


@register(
    "domain_mix",
    oracle="""
    WITH c AS (
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ),
    t AS (
        SELECT lang, cnt,
               CAST(FLOOR(MIN(cnt) OVER () * 10000.0 / cnt) AS BIGINT) AS thr
        FROM c
    )
    SELECT d.lang, t.cnt AS n_orig, COUNT(*) AS n_kept
    FROM documents d JOIN t ON d.lang = t.lang
    WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < t.thr
    GROUP BY d.lang, t.cnt
    """,
)
def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language rebalancing: deterministically downsample every
    language to the smallest language's volume (uniform target mixture) —
    the mixing step that keeps one dominant web domain from swamping a
    training run.

    Keep decisions use the same Knuth multiplicative hash as dataset_split
    (engine-stable, no RNG), so the kept subset is reproducible and
    composable with the split. Scale shape: per-language rates come from a
    tiny aggregate that BROADCASTS back onto the corpus — the 100 TB side
    is filtered by a stateless hash predicate in the scan stage, never
    shuffled and never ranked (a per-language window rank would funnel each
    language through one partition).
    """
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    # MIN over the |langs|-row aggregate — unpartitioned window is fine on
    # a handful of rows (same aggregate-then-window policy as share_of_total)
    thr = counts.select(
        "lang",
        "cnt",
        F.floor(F.min("cnt").over(Window.partitionBy()) * 10000.0 / F.col("cnt"))
        .cast("bigint")
        .alias("thr"),
    )
    keep = ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296) % 10000 < F.col("thr")
    return (
        docs.join(F.broadcast(thr), "lang")
        .where(keep)
        .groupBy("lang", F.col("cnt").alias("n_orig"))
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@register(
    "sketch_frequent_items",
    oracle=f"""
    SELECT word, COUNT(*) AS n
    FROM (
        SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS word
        FROM documents
    )
    GROUP BY word
    HAVING COUNT(*) > 400
    """,
)
def sketch_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent tokens via the mergeable approx_top_k sketch (DataSketches
    FrequentItems): ONE pass, bounded memory, partial sketches merged
    map-side — the single-pass complement to heavy_hitters' exact two-pass
    pigeonhole (same >400 threshold contract, so the two mechanisms are
    directly cross-checkable).

    Correctness regime, proven by the exact GROUP BY oracle: with
    maxItemsTracked (100k) ≥ true cardinality the sketch never evicts and
    its counts are EXACT; beyond capacity it degrades to ±N/maxItemsTracked
    error bounds instead of failing — the property that makes it safe to
    leave in a 100 TB job where cardinality is unknown upfront. The >400
    filter (not the rank-k cut) makes the output tie-independent — which
    requires k to COVER the >400 band on any corpus: at most
    total_tokens/400 tokens can exceed the threshold (pigeonhole), so
    k=8192 holds to a ~3.3M-token corpus — 60× the sf0.01 verification
    fixture and 12× sf0.1 (the sketch stays KBs either way); a k sized
    below the band silently truncates the result on a larger corpus
    (robust-sweep find: a 3× fixture yields 90 qualifying tokens vs the
    old k=40). Corpora past that bound raise the threshold or k together
    — the invariant to preserve is k ≥ total_tokens/threshold.
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("word")
    )
    return (
        words.agg(F.expr("approx_top_k(word, 8192, 100000)").alias("tk"))
        .select(F.explode("tk").alias("s"))
        .select(F.col("s.item").alias("word"), F.col("s.count").alias("n"))
        .where(F.col("n") > 400)
    )


_NGRAM_N = 13  # n-gram width for decontamination (the published choice)


@register(
    "ngram_decontaminate",
    oracle=f"""
    WITH btoks AS (
        SELECT list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
        FROM documents WHERE doc_id % 7 = 0
    ),
    bgrams AS (
        SELECT DISTINCT array_to_string(toks[s : s + {_NGRAM_N - 1}], ' ') AS g
        FROM btoks, LATERAL (
            SELECT unnest(generate_series(1, len(toks) - {_NGRAM_N - 1})) AS s
        ) st
        WHERE len(toks) >= {_NGRAM_N}
    ),
    dtoks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
        FROM documents WHERE doc_id % 7 <> 0
    ),
    dgrams AS (
        SELECT doc_id, lang, array_to_string(toks[s : s + {_NGRAM_N - 1}], ' ') AS g
        FROM dtoks, LATERAL (
            SELECT unnest(generate_series(1, len(toks) - {_NGRAM_N - 1})) AS s
        ) st
        WHERE len(toks) >= {_NGRAM_N}
    )
    SELECT doc_id, lang, COUNT(DISTINCT d.g) AS n_hits
    FROM dgrams d JOIN bgrams b ON d.g = b.g
    GROUP BY doc_id, lang
    """,
)
def ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap benchmark decontamination: a training document is
    contaminated if any of its {n}-token n-grams appears in a benchmark
    document (stand-in benchmark: every 7th doc, as `decontamination`).
    This is the published eval-leakage method — overlap on fixed-width
    n-grams instead of `decontamination`'s prefix containment, so it also
    catches copies with changed openings or interleaved boilerplate.

    Scale shape: benchmark suites are tiny, so the distinct benchmark
    n-gram set BROADCASTS; the corpus side explodes its n-grams inside the
    scan stage and dies at the broadcast semi probe — only the matching
    (doc, n-gram) pairs reach the count-distinct exchange. The corpus is
    never shuffled at its full exploded width. n-gram strings could further
    shrink to xxhash64 digests before the probe at the cost of the oracle's
    exactness; the structure is identical.
    """
    docs = load(spark, sf_dir, "documents")
    tok = F.filter(F.split("text", r"\s+"), lambda t: t != "")

    def grams(df: DataFrame, *cols: str) -> DataFrame:
        toked = df.select(*cols, tok.alias("toks")).where(F.size("toks") >= _NGRAM_N)
        starts = toked.select(
            *cols,
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks") - (_NGRAM_N - 1))).alias("s"),
        )
        return starts.select(
            *cols, F.array_join(F.slice("toks", F.col("s"), _NGRAM_N), " ").alias("g")
        )

    bgrams = grams(docs.where(F.col("doc_id") % 7 == 0)).distinct()
    dgrams = grams(docs.where(F.col("doc_id") % 7 != 0), "doc_id", "lang")
    return (
        dgrams.join(F.broadcast(bgrams), "g", "left_semi")
        .groupBy("doc_id", "lang")
        .agg(F.countDistinct("g").alias("n_hits"))
    )


_VOCAB_TOP = 50


@register(
    "vocab_coverage",
    oracle=f"""
    WITH vocab AS (
        SELECT word, COUNT(*) AS cnt
        FROM (
            SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
                AS word
            FROM documents
        )
        GROUP BY word
    )
    SELECT word, cnt, rank, ROUND(cum_share, 6) AS cum_share
    FROM (
        SELECT word, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank,
               SUM(cnt) OVER (ORDER BY cnt DESC, word
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   * 1.0 / SUM(cnt) OVER () AS cum_share
        FROM vocab
    )
    WHERE rank <= {_VOCAB_TOP}
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: rank tokens by corpus frequency and
    report each top token's CUMULATIVE share of all token occurrences —
    the tokenizer-design metric (how much of the corpus the first k vocab
    entries cover; the long-tail complement of heavy_hitters).

    Scale shape: the full corpus reduces to the |vocab|-row frequency
    table via one partial+final hash aggregate; the ranking window then
    runs over |vocab| rows (bounded by the language's lexicon, NOT by
    corpus size), which is the aggregate-then-window policy share_of_total
    pins. Ties break on the word itself so the curve is deterministic
    cross-engine.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order = Window.orderBy(F.col("cnt").desc(), "word")
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        vocab.select(
            "word",
            "cnt",
            F.row_number().over(order).alias("rank"),
            F.round(
                F.sum("cnt").over(running) * 1.0 / F.sum("cnt").over(everything), 6
            ).alias("cum_share"),
        )
        .where(F.col("rank") <= _VOCAB_TOP)
    )


# Deterministic NFD stress suffix appended to every document: decomposed
# e+ACUTE and A+RING (NFC-composable) plus tab/double-space (collapsible).
# Chosen so the normalizer provably fires on a fixture corpus that is
# otherwise ASCII with single spaces.
_NFD_SUFFIX = " é  Å\tz"


@register(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           LENGTH(norm) AS n_chars_norm,
           RIGHT(norm, 24) AS tail
    FROM (
        SELECT doc_id,
               nfc_normalize(
                   regexp_replace(
                       text || ' e' || chr(769) || '  A' || chr(778) || chr(9) || 'z',
                       '\s+', ' ', 'g')
               ) AS norm
        FROM documents
    )
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization: collapse whitespace runs, then NFC-
    normalize — the mandatory step BEFORE any hash-based dedup (NFD 'e'+
    COMBINING ACUTE and NFC 'é' are different bytes, so un-normalized
    corpora silently miss duplicates; every web-crawl pipeline runs this).
    The fixture corpus is ASCII, so a deterministic NFD stress suffix is
    appended to every doc to prove the normalizer actually fires — the
    oracle (DuckDB `nfc_normalize`) must agree on the composed result.

    Scale shape: whitespace collapse is a JVM regexp in the scan stage; the
    NFC step is the one genuinely-Python piece (the JVM exposes no Unicode
    normalizer as a SQL function), so it runs as an Arrow-batched
    pandas_udf — per-batch columnar transfer, no per-row pickling, fully
    parallel with zero shuffle. Output is (len, 24-char tail) per doc, not
    the full normalized body, so the compare stays cheap while still
    pinning the composed suffix.
    """
    import pandas as pd  # noqa: F401 (signature typing)
    import unicodedata

    @F.pandas_udf("string")
    def nfc(s):  # type: ignore[no-untyped-def]
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    docs = load(spark, sf_dir, "documents")
    collapsed = F.regexp_replace(
        F.concat(F.col("text"), F.lit(_NFD_SUFFIX)), r"\s+", " "
    )
    return docs.select(
        "doc_id", nfc(collapsed).alias("norm")
    ).select(
        "doc_id",
        F.length("norm").alias("n_chars_norm"),
        F.expr("right(norm, 24)").alias("tail"),
    )


@register(
    "pipeline_rag_index",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tokens
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, lang,
               md5(array_to_string(tokens[start + 1 : start + {_CHUNK_SIZE}], ' '))
                   AS digest
        FROM toks, LATERAL (
            SELECT unnest(generate_series(0, len(tokens) - 1, {_CHUNK_STRIDE})) AS start
        ) s
        WHERE len(tokens) > 0
    )
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_unique_chunks,
           ROUND(1.0 - COUNT(DISTINCT digest) * 1.0 / COUNT(*), 4) + 0.0
               AS dup_ratio
    FROM chunks GROUP BY lang
    """,
)
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed RAG-index preparation: sliding-window chunking →
    chunk-level exact dedup accounting → per-language index inventory
    (docs, chunks, unique chunks, duplicate ratio) as ONE Catalyst plan.

    This is the pre-embedding stage of a retrieval index build: the
    dup_ratio tells you how much embedding compute chunk-dedup will save
    (boilerplate-heavy corpora at 100 TB routinely shed 30-50% of chunks
    here, before a single GPU-second is spent). Chunking stays
    shuffle-free inside the scan stage (doc_chunks' plan); only 16-byte
    chunk digests + lang reach the distinct-aggregate exchange — text
    never shuffles, same discipline as dedup_exact/media_chunk_dedup.
    """
    chunks = QUERIES["doc_chunks"](spark, sf_dir)
    lang = load(spark, sf_dir, "documents").select("doc_id", "lang")
    tagged = chunks.join(lang, "doc_id").select(
        "doc_id", "lang", F.md5(F.col("chunk_text")).alias("digest")
    )
    return tagged.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct("digest").cast("long").alias("n_unique_chunks"),
        (
            F.round(
                1.0 - F.countDistinct("digest") * 1.0 / F.count(F.lit(1)), 4
            )
            + 0.0
        ).alias("dup_ratio"),
    )


_TOKS_SQL = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"


@register(
    "quality_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({_TOKS_SQL}) AS t FROM documents
    ),
    b AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 8))::BIGINT % 32 AS bucket
        FROM toks
    ),
    scored AS (
        SELECT doc_id,
               SUM(((bucket + 1) * 2654435761 % 4294967296) / 4294967296.0 - 0.5)
                   / COUNT(*) AS mean_w,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM b GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(1.0 / (1.0 + EXP(-4.0 * mean_w)), 6) AS score,
           CASE WHEN 1.0 / (1.0 + EXP(-4.0 * mean_w)) >= 0.5
                THEN TRUE ELSE FALSE END AS keep
    FROM scored
    """,
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fastText-classifier stage of
    CCNet/FineWeb-style pipelines — as a hashed linear model: tokens hash
    to 32 buckets (feature_hashing's stateless md5 bucketer), each bucket
    carries a fixed Knuth-hash-derived weight, and the document score is
    the sigmoid of the mean token weight.

    The weights here are a deterministic stand-in for trained ones (no
    model artifacts in the container), but the PLAN is exactly the real
    thing: score = sigmoid(w · x / n) is one explode + one doc-key
    aggregation, no vocabulary broadcast, no Python — a trained w would
    arrive as a 32-row broadcast table joined on bucket, changing nothing
    about the shuffle structure. At 100 TB this runs at scan throughput
    with one partial+final agg on doc_id.
    """
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.expr("filter(split(text, '\\\\s+'), t -> t != '')")).alias("t"),
    )
    bucket = F.expr("conv(substring(md5(t), 1, 8), 16, 10)").cast("long") % 32
    w = ((bucket + 1) * F.lit(2654435761)) % F.lit(4294967296) / 4294967296.0 - 0.5
    scored = toks.groupBy("doc_id").agg(
        (F.sum(w) / F.count(F.lit(1))).alias("mean_w"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    score = 1.0 / (1.0 + F.exp(-4.0 * F.col("mean_w")))
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(score, 6).alias("score"),
        (score >= 0.5).alias("keep"),
    )


@register(
    "boilerplate_detect",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_SQL} AS T FROM documents
    ),
    segs AS (
        SELECT doc_id, source,
               md5(UNNEST(list_transform(
                   range(CAST(CEIL(LEN(T) / 10.0) AS BIGINT)),
                   i -> array_to_string(list_slice(T, i * 10 + 1, i * 10 + 10), ' ')
               ))) AS seg_key
        FROM toks
    ),
    boiler AS (
        SELECT source, seg_key FROM segs
        GROUP BY source, seg_key HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segs,
               CAST(SUM(CASE WHEN b.seg_key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler
        FROM segs s LEFT JOIN boiler b
          ON s.source = b.source AND s.seg_key = b.seg_key
        GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_segs, 0) AS n_segs,
           COALESCE(p.n_boiler, 0) AS n_boiler,
           ROUND(COALESCE(p.n_boiler, 0) * 1.0
                 / GREATEST(COALESCE(p.n_segs, 0), 1), 4) AS boiler_ratio
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def boilerplate_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate detection: documents are segmented into
    disjoint 10-token "lines" (the fixture corpus has no newlines; on
    real web text the segmenter is split('\\n')), and a segment repeated
    in ≥2 distinct documents OF THE SAME SOURCE is boilerplate — the
    nav-bar/footer/cookie-banner signal a crawl pipeline strips before
    training. Output is the per-document boilerplate ratio the keep/drop
    gate thresholds.

    Scale shape: segments never ship as text — only their 16-byte md5
    digests shuffle (same digest-only discipline as dedup_exact /
    media_chunk_dedup), keyed by (source, digest) so the repeat count is
    blocked per source and no global hot key forms. Segmentation is a
    shuffle-free explode in the scan stage. "Repeated in ≥2 distinct
    docs" is min(doc_id) != max(doc_id) over the (source, digest)
    WINDOW — one pass over one exchange of the segment table; the
    pre-reshape groupBy-HAVING + join-back form re-derived the exploded
    segments on both sides (two corpus scans, zero runtime reuse,
    despite this docstring's then-false reuse claim).
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.expr("filter(split(text, '\\\\s+'), t -> t != '')").alias("T"),
    )
    n_segs_expr = F.ceil(F.size("T") / 10.0).cast("int")
    segs = (
        toks.where(F.size("T") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), n_segs_expr - 1)).alias("i"),
            "T",
        )
        .select(
            "doc_id",
            "source",
            F.md5(
                F.array_join(F.slice("T", F.col("i") * 10 + 1, 10), " ")
            ).alias("seg_key"),
        )
    )
    from pyspark.sql import Window

    # nd >= 2 distinct docs <=> min(doc_id) != max(doc_id) within the
    # (source, seg_key) group — window-expressible, unlike COUNT(DISTINCT).
    per_key = Window.partitionBy("source", "seg_key")
    per_doc = (
        segs.withColumn(
            "is_b",
            (
                F.min("doc_id").over(per_key) != F.max("doc_id").over(per_key)
            ).cast("int"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            F.sum("is_b").cast("long").alias("n_boiler"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segs", F.lit(0)).alias("n_segs"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.round(
                F.coalesce("n_boiler", F.lit(0)) * 1.0
                / F.greatest(F.coalesce("n_segs", F.lit(0)), F.lit(1)),
                4,
            ).alias("boiler_ratio"),
        )
    )


@register(
    "k_anonymity_check",
    oracle="""
    WITH groups AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, c_nationkey, group_size,
           (group_size < 5) AS violates_k5
    FROM groups
    """,
)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (market segment,
    nation): any equivalence class smaller than k=5 re-identifies its
    members by those attributes alone — the governance gate a dataset
    must pass before quasi-identifiers ship in a training corpus or a
    data release (pairs with pii_scrub, which handles DIRECT
    identifiers).

    One partial+final aggregation on the quasi-identifier key; the
    violation flag is scan-side math on the |classes|-sized result. At
    100 TB the class count is bounded by the identifier domain, not row
    count — the audit costs one combine-enabled pass.
    """
    groups = (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
    )
    return groups.select(
        "c_mktsegment",
        "c_nationkey",
        "group_size",
        (F.col("group_size") < 5).alias("violates_k5"),
    )


@register(
    "group_rare_categories",
    oracle="""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY source
    ),
    mapped AS (
        SELECT d.doc_id,
               CASE WHEN c.n >= 30 THEN d.source ELSE 'OTHER' END AS source_grouped
        FROM documents d JOIN counts c ON d.source = c.source
    )
    SELECT source_grouped,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM mapped GROUP BY source_grouped
    """,
)
def group_rare_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category collapsing: sources with fewer than 30 documents
    fold into 'OTHER' — the categorical-feature hygiene step that stops
    one-hot/target encoders from memorizing singleton categories (and
    the long-tail bucket every feature store materializes).

    Aggregate-then-reaggregate: category counts are a |categories|-row
    aggregate, and the collapsed output is that tiny table re-summed
    under the folded label — the per-row mapping never needs to
    materialize for a count-only output, since the sum of per-source
    counts under the collapsed label IS the count of mapped rows (the
    pre-reshape join-back re-executed the corpus aggregate on the probe
    side: 2 scans, zero runtime reuse; a pipeline that wants the
    per-document mapped column still broadcasts the counts onto the
    scan). No row ever shuffles with its full original category
    cardinality.
    """
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        counts.select(
            F.when(F.col("n") >= 30, F.col("source"))
            .otherwise("OTHER")
            .alias("source_grouped"),
            "n",
        )
        .groupBy("source_grouped")
        .agg(F.sum("n").cast("long").alias("n_docs"))
    )


@register(
    "gdpr_erasure",
    oracle="""
    WITH del_list AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    ),
    ev AS (
        SELECT 'events' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS rows_before,
               CAST(SUM(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS rows_removed
        FROM events e LEFT JOIN del_list d ON e.user_id = d.user_id
    ),
    cust AS (
        SELECT 'customer' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS rows_before,
               CAST(SUM(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS rows_removed
        FROM customer c LEFT JOIN del_list d ON c.c_custkey = d.user_id
    )
    SELECT table_name, rows_before, rows_removed,
           rows_before - rows_removed AS rows_after
    FROM ev
    UNION ALL
    SELECT table_name, rows_before, rows_removed,
           rows_before - rows_removed AS rows_after
    FROM cust
    """,
)
def gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit: a deletion list (here the
    deterministic user_id % 97 slice standing in for erasure requests)
    anti-joined through every table that carries the subject key, with a
    per-table before/removed/after accounting row — the erasure job's
    dry-run report a data-protection officer signs off before the
    destructive pass runs (the write itself is merge_upsert /
    sink_compaction territory).

    The deletion list is tiny and broadcasts to every fact scan; each
    table contributes one combine-enabled count pass. No fact table ever
    shuffles — erasure auditing at 100 TB costs one broadcast-join scan
    per table.
    """
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer")
    del_list = ev.where(F.col("user_id") % 97 == 0).select("user_id").distinct()
    d = F.broadcast(del_list.withColumn("hit", F.lit(1)))
    ev_row = (
        ev.join(d, "user_id", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("rows_removed"),
        )
        .select(F.lit("events").alias("table_name"), "rows_before", "rows_removed")
    )
    cust_row = (
        cust.join(d, cust.c_custkey == d.user_id, "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("rows_removed"),
        )
        .select(F.lit("customer").alias("table_name"), "rows_before", "rows_removed")
    )
    return ev_row.unionByName(cust_row).select(
        "table_name",
        "rows_before",
        "rows_removed",
        (F.col("rows_before") - F.col("rows_removed")).alias("rows_after"),
    )


@register(
    "dataset_card_stats",
    oracle=r"""
    WITH per_doc AS (
        SELECT doc_id, lang, n_chars, md5(text) AS digest,
               CAST(LEN(list_filter(string_split_regex(text, '\s+'),
                                    t -> t <> '')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_unique_texts,
           ROUND(1.0 - COUNT(DISTINCT digest) * 1.0 / COUNT(*), 4) AS dup_ratio,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(AVG(CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END), 4)
               AS quality_pass_rate
    FROM per_doc
    """,
)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary: the one-row corpus profile (volume, token
    count, language spread, exact-duplicate ratio, length profile,
    quality pass rate) that heads every dataset release — composed as
    ONE plan over ONE scan, the way release tooling should compute it
    (not six separate jobs re-reading the corpus).

    All metrics are algebraic or distinct-aggregates on the same pass:
    tokens/chars partial-aggregate map-side; the two COUNT(DISTINCT)s
    ride Spark's Expand on a 16-byte digest and a tiny lang code —
    never text. One scan, one aggregation tree, a 1-row result.
    """
    toks_n = F.size(F.expr("filter(split(text, '\\\\s+'), t -> t != '')")).cast(
        "long"
    )
    per_doc = load(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.md5("text").alias("digest"),
        toks_n.alias("n_tokens"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("digest").cast("long").alias("n_unique_texts"),
        F.round(
            1.0 - F.try_divide(F.count_distinct("digest") * 1.0, F.count(F.lit(1))), 4
        ).alias("dup_ratio"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(
            F.avg(
                F.when(
                    (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000), 1.0
                ).otherwise(0.0)
            ),
            4,
        ).alias("quality_pass_rate"),
    )


@register(
    "split_leakage_check",
    oracle="""
    WITH split AS (
        SELECT doc_id, md5(text) AS digest,
               CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10 < 8
                    THEN 'train'
                    WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10 = 8
                    THEN 'val'
                    ELSE 'test' END AS part
        FROM documents
    ),
    per_digest AS (
        SELECT digest,
               COUNT(DISTINCT part) AS n_parts,
               COUNT(DISTINCT CASE WHEN part = 'train' THEN 1 END) AS in_train,
               COUNT(DISTINCT CASE WHEN part <> 'train' THEN 1 END) AS in_eval
        FROM split GROUP BY digest
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_digests,
           CAST(SUM(CASE WHEN n_parts > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cross_split,
           CAST(SUM(CASE WHEN in_train = 1 AND in_eval = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_train_eval_leaks
    FROM per_digest
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit: documents with IDENTICAL text landing on
    both sides of dataset_split's deterministic boundary — the eval-
    contamination bug (duplicate docs split across train and test inflate
    benchmark scores) that every split must be audited for BEFORE the
    near-dup and n-gram decontamination layers even start. Counts total
    distinct texts, texts spanning any two splits, and the train↔eval
    leaks specifically.

    One digest-keyed aggregation (16-byte keys, never text) over the same
    Knuth-hash split rule dataset_split emits — the audit and the split
    share one deterministic definition, so a green audit certifies the
    ACTUAL split, not a re-derivation. Fixture corpus plants exact dups,
    so the leak counts are non-zero here by design: the point of the
    audit is to measure, dedup_exact is the fix.
    """
    docs = load(spark, sf_dir, "documents")
    part = (
        F.when(
            ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296) % 10 < 8,
            "train",
        )
        .when(
            ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296) % 10 == 8,
            "val",
        )
        .otherwise("test")
    )
    split = docs.select(F.md5("text").alias("digest"), part.alias("part"))
    per_digest = split.groupBy("digest").agg(
        F.count_distinct("part").alias("n_parts"),
        F.count_distinct(F.when(F.col("part") == "train", 1)).alias("in_train"),
        F.count_distinct(F.when(F.col("part") != "train", 1)).alias("in_eval"),
    )
    return per_digest.agg(
        F.count(F.lit(1)).cast("long").alias("n_digests"),
        F.sum((F.col("n_parts") > 1).cast("int")).cast("long").alias("n_cross_split"),
        F.sum(((F.col("in_train") == 1) & (F.col("in_eval") == 1)).cast("int"))
        .cast("long")
        .alias("n_train_eval_leaks"),
    )


@register(
    "coverage_overlap_sources",
    oracle="""
    WITH d AS (
        SELECT DISTINCT source, md5(text) AS digest FROM documents
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM d a JOIN d b ON a.digest = b.digest AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b, p.n_shared,
           ROUND(p.n_shared * 1.0 / LEAST(sa.n, sb.n), 4) AS overlap_coef
    FROM pairs p
    JOIN sizes sa ON p.source_a = sa.source
    JOIN sizes sb ON p.source_b = sb.source
    """,
)
def coverage_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-overlap matrix: how many identical documents each pair of
    sources shares (overlap coefficient = shared / min size) — the
    crawl-planning signal that says which feeds mirror each other and
    which add coverage, BEFORE paying to ingest both.

    Pair generation happens on the digest key (same-digest docs join,
    then group by the source pair) — never a source × source cross join;
    work is bounded by duplicate volume, and only 16-byte digests + short
    source codes shuffle. Output is at most |sources|² rows.
    """
    # Kept (d): lazy raises shuffle bytes 10,833 -> 21,380 B at sf0.01.
    d = iter_materialize(
        load(spark, sf_dir, "documents")
        .select("source", F.md5("text").alias("digest"))
        .distinct()
    )
    sizes = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = d.select(F.col("source").alias("source_a"), "digest")
    b = d.select(F.col("source").alias("source_b"), "digest")
    pairs = (
        a.join(b, "digest")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared") * 1.0 / F.least(F.col("na"), F.col("nb")), 4
            ).alias("overlap_coef"),
        )
    )


@register(
    "ngram_novelty",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               md5(t[p] || ' ' || t[p + 1] || ' ' || t[p + 2]) AS g
        FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 2)) AS p
              FROM toks WHERE len(t) >= 3)
    ),
    firsts AS (
        SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS novelty
    FROM grams gr JOIN firsts f ON gr.g = f.g
    GROUP BY gr.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document, the fraction of its distinct
    3-gram shingles appearing for the FIRST time in ingestion order
    (doc_id) — the diminishing-returns diagnostic that tells a crawl when
    additional data stops adding information (novelty trending to zero ⇒
    the source is exhausted; the scaling-law data question, measured).

    First occurrence is a MIN window over the digest key — one pass over
    one digest-keyed exchange of the distinct gram table (the pre-reshape
    min-aggregate + equi-join re-derived the exploded gram table on both
    sides: 2 corpus scans, zero runtime reuse); the per-doc ratio is the
    following aggregate. Shingles travel as 16-byte digests from the
    scan stage on — Σ|shingles| rows but fixed narrow width.
    """
    from pyspark.sql import Window

    toks = load(spark, sf_dir, "documents").select(
        "doc_id", tokens_col().alias("t")
    )
    grams = (
        toks.where(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("t") - 2)).alias("p"),
            "t",
        )
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("t", F.col("p"), 3), " ")).alias("g"),
        )
        .distinct()
    )
    return (
        grams.withColumn("first_doc", F.min("doc_id").over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("long")
            .alias("n_novel"),
            F.round(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("int")) * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("novelty"),
        )
    )


@register(
    "dedup_exact_normalized",
    oracle=r"""
    WITH norm AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS digest
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_normalized_unique,
           CAST((SELECT COUNT(DISTINCT md5(text)) FROM documents) AS BIGINT)
               AS n_raw_unique,
           CAST((SELECT COUNT(DISTINCT md5(text)) FROM documents) AS BIGINT)
               - CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_caught_by_normalization
    FROM norm
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-exact dedup accounting: digests computed AFTER case
    folding and whitespace collapsing catch trivially reformatted copies
    (re-wrapped lines, case-shifted mirrors) that byte-exact sha2 misses
    — the cheap middle tier between dedup_exact and MinHash, and the
    first thing to try when near-dup volume looks suspiciously high.

    Normalization is scan-side regexp/lower, and both digests come out
    of the SAME scan. As in dedup_unicode_normalized, one
    ``groupBy(digest)`` counts both: a document whose text is already
    normalized has equal raw and normalized digests, so its one row
    stands for both; any other document adds a second row for its
    normalized digest. A NULL text is one row keyed NULL, counted in
    n_docs and in neither distinct count. The report form (raw vs
    normalized unique counts) is the decision artifact: a large gap says
    normalize-then-hash before paying for LSH.
    """
    docs = load(spark, sf_dir, "documents")
    ntext = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    norm = docs.select("text", ntext.alias("ntext"))
    same = F.col("text").eqNullSafe(F.col("ntext"))
    raw_row = F.struct(
        F.md5("text").alias("digest"), F.lit(True).alias("raw"), same.alias("nm")
    )
    norm_row = F.struct(
        F.md5("ntext").alias("digest"), F.lit(False).alias("raw"), F.lit(True).alias("nm")
    )
    rows = norm.select(
        F.inline(F.when(same, F.array(raw_row)).otherwise(F.array(raw_row, norm_row)))
    )
    per_digest = rows.groupBy("digest").agg(
        F.count_if("raw").alias("n_raw"), F.bool_or("nm").alias("nm")
    )
    keyed = F.col("digest").isNotNull()
    return per_digest.agg(
        F.coalesce(F.sum("n_raw"), F.lit(0)).cast("long").alias("n_docs"),
        F.count_if(keyed & F.col("nm")).cast("long").alias("n_normalized_unique"),
        F.count_if(keyed & (F.col("n_raw") > 0)).cast("long").alias("n_raw_unique"),
    ).select(
        "n_docs",
        "n_normalized_unique",
        "n_raw_unique",
        (F.col("n_raw_unique") - F.col("n_normalized_unique")).alias(
            "n_caught_by_normalization"
        ),
    )


def _nfc_udf():
    """Arrow-batched NFC normalizer. Built inside a function (not at
    decorator time at module top level) so pandas stays a lazy import;
    the local ``pd`` name is bound before the decorator inspects the
    type hints, which ``from __future__ import annotations`` turns into
    strings resolved against this function's namespace."""
    import pandas as pd  # noqa: F401 — resolved by pandas_udf's hint lookup
    from pyspark.sql.functions import pandas_udf

    def nfc(texts):
        import unicodedata

        return texts.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    nfc.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(nfc, "string")


@register(
    "dedup_unicode_normalized",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               md5(nfc_normalize(text)) AS digest,
               CAST(text <> nfc_normalize(text) AS BIGINT) AS was_denormalized
        FROM documents WHERE text IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(was_denormalized) AS BIGINT) AS n_denormalized,
           CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_nfc_unique,
           CAST((SELECT COUNT(DISTINCT md5(text)) FROM documents
                 WHERE text IS NOT NULL) AS BIGINT) AS n_raw_unique,
           CAST((SELECT COUNT(DISTINCT md5(text)) FROM documents
                 WHERE text IS NOT NULL) AS BIGINT)
               - CAST(COUNT(DISTINCT digest) AS BIGINT)
               AS n_caught_by_nfc
    FROM norm
    """,
)
def dedup_unicode_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-normalization dedup accounting: digests computed over the
    NFC normalization form catch byte-different encodings of the SAME
    text — 'é' as U+00E9 vs 'e'+U+0301 — that byte-exact hashing and
    even whitespace/case normalization (dedup_exact_normalized) miss.
    Multi-source web corpora mix normalization forms per upstream
    pipeline, so this tier runs between exact and MinHash dedup; the
    report (raw vs NFC-unique counts + how many docs were in a
    non-NFC form at all) is the decision artifact.

    Spark has no built-in NFC function, so normalization runs in an
    Arrow-batched pandas UDF (unicodedata.normalize — byte-identical to
    DuckDB's utf8proc nfc_normalize, probed on combining-mark inputs).
    Everything downstream of the scan ships one md5 digest per document
    through one ``groupBy(digest)``: a document already in NFC has equal
    raw and NFC digests, so its one row stands for both; only a document
    outside NFC adds a second row for its NFC digest. The committed
    corpus is pure ASCII (NFC is the identity there — n_denormalized
    pins 0); the charset robustness sweep's multi-byte fixture is where
    the normalization path does real work.
    """
    nfc = _nfc_udf()
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # normalize ONCE into a named column — Catalyst does not collapse two
    # textually-identical Python UDF calls, so deriving the digests and
    # the NFC flag from separate nfc(text) expressions runs the Arrow
    # stage twice over the corpus (plan-pinned to 1 stage).
    norm = docs.select("text", nfc(F.col("text")).alias("ntext"))
    # One row (digest, raw, nf) per document, keyed by its raw digest and
    # flagged nf when the text is NFC; a text outside NFC also emits its
    # NFC digest as a non-raw row. A digest is raw-unique when some row
    # for it is raw, and NFC-unique when some row for it is nf.
    is_nfc = F.col("text") == F.col("ntext")
    raw_row = F.struct(
        F.md5("text").alias("digest"), F.lit(True).alias("raw"), is_nfc.alias("nf")
    )
    nfc_row = F.struct(
        F.md5("ntext").alias("digest"), F.lit(False).alias("raw"), F.lit(True).alias("nf")
    )
    rows = norm.select(
        F.inline(F.when(is_nfc, F.array(raw_row)).otherwise(F.array(raw_row, nfc_row)))
    )
    per_digest = rows.groupBy("digest").agg(
        F.count_if("raw").alias("n_raw"),
        F.count_if(F.col("raw") & ~F.col("nf")).alias("n_denormalized"),
        F.bool_or("nf").alias("nf"),
    )
    return per_digest.agg(
        F.coalesce(F.sum("n_raw"), F.lit(0)).cast("long").alias("n_docs"),
        F.sum("n_denormalized").cast("long").alias("n_denormalized"),
        F.count_if("nf").cast("long").alias("n_nfc_unique"),
        F.count_if(F.col("n_raw") > 0).cast("long").alias("n_raw_unique"),
    ).select(
        "n_docs",
        "n_denormalized",
        "n_nfc_unique",
        "n_raw_unique",
        (F.col("n_raw_unique") - F.col("n_nfc_unique")).alias("n_caught_by_nfc"),
    )


@register(
    "source_quality_scorecard",
    oracle=r"""
    WITH per_doc AS (
        SELECT source,
               md5(text) AS digest,
               n_chars,
               CAST(LEN(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
                   AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 2) AS avg_chars,
           ROUND(1.0 - COUNT(DISTINCT digest) * 1.0 / COUNT(*), 4) AS dup_ratio,
           ROUND(AVG(CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END), 4)
               AS quality_pass_rate,
           RANK() OVER (ORDER BY
               ROUND(AVG(CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END), 4)
                   * (1 - ROUND(1.0 - COUNT(DISTINCT digest) * 1.0 / COUNT(*), 4)) DESC,
               source) AS source_rank
    FROM per_doc GROUP BY source
    """,
)
def source_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality scorecard: volume, length profile, internal
    duplicate ratio, quality-gate pass rate, and a deterministic rank by
    (pass rate × uniqueness) — the table a crawl operator sorts to decide
    which feeds to keep, throttle, or drop. The per-SOURCE grain is what
    makes curation actionable: corpus-wide stats (dataset_card_stats)
    say how bad it is, this says WHO.

    One combine-enabled aggregation on the source key (digests for the
    distinct count, never text), then a rank window over |sources| rows
    with a source tiebreak so the ordering is total in both engines.
    """
    toks_n = F.size(F.expr("filter(split(text, '\\\\s+'), t -> t != '')")).cast("long")
    per_doc = load(spark, sf_dir, "documents").select(
        "source",
        F.md5("text").alias("digest"),
        "n_chars",
        toks_n.alias("n_tokens"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(1.0 - F.count_distinct("digest") * 1.0 / F.count(F.lit(1)), 4).alias(
            "dup_ratio"
        ),
        F.round(
            F.avg(
                F.when(
                    (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000), 1.0
                ).otherwise(0.0)
            ),
            4,
        ).alias("quality_pass_rate"),
    )
    from pyspark.sql.window import Window as _W

    score = F.col("quality_pass_rate") * (1 - F.col("dup_ratio"))
    return agg.select(
        "source",
        "n_docs",
        "avg_chars",
        "dup_ratio",
        "quality_pass_rate",
        F.rank().over(_W.orderBy(score.desc(), F.col("source"))).alias("source_rank"),
    )


@register(
    "token_budget_allocator",
    oracle=r"""
    WITH counts AS (
        SELECT lang,
               CAST(SUM(LEN(list_filter(string_split_regex(text, '\s+'),
                                        t -> t <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    shares AS (
        SELECT lang, n_tokens,
               n_tokens * 1000000 // (SELECT SUM(n_tokens) FROM counts) AS floor_alloc,
               (n_tokens * 1000000) % (SELECT SUM(n_tokens) FROM counts) AS remainder
        FROM counts
    ),
    ranked AS (
        SELECT lang, n_tokens, floor_alloc,
               ROW_NUMBER() OVER (ORDER BY remainder DESC, lang ASC) AS rr
        FROM shares
    )
    SELECT lang, n_tokens,
           CAST(floor_alloc
                + CASE WHEN rr <= 1000000 - (SELECT SUM(floor_alloc) FROM ranked)
                       THEN 1 ELSE 0 END AS BIGINT) AS budget_tokens
    FROM ranked
    """,
)
def token_budget_allocator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional token-budget apportionment with largest-remainder
    rounding (Hamilton's method): a 1M-token training budget split across
    languages exactly proportionally to supply, summing EXACTLY to the
    budget — naive per-group rounding over- or under-shoots, and at a
    real 10T-token budget the drift is billions of tokens. The same
    integer apportionment allocates sampling quotas, shard counts, and
    eval seats.

    All integer arithmetic (floor division + remainder ranking with a
    lang tiebreak — no floats anywhere, so the engines cannot disagree);
    per-lang counts partial-aggregate map-side, the apportionment runs on
    |langs| rows with one 1-row total broadcast. ``counts`` stays in the
    plan: the total, the shares and the shortfall reuse its one exchange,
    so the documents scan executes once and building runs no job.
    """
    toks_n = F.size(F.expr("filter(split(text, '\\\\s+'), t -> t != '')")).cast("long")
    counts = (
        load(spark, sf_dir, "documents")
        .select("lang", toks_n.alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    total = counts.agg(F.sum("n_tokens").alias("tot"))
    shares = counts.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_tokens",
        (F.col("n_tokens") * 1000000 / F.col("tot")).cast("long").alias("floor_alloc"),
        ((F.col("n_tokens") * 1000000) % F.col("tot")).alias("remainder"),
    )
    from pyspark.sql.window import Window as _W

    ranked = shares.select(
        "lang",
        "n_tokens",
        "floor_alloc",
        F.row_number()
        .over(_W.orderBy(F.col("remainder").desc(), F.col("lang")))
        .alias("rr"),
    )
    short = ranked.agg((1000000 - F.sum("floor_alloc")).alias("short"))
    return ranked.crossJoin(F.broadcast(short)).select(
        "lang",
        "n_tokens",
        (
            F.col("floor_alloc")
            + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0)
        )
        .cast("long")
        .alias("budget_tokens"),
    )


@register(
    "stratified_kfold",
    oracle="""
    WITH folds AS (
        SELECT doc_id, lang,
               CAST(((doc_id % 2147483648) * 2654435761) % 4294967296 % 5
                   AS INTEGER) AS fold
        FROM documents
    )
    SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM folds GROUP BY fold, lang
    """,
)
def stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment (k=5) by the same Knuth
    multiplicative hash the sampling/split family uses — deterministic,
    engine-stable, no RNG state to coordinate across executors — with the
    per-(fold, lang) balance matrix that validates the folds are usable
    (a fold missing a language invalidates per-lang CV metrics).

    Fold assignment is a scan-side expression; the balance check is one
    combine-enabled aggregation on (fold, lang). Completes the split
    family: dataset_split (train/val/test), split_leakage_check (audit),
    this (CV folds).
    """
    folds = load(spark, sf_dir, "documents").select(
        "lang",
        (
            ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296) % 5
        )
        .cast("int")
        .alias("fold"),
    )
    return folds.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@register(
    "preference_pair_prep",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source,
               ROUND(1.0 / (1.0 + EXP(-(CAST(n_chars AS DOUBLE) - 250) / 100)), 6)
                   AS score
        FROM documents
    )
    SELECT a.source,
           a.doc_id AS chosen_id, b.doc_id AS rejected_id,
           a.score AS chosen_score, b.score AS rejected_score,
           ROUND(a.score - b.score, 6) AS score_gap
    FROM scored a JOIN scored b
      ON a.source = b.source AND a.doc_id <> b.doc_id
    WHERE a.score - b.score >= 0.3
    """,
)
def preference_pair_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for DPO/RLHF-style training: within each
    source (the blocking key standing in for "same prompt"), every
    (chosen, rejected) document pair whose quality-score gap clears a
    margin — the data-prep step that turns a scored corpus into
    preference pairs, where the MARGIN is what keeps labels clean
    (near-tied pairs teach noise). The score is a deterministic sigmoid
    over length standing in for a reward model; a real scorer's column
    drops in without touching the plan.

    Scoring is scan-side; pairing is a self-equi-join ON THE BLOCKING
    KEY (never a global cross join) with the margin predicate applied in
    the join — pair volume is Σ|block|², the bounded-block discipline
    every pair generator in this repo follows (dedup_containment,
    fuzzy_match). At 100 TB blocks are prompts (tens of candidates), not
    sources.
    """
    scored = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("n_chars").cast("double") - 250) / 100)), 6
        ).alias("score"),
    )
    a = scored.select(
        F.col("source").alias("source"),
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
    )
    b = scored.select(
        F.col("source").alias("source_b"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        a.join(
            b,
            (F.col("source") == F.col("source_b"))
            & (F.col("chosen_id") != F.col("rejected_id"))
            & (F.col("chosen_score") - F.col("rejected_score") >= 0.3),
        )
        .select(
            "source",
            "chosen_id",
            "rejected_id",
            "chosen_score",
            "rejected_score",
            F.round(F.col("chosen_score") - F.col("rejected_score"), 6).alias(
                "score_gap"
            ),
        )
    )


@register(
    "domain_temperature_mix",
    oracle="""
    WITH c AS (
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ),
    t AS (
        SELECT lang, cnt,
               CAST(FLOOR(SQRT(MIN(cnt) OVER () * 1.0 / cnt) * 10000) AS BIGINT)
                   AS thr
        FROM c
    )
    SELECT d.lang, t.cnt AS n_orig, COUNT(*) AS n_kept,
           ROUND(t.thr / 10000.0, 4) AS keep_rate
    FROM documents d JOIN t ON d.lang = t.lang
    WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < t.thr
    GROUP BY d.lang, t.cnt, t.thr
    """,
)
def domain_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain rebalancing (alpha = 0.5): each language
    keeps a sqrt(smallest/own) fraction of its documents, the multilingual-
    training mixture law (mT5/XLM-R style) that SOFTENS dominance instead
    of flattening it — domain_mix's uniform leveling is the alpha -> 0
    limit, keeping everything is alpha = 1. The smallest language keeps
    100%; a language 100x larger keeps 10% instead of domain_mix's 1%.

    Same deterministic Knuth-hash keep rule as dataset_split/domain_mix, so
    the kept subsets are reproducible AND nested across alpha values (a
    doc kept at a lower rate is kept at every higher rate) — re-mixing at a
    new temperature never churns the already-kept corpus. Scale shape is
    identical to domain_mix: a |langs|-row rate table broadcasts onto the
    corpus scan, the 100 TB side is filtered by a stateless hash predicate,
    never shuffled. SQRT on both engines is IEEE correctly-rounded over
    identical doubles, so the floored per-mille thresholds match exactly.
    """
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    thr = counts.select(
        "lang",
        "cnt",
        F.floor(
            F.sqrt(F.min("cnt").over(Window.partitionBy()) * 1.0 / F.col("cnt"))
            * 10000
        )
        .cast("bigint")
        .alias("thr"),
    )
    keep = (
        ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
        % F.lit(4294967296)
        % 10000
        < F.col("thr")
    )
    return (
        docs.join(F.broadcast(thr), "lang")
        .where(keep)
        .groupBy(
            "lang",
            F.col("cnt").alias("n_orig"),
            F.round(F.col("thr") / 10000.0, 4).alias("keep_rate"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        .select("lang", "n_orig", "n_kept", "keep_rate")
    )


@register(
    "dataset_shuffle_shards",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hv
        FROM documents
    ),
    placed AS (
        SELECT CAST(hv % 64 AS INTEGER) AS shard, doc_id,
               ROW_NUMBER() OVER (PARTITION BY hv % 64
                                  ORDER BY hv // 64, doc_id) AS pos
        FROM h
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM((pos % 1048576) * (doc_id % 1048576)) AS BIGINT)
               AS perm_checksum
    FROM placed
    GROUP BY shard
    """,
)
def dataset_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards: the last step
    before a training run, where the curated corpus must be (a) spread
    across N shard files with no source/time clustering and (b) in a
    reproducible pseudo-random order WITHIN each shard (so every epoch and
    every restart reads the same sequence). RNG-free: shard = Knuth
    avalanche hash mod 64, within-shard order = (remaining hash bits, id).

    Scale shape: this is exactly `repartition(64, shard)` +
    `sortWithinPartitions(hv, id)` + write — ONE hash exchange and a
    per-partition sort; there is deliberately NO global total order (a
    full orderBy would range-partition and resort the entire corpus for
    an ordering property training does not need — shard-local order plus
    hashed shard assignment is what samplers actually consume). The
    emitted per-shard permutation checksum (sum of pos x id, masked to
    stay in BIGINT on both engines) pins the entire within-shard order:
    any reordering changes it.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        (
            ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296)
        ).alias("hv"),
    )
    # name the shard key BEFORE the window so the window partitioning and
    # the final groupBy share one exchange (partitioning by the raw
    # `hv % 64` expression defeats Catalyst's partitioning reuse — it
    # cannot prove the aliased groupBy key is the same, measured +1
    # exchange)
    sharded = docs.select(
        (F.col("hv") % 64).cast("int").alias("shard"), "doc_id", "hv"
    )
    placed = sharded.select(
        "shard",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("shard").orderBy(
                F.floor(F.col("hv") / 64), F.col("doc_id")
            )
        )
        .alias("pos"),
    )
    return placed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("pos") % 1048576) * (F.col("doc_id") % 1048576))
        .cast("long")
        .alias("perm_checksum"),
    )


@register(
    "batch_padding_efficiency",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               LEN(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                   AS n_tok
        FROM documents WHERE text IS NOT NULL
    ),
    naive AS (
        SELECT n_tok,
               (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS batch
        FROM toks
    ),
    bucketed AS (
        SELECT n_tok,
               (ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS batch
        FROM toks
    ),
    pn AS (
        SELECT SUM(mx * n) AS padded, SUM(s) AS real FROM (
            SELECT MAX(n_tok) AS mx, COUNT(*) AS n, SUM(n_tok) AS s
            FROM naive GROUP BY batch
        )
    ),
    pb AS (
        SELECT SUM(mx * n) AS padded, SUM(s) AS real FROM (
            SELECT MAX(n_tok) AS mx, COUNT(*) AS n, SUM(n_tok) AS s
            FROM bucketed GROUP BY batch
        )
    )
    SELECT 'arrival_order' AS strategy,
           CAST(padded AS BIGINT) AS padded_tokens,
           CAST(real AS BIGINT) AS real_tokens,
           ROUND(1.0 - real * 1.0 / padded, 4) AS waste_ratio
    FROM pn
    UNION ALL
    SELECT 'length_bucketed' AS strategy,
           CAST(padded AS BIGINT) AS padded_tokens,
           CAST(real AS BIGINT) AS real_tokens,
           ROUND(1.0 - real * 1.0 / padded, 4) AS waste_ratio
    FROM pb
    """,
)
def batch_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching A/B: padding waste of arrival-order
    batches (batch cost = batch_size x max length in batch) versus
    batches formed after sorting by length — the dynamic-batching /
    bucketed-sampler win every training and inference stack exploits,
    measured on this corpus as one comparable pair of waste ratios. The
    per-batch padded cost is exactly what a GPU pays; the delta is free
    throughput.

    Scale shape: per-doc token counts come from the scan; each strategy
    is one global rank (the same exact-ordering cost family as
    gains_deciles — at 100 TB the sort becomes repartitionByRange on
    n_tok, which preserves the batching quality) and the waste rollup is
    a two-level aggregate on |batches| rows.
    """
    from pyspark.sql import Window

    toks = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", token_count_col().cast("long").alias("n_tok"))
    )

    def waste(batched: DataFrame, label: str) -> DataFrame:
        per_batch = batched.groupBy("batch").agg(
            F.max("n_tok").alias("mx"),
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tok").alias("s"),
        )
        return per_batch.agg(
            F.sum(F.col("mx") * F.col("n")).cast("long").alias("padded_tokens"),
            F.sum("s").cast("long").alias("real_tokens"),
        ).select(
            F.lit(label).alias("strategy"),
            "padded_tokens",
            "real_tokens",
            F.round(
                1.0 - F.col("real_tokens") * 1.0 / F.col("padded_tokens"), 4
            ).alias("waste_ratio"),
        )

    naive = toks.select(
        "n_tok",
        F.floor((F.row_number().over(Window.orderBy("doc_id")) - 1) / 32).alias(
            "batch"
        ),
    )
    bucketed = toks.select(
        "n_tok",
        F.floor(
            (F.row_number().over(Window.orderBy("n_tok", "doc_id")) - 1) / 32
        ).alias("batch"),
    )
    return waste(naive, "arrival_order").unionAll(
        waste(bucketed, "length_bucketed")
    )


# --- objective-specific training-example preparation (round 4) ----------
# T5 span corruption, fill-in-the-middle splits, and curriculum ordering:
# the last formatting steps before examples reach a trainer. All three are
# deterministic (Knuth multiplicative hash, the module's standard — no RNG)
# so both engines derive identical examples and the driver can hash-compare.

_SC_WINDOW = 20  # tokens per corruption window
_SC_SPAN = 3     # masked span length ⇒ 3/20 = 15% noise density (T5 default)


@register(
    "span_corruption_prep",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tokens
        FROM documents
    ), base AS (
        SELECT doc_id, tokens, len(tokens) AS n_tokens,
               CAST(len(tokens) // {_SC_WINDOW} AS BIGINT) AS n_spans
        FROM toks WHERE len(tokens) > 0
    ), spans AS (
        SELECT doc_id,
               w,
               w * {_SC_WINDOW}
                 + ((((doc_id * 131 + w) % 2147483648) * 2654435761)
                    % 4294967296) % ({_SC_WINDOW} - {_SC_SPAN} + 1) AS s
        FROM base, LATERAL (
            SELECT unnest(generate_series(0, CAST(n_spans AS INT) - 1)) AS w
        ) g
        WHERE n_spans > 0
    ), agg AS (
        SELECT doc_id,
               SUM(s) AS mask_pos_checksum,
               MIN(CASE WHEN w = 0 THEN s END) AS s0
        FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           b.n_spans,
           CAST(b.n_spans * {_SC_SPAN} AS BIGINT) AS n_masked,
           CAST(b.n_tokens - b.n_spans * {_SC_SPAN} + b.n_spans AS BIGINT)
               AS input_len,
           CAST(b.n_spans * {_SC_SPAN} + b.n_spans AS BIGINT) AS target_len,
           CAST(COALESCE(a.mask_pos_checksum, 0) AS BIGINT) AS mask_pos_checksum,
           COALESCE(array_to_string(
               b.tokens[a.s0 + 1 : a.s0 + {_SC_SPAN}], ' '), '') AS first_span_text
    FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
    """,
)
def span_corruption_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption statistics per document: partition the
    token stream into {window}-token windows and mask one {span}-token
    span per full window at a hash-chosen offset — exactly 15% noise
    density, non-overlapping spans BY CONSTRUCTION (each span lives
    inside its own window), no sequential scan dependency. Emits the
    encoder/decoder lengths a seq2seq batch builder needs (input keeps
    one sentinel per span; target is spans + sentinels) plus a position
    checksum and the first masked span so the compare pins the actual
    hash-driven selection, not just the arithmetic.

    Scale shape: tokenize → sequence/explode of window indices inside
    the scan stage → one groupBy(doc_id) partial-agg. The only exchange
    carries (doc_id, span-offset ints); span text never shuffles (the
    first-span sample is sliced AFTER the agg joins back on the
    already-loaded base row). Same Knuth-hash determinism as
    dataset_split — no RNG, both engines derive identical spans."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("tokens"),
    ).where(F.size("tokens") > 0).select(
        "doc_id",
        "tokens",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.floor(F.size("tokens") / _SC_WINDOW).alias("n_spans"),
    )
    spans = base.where(F.col("n_spans") > 0).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_spans") - 1)).alias("w"),
    ).select(
        "doc_id",
        "w",
        (
            F.col("w") * _SC_WINDOW
            + (
                (((F.col("doc_id") * 131 + F.col("w")) % F.lit(2147483648))
                 * F.lit(2654435761))
                % F.lit(4294967296)
            ) % F.lit(_SC_WINDOW - _SC_SPAN + 1)
        ).alias("s"),
    )
    agg = spans.groupBy("doc_id").agg(
        F.sum("s").alias("mask_pos_checksum"),
        F.min(F.when(F.col("w") == 0, F.col("s"))).alias("s0"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_spans",
        (F.col("n_spans") * _SC_SPAN).cast("long").alias("n_masked"),
        (F.col("n_tokens") - F.col("n_spans") * _SC_SPAN + F.col("n_spans"))
        .cast("long")
        .alias("input_len"),
        (F.col("n_spans") * _SC_SPAN + F.col("n_spans"))
        .cast("long")
        .alias("target_len"),
        F.coalesce("mask_pos_checksum", F.lit(0)).cast("long").alias(
            "mask_pos_checksum"
        ),
        F.coalesce(
            F.array_join(
                F.slice("tokens", F.col("s0") + 1, F.lit(_SC_SPAN)), " "
            ),
            F.lit(""),
        ).alias("first_span_text"),
    )


@register(
    "fim_split_prep",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
                   AS n
        FROM documents
    ), cuts AS (
        SELECT doc_id, n,
               1 + (((doc_id % 2147483648) * 2654435761) % 4294967296) % (n - 2)
                   AS c1
        FROM toks WHERE n >= 3
    ), cuts2 AS (
        SELECT doc_id, n, c1,
               c1 + 1 + ((((doc_id + 7) % 2147483648) * 2654435761)
                         % 4294967296) % (n - c1 - 1) AS c2
        FROM cuts
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(c1 AS BIGINT) AS len_prefix,
           CAST(c2 - c1 AS BIGINT) AS len_middle,
           CAST(n - c2 AS BIGINT) AS len_suffix,
           CASE WHEN ((((doc_id + 13) % 2147483648) * 2654435761)
                      % 4294967296) % 2 = 0
                THEN 'PSM' ELSE 'SPM' END AS mode
    FROM cuts2
    UNION ALL
    SELECT doc_id, CAST(n AS BIGINT), CAST(n AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'
    FROM toks WHERE n < 3
    """,
)
def fim_split_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) split preparation: two hash-derived cut
    points divide each document into non-empty prefix/middle/suffix, and
    a third hash picks PSM vs SPM sentinel order — the code-model
    pretraining transform (Bavarian et al. 2022), applied at a
    deterministic 100% rate so the driver compare covers every branch
    (deployments sample the rate with one more hash threshold, exactly
    dataset_split's mechanism). Documents under 3 tokens pass through
    unsplit with mode 'none' — the degenerate class a batch builder must
    route around.

    Scale shape: pure per-row integer expressions in the scan stage —
    no explode, no shuffle, no Python. The whole transform runs at scan
    bandwidth regardless of corpus size; only the final collect-free
    projection leaves the stage. The splittable and under-3-token
    branches are ONE guarded CASE over one scan (the pre-reshape
    union of two complementary filters tokenized the corpus twice with
    zero runtime reuse)."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", token_count_col().alias("n")
    )
    knuth = lambda e: ((e % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296)  # noqa: E731
    ok = F.col("n") >= 3
    # Guard the modulus denominators: for under-3-token rows c1/c2 are
    # never emitted, but the expressions must still be evaluable.
    c1 = F.when(ok, 1 + knuth(F.col("doc_id")) % (F.col("n") - 2)).otherwise(
        F.col("n")
    )
    cuts = toks.select("doc_id", "n", c1.alias("c1"))
    c2 = F.when(
        ok,
        F.col("c1") + 1 + knuth(F.col("doc_id") + 7) % (F.col("n") - F.col("c1") - 1),
    ).otherwise(F.col("n"))
    cuts2 = cuts.select("doc_id", "n", "c1", c2.alias("c2"))
    return cuts2.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("c1").cast("long").alias("len_prefix"),
        (F.col("c2") - F.col("c1")).cast("long").alias("len_middle"),
        (F.col("n") - F.col("c2")).cast("long").alias("len_suffix"),
        F.when(~ok, "none")
        .when(knuth(F.col("doc_id") + 13) % 2 == 0, "PSM")
        .otherwise("SPM")
        .alias("mode"),
    )


@register(
    "curriculum_order",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tokens
        FROM documents
    ), feats AS (
        SELECT doc_id,
               len(tokens) AS n_tok,
               list_avg(list_transform(tokens, t -> CAST(LENGTH(t) AS DOUBLE)))
                   AS avg_word_len,
               len(list_distinct(tokens)) * 1.0 / len(tokens) AS ttr
        FROM toks WHERE len(tokens) > 0
    ), scored AS (
        -- difficulty is (char_sum + distinct)/n_tok: a rational whose
        -- shortest decimal repr can be exactly .xxxx5 with the binary
        -- double below it (167/160 = 1.04375 -> Spark F.round 1.0438,
        -- DuckDB binary ROUND 1.0437), so round the shortest repr per
        -- the registry rounding rule (registry.py:16-25)
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
               CAST(ROUND(CAST(CAST(avg_word_len + ttr AS VARCHAR)
                               AS DECIMAL(38,18)), 4) AS DOUBLE) AS difficulty
        FROM feats
    )
    SELECT doc_id, n_tok, difficulty,
           CAST(NTILE(4) OVER (ORDER BY difficulty, doc_id) AS BIGINT) AS phase
    FROM scored
    """,
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: score each document's
    lexical difficulty (mean word length + type-token ratio — longer
    words and less repetition read harder) and split the corpus into 4
    curriculum phases by NTILE over (difficulty, doc_id) — easy phases
    train first. The ranking key is ROUNDED difficulty with a doc_id
    tiebreak so phase boundaries cannot flip on float drift
    (partition-invariance rule; same convention as gains_deciles).

    Scale shape: per-doc features are scan-local HOF arithmetic (no
    vocabulary pass, no join); the only global operation is the NTILE
    sort — a range-partitioned exchange on a (double, long) pair per
    doc, the same cost class as any global ranking. At 100 TB the
    difficulty histogram is near-static, so a deployment replaces NTILE
    with fixed difficulty thresholds (broadcast scalars) and drops the
    global sort entirely; the NTILE form is the exact-quartile
    reference."""
    from pyspark.sql import Window

    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("tokens"),
    ).where(F.size("tokens") > 0)
    feats = toks.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tok"),
        F.aggregate(
            F.transform("tokens", lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("len_sum"),
        (F.size(F.array_distinct("tokens")) * 1.0 / F.size("tokens")).alias("ttr"),
    )
    scored = feats.select(
        "doc_id",
        "n_tok",
        F.round(F.col("len_sum") / F.col("n_tok") + F.col("ttr"), 4).alias(
            "difficulty"
        ),
    )
    return scored.select(
        "doc_id",
        "n_tok",
        "difficulty",
        F.ntile(4)
        .over(Window.orderBy("difficulty", "doc_id"))
        .cast("long")
        .alias("phase"),
    )
