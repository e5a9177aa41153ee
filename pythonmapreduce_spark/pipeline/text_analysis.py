r"""Text analysis operators for training-data pipelines.

Per-document statistics, language ID (marker-token heuristic), quality
scoring (length/punctuation/stopword ratios), tokenizer comparison
(whitespace vs BPE-ish regex), and content fingerprinting — all pure
Column expressions (whole-stage codegen, no Python), each with a DuckDB
oracle twin.

These generalize the reference's only text op — whitespace word count
(/root/reference/mapreduce_wc.py:3-11) — into the per-document feature
extraction a corpus-curation pipeline runs before dedup/filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.materialize import materialize_observed
from pythonmapreduce_spark.plans.registry import register
from pythonmapreduce_spark.sources.text_corpus import token_count_col, tokens_col

# Fixed marker vocabularies for the lang-id heuristic (unigram overlap —
# the n=1 case of n-gram language ID). Deterministic and SQL-expressible.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("data", "query", "table", "join", "index"),
    "es": ("datos", "consulta", "tabla", "indice", "союз"),
    "de": ("daten", "abfrage", "tabelle", "verbund", "spalte"),
}

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


@register(
    "text_stats",
    oracle=r"""
    WITH per_doc AS (
        SELECT lang,
               CAST(LEN(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
                   AS n_tokens,
               n_chars
        FROM documents
    )
    SELECT lang,
           COUNT(*)                                   AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)              AS total_tokens,
           ROUND(AVG(n_tokens), 4)                    AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT)               AS total_chars,
           ROUND(AVG(n_chars), 4)                     AS avg_chars,
           CAST(MAX(n_tokens) AS BIGINT)              AS max_tokens,
           CAST(MIN(n_tokens) AS BIGINT)              AS min_tokens
    FROM per_doc
    GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics over per-doc token/char counts."""
    per_doc = load(spark, sf_dir, "documents").select(
        "lang", token_count_col().cast("long").alias("n_tokens"), "n_chars"
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max("n_tokens").alias("max_tokens"),
        F.min("n_tokens").alias("min_tokens"),
    )


def _marker_array_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang]) + "]"


@register(
    "lang_id",
    oracle=rf"""
    WITH scored AS (
        SELECT doc_id, lang,
               LEN(list_intersect(
                   list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')),
                   {_marker_array_sql("en")})) AS s_en,
               LEN(list_intersect(
                   list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')),
                   {_marker_array_sql("es")})) AS s_es,
               LEN(list_intersect(
                   list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')),
                   {_marker_array_sql("de")})) AS s_de
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_de > s_en AND s_de > s_es THEN 'de'
                WHEN s_es > s_en AND s_es >= s_de THEN 'es'
                ELSE 'en' END AS predicted_lang,
           CAST(GREATEST(s_en, s_es, s_de) AS BIGINT) AS marker_hits
    FROM scored
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (unigram-overlap heuristic).

    Scores each document's distinct-token overlap against fixed per-lang
    marker sets; argmax with deterministic tiebreak en > es > de (matching
    the oracle's CASE order). The heuristic mechanism is the point — the
    synthetic corpus's text need not correlate with its lang column.
    """
    tset = F.array_distinct(tokens_col())
    scores = {
        lang: F.size(F.array_intersect(tset, F.array(*[F.lit(w) for w in words])))
        for lang, words in _LANG_MARKERS.items()
    }
    pred = (
        F.when((scores["de"] > scores["en"]) & (scores["de"] > scores["es"]), "de")
        .when((scores["es"] > scores["en"]) & (scores["es"] >= scores["de"]), "es")
        .otherwise("en")
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        F.greatest(*scores.values()).cast("long").alias("marker_hits"),
    )


_PUNCT_CLASS = r"[.,;:!?]"
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


@register(
    "quality_score",
    oracle=rf"""
    WITH feat AS (
        SELECT doc_id,
               CAST(LENGTH(text) AS BIGINT) AS n_chars_actual,
               CAST(LEN(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
                   AS n_tokens,
               CAST(LENGTH(text) - LENGTH(regexp_replace(text, '{_PUNCT_CLASS}', '', 'g'))
                    AS BIGINT) AS n_punct,
               CAST(LEN(list_filter(string_split_regex(text, '\s+'),
                                    t -> list_contains({_STOP_SQL}, t))) AS BIGINT)
                   AS n_stop
        FROM documents
    )
    SELECT doc_id, n_tokens,
           ROUND(CAST(n_punct AS DOUBLE) / GREATEST(n_chars_actual, 1), 6) AS punct_ratio,
           ROUND(CAST(n_stop AS DOUBLE) / GREATEST(n_tokens, 1), 6)        AS stopword_ratio,
           ROUND(CAST(n_chars_actual AS DOUBLE) / GREATEST(n_tokens, 1), 4) AS avg_token_len,
           (n_tokens >= 5 AND n_tokens <= 5000
            AND CAST(n_punct AS DOUBLE) / GREATEST(n_chars_actual, 1) < 0.2) AS passes_filter
    FROM feat
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features: punctuation ratio, stopword ratio, mean
    token length, and a boolean keep/drop gate — the standard heuristic
    pre-filter before expensive pipeline stages."""
    toks = tokens_col()
    n_chars_actual = F.length("text").cast("long")
    n_tokens = F.size(toks).cast("long")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), _PUNCT_CLASS, ""))
    ).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("long")
    punct_ratio = F.round(n_punct.cast("double") / F.greatest(n_chars_actual, F.lit(1)), 6)
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        F.round(n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(n_chars_actual.cast("double") / F.greatest(n_tokens, F.lit(1)), 4).alias("avg_token_len"),
        (
            (n_tokens >= 5)
            & (n_tokens <= 5000)
            & (n_punct.cast("double") / F.greatest(n_chars_actual, F.lit(1)) < 0.2)
        ).alias("passes_filter"),
    )


@register(
    "token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(LEN(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
               AS ws_tokens,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
               AS bpe_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Token counting two ways: whitespace (the reference's contract) and a
    BPE-ish pre-tokenizer regex (letter runs | digit runs | single
    punctuation) — the standard cost estimate for LLM corpus sizing."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_col().cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
        .cast("long")
        .alias("bpe_tokens"),
    )


@register(
    "doc_fingerprint",
    oracle=r"""
    SELECT doc_id,
           CAST(COALESCE(list_sum(
               list_transform(
                   list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
                   (t, i) -> i * (ascii(t) * 7 + LENGTH(t)))), 0) AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling fingerprint over the token stream:
    sum_i i * (ascii(t_i)*7 + len(t_i)). Order-sensitive (a permutation of
    the same tokens fingerprints differently), overflow-free, and
    bit-identical across engines — unlike murmur/xxhash which differ by
    implementation."""
    toks = tokens_col()
    weighted = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
        lambda t, i: i.cast("long") * (F.ascii(t).cast("long") * 7 + F.length(t).cast("long")),
    )
    fp = F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.size(toks) > 0, fp).otherwise(F.lit(0).cast("long")).alias("fingerprint"),
    )


@register(
    "tfidf_terms",
    oracle=r"""
    WITH tokens AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')))
                   AS term
        FROM documents
    ), n_docs AS (
        SELECT COUNT(*) AS n FROM documents
    ), df AS (
        SELECT term, COUNT(*) AS doc_freq FROM tokens GROUP BY term
    ), tf AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
        FROM documents
    ), tf_counts AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
    )
    SELECT doc_id, term,
           ROUND(tf * LN(CAST(n AS DOUBLE) / doc_freq), 6) AS tfidf
    FROM tf_counts JOIN df USING (term) CROSS JOIN n_docs
    WHERE doc_id <= 100
    """,
)
def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (document, term): tf · ln(N / df).

    Two aggregations over one explode — term frequency per doc and document
    frequency per term — joined back; the document count is a 1-row
    broadcast. The df table is term-cardinality-sized, far smaller than the
    corpus, so the join is the cheap side at scale. Output bounded to
    doc_id ≤ 100 to keep the oracle comparison tractable.
    """
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar, computed once driver-side
    exploded = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = exploded.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = (
        exploded.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    return (
        tf.join(df_tbl, "term")
        .where(F.col("doc_id") <= 100)
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("doc_freq")), 6
            ).alias("tfidf"),
        )
    )


@register(
    "ngram_bigrams",
    oracle=r"""
    WITH toks AS (
        SELECT list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        FROM documents
    ), bigrams AS (
        SELECT UNNEST(list_filter(
                   list_transform(l, (x, i) -> CASE WHEN i < LEN(l)
                                               THEN x || ' ' || l[i + 1] END),
                   b -> b IS NOT NULL)) AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bigrams
    GROUP BY bigram
    HAVING COUNT(*) >= 5
    """,
)
def ngram_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (n-gram generation as expressions: zip each
    token with its successor, no UDF), thresholded to frequent pairs."""
    toks = tokens_col()
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 5)
    )


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): plain character classes, no lookaround.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"555-01[0-9]{2}"


@register(
    "pii_scrub",
    oracle=r"""
    WITH tagged AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-01'
                    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
        FROM documents
    )
    SELECT doc_id,
           LEN(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS n_emails,
           LEN(regexp_extract_all(t, '555-01[0-9]{2}')) AS n_phones,
           LENGTH(regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                              '[EMAIL]', 'g'),
               '555-01[0-9]{2}', '[PHONE]', 'g')) AS clean_len
    FROM tagged
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and replace email/phone patterns.

    The fixture corpus carries no real PII, so the query first APPENDS a
    deterministic synthetic email + phone per document (derived from
    doc_id, identically in Spark and the oracle), then scrubs — proving
    the counting and global-replace semantics end to end. Pure JVM regex
    expressions in one codegen stage: at 100 TB this runs at scan
    throughput with no shuffle at all.
    """
    tagged = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("t"),
    )
    clean = F.regexp_replace(
        F.regexp_replace("t", F.lit(_EMAIL_RE), F.lit("[EMAIL]")),
        F.lit(_PHONE_RE),
        F.lit("[PHONE]"),
    )
    return tagged.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.length(clean).alias("clean_len"),
    )


@register(
    "repetition_filter",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
                   AS tok
        FROM documents
    ), counts AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
    ), per_doc AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS top_count
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(n_distinct / CAST(n_tokens AS DOUBLE), 4) AS distinct_ratio,
           ROUND(top_count / CAST(n_tokens AS DOUBLE), 4) AS top_token_ratio,
           (n_distinct / CAST(n_tokens AS DOUBLE) >= 0.2
            AND top_count / CAST(n_tokens AS DOUBLE) <= 0.2) AS keep
    FROM per_doc
    """,
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher-rules family): flag
    documents whose token distribution is degenerate — low distinct-token
    ratio or a single token dominating — the signature of boilerplate,
    keyword stuffing, and generation loops.

    Emits the keep/drop decision as a column (not a filter) so the oracle
    checks every document's signals. Shape at 100 TB: explode → two
    aggregations, both keyed by doc_id, so the second reuses the first's
    partitioning; partial aggregation collapses each partition's token
    multiset before the shuffle.
    """
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens_col()).alias("tok"))
    )
    counts = toks.groupBy("doc_id", "tok").count()
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("count").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("count").alias("top_count"),
    )
    distinct_ratio = F.col("n_distinct") / F.col("n_tokens").cast("double")
    top_ratio = F.col("top_count") / F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(top_ratio, 4).alias("top_token_ratio"),
        ((distinct_ratio >= 0.2) & (top_ratio <= 0.2)).alias("keep"),
    )


# One regex, three anchored groups — identical under Java regex and RE2.
_URL_HOST = r"^https?://([^/?#]+)"
_URL_PATH = r"^https?://[^/?#]+(/[^?#]*)"
_URL_QKEY = r"[?&]utm_source=([^&#]*)"


@register(
    "url_parse",
    oracle=r"""
    WITH urls AS (
        SELECT doc_id,
               'https://' || source || '.example.' ||
               CASE WHEN doc_id % 3 = 0 THEN 'com' ELSE 'org' END ||
               '/docs/' || CAST(doc_id AS VARCHAR) ||
               CASE WHEN doc_id % 2 = 0
                    THEN '?utm_source=feed&x=1' ELSE '' END AS url
        FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]utm_source=([^&#]*)', 1) AS utm_source
    FROM urls
    """,
)
def url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition for web-corpus curation: host (the dedup/quality
    blocking key), path, and a tracking parameter.

    URLs are synthesized deterministically from doc metadata (the fixture
    corpus carries none), identically in both engines. Pure regexp_extract
    — one codegen stage at scan throughput; the host column is what a
    100 TB crawl dedup blocks on before any content comparison.
    """
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example."),
        F.when(F.col("doc_id") % 3 == 0, "com").otherwise("org"),
        F.lit("/docs/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, "?utm_source=feed&x=1").otherwise(""),
    )
    return docs.select(
        "doc_id",
        F.regexp_extract(url, _URL_HOST, 1).alias("host"),
        F.regexp_extract(url, _URL_PATH, 1).alias("path"),
        F.regexp_extract(url, _URL_QKEY, 1).alias("utm_source"),
    )


@register(
    "dataset_split",
    oracle="""
    WITH assigned AS (
        SELECT lang,
               CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10 < 8 THEN 'train'
                    WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10 = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs
    FROM assigned
    GROUP BY split, lang
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment via a Knuth
    multiplicative hash of the stable document id — reproducible across
    runs, machines, and engines (no RNG, no partition dependence), which is
    the property a training-data split MUST have so re-running the pipeline
    never leaks val/test documents into train.

    Output is the per-split per-language distribution (the balance check a
    curation pipeline asserts before shipping).
    """
    split = (
        F.when(((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296) % 10 < 8, "train")
        .when(((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296) % 10 == 8, "val")
        .otherwise("test")
    )
    return (
        load(spark, sf_dir, "documents")
        .groupBy(split.alias("split"), "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ONE oracle for both decontamination variants: the two queries differ
# only in join ALGORITHM (per-snippet substring probe vs 60-char-window
# hash equi-join), never in semantics — sharing the constant makes that
# contract structural instead of a copy that could drift.
_DECONTAMINATION_ORACLE = """
    WITH bench AS (
        SELECT doc_id AS b_id, substring(text, 1, 60) AS snip
        FROM documents WHERE doc_id % 7 = 0 AND LENGTH(text) >= 60
    )
    SELECT DISTINCT d.doc_id, d.lang
    FROM documents d JOIN bench b
      ON d.doc_id <> b.b_id AND position(b.snip IN d.text) > 0
    WHERE d.doc_id % 7 <> 0
    """


@register("decontamination", oracle=_DECONTAMINATION_ORACLE)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents containing a
    benchmark document's opening snippet (stand-in benchmark: every 7th
    doc; snippet = 60-char prefix, the n-gram-containment shape real
    decontamination uses since contaminated copies are rarely byte-exact).

    Scale shape: real benchmark suites are tiny relative to a 100 TB
    corpus, so the snippet set broadcasts and the corpus streams through
    one substring-scan stage — no shuffle of the training side; only the
    flagged doc_ids come back.
    """
    docs = load(spark, sf_dir, "documents")
    bench = (
        docs.where((F.col("doc_id") % 7 == 0) & (F.length("text") >= 60))
        .select(F.col("doc_id").alias("b_id"), F.substring("text", 1, 60).alias("snip"))
    )
    return (
        docs.where(F.col("doc_id") % 7 != 0)
        .join(
            F.broadcast(bench),
            (F.col("doc_id") != F.col("b_id")) & (F.instr("text", F.col("snip")) > 0),
        )
        .select("doc_id", "lang")
        .distinct()
    )


@register("decontamination_ngram", oracle=_DECONTAMINATION_ORACLE)
def decontamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination, LARGE-BENCH scale path: identical semantics to
    ``decontamination`` (flag training docs containing any benchmark
    snippet; the oracle is literally the same SQL), different join
    algorithm for when the snippet set is too big for per-snippet
    substring probes.

    The broadcast-``contains`` theta join costs O(corpus_bytes × |bench|)
    character comparisons — right when |bench| is a few thousand, hopeless
    for a mega-benchmark registry (every eval suite + their train splits,
    ~10⁶ snippets). Here the corpus side instead explodes each doc into
    its 60-char windows and BroadcastHashJoins them against the snippet
    set on STRING EQUALITY: O(corpus_bytes × 60) window materialization +
    one hash probe per window, linear in both sides, and the hash table
    costs one probe regardless of |bench|. Only matching (doc_id, lang)
    rows flow into the final distinct. The window width is the snippet
    length (fixed 60 here, as in ``decontamination``'s fixture rule);
    variable-length snippet sets bucket by length, one pass per bucket —
    still |buckets| linear passes, never |bench| probes.

    Window extraction is ONE ``regexp_extract_all`` pass with a
    lookahead capture — ``(?s)(?=(.{60}))`` matches every character
    position and captures the 60 chars from it — NOT a per-position
    ``substring(text, pos, 60)`` over an exploded ``sequence``: UTF-8
    strings have variable-width chars, so each substring(pos) call seeks
    from the string start, making that formulation O(len²) PER DOCUMENT
    (the extended-decade SCALING sweep measured it at b=1.31 and 55 s at
    sf1.0; the single-pass regex walks the doc once, 4.7 s — 12×).

    Plan pin (tests/test_plans.py): BroadcastHashJoin, NOT
    BroadcastNestedLoopJoin — the whole point of the variant.
    """
    docs = load(spark, sf_dir, "documents")
    bench = (
        docs.where((F.col("doc_id") % 7 == 0) & (F.length("text") >= 60))
        .select(F.col("doc_id").alias("b_id"), F.substring("text", 1, 60).alias("snip"))
    )
    windows = (
        docs.where(F.col("doc_id") % 7 != 0)
        .where(F.length("text") >= 60)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(r"regexp_extract_all(text, '(?s)(?=(.{60}))', 1)")
            ).alias("win"),
        )
    )
    return (
        windows.join(
            F.broadcast(bench),
            (F.col("win") == F.col("snip")) & (F.col("doc_id") != F.col("b_id")),
            "left_semi",
        )
        .select("doc_id", "lang")
        .distinct()
    )


_HH_THRESHOLD = 400  # tokens appearing more than this many times, corpus-wide


@register(
    "heavy_hitters",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT UNNEST(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
            AS word
        FROM documents
    )
    GROUP BY word
    HAVING COUNT(*) > {_HH_THRESHOLD}
    """,
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-wide heavy hitters via the two-pass candidate pattern:
    per-partition candidate generation (no shuffle), then an exact recount
    restricted to the merged candidate set.

    Candidate rule (pigeonhole, valid at ANY corpus size): a token with
    global count > T must have local count > T/P in at least one of the P
    partitions, so emitting each partition's words with exact local count
    > T/P yields a provable superset of every true heavy hitter; pass 2's
    exact recount drops the false positives. An earlier revision used a
    fixed-capacity Misra–Gries sketch (k=256) here, but MG's guarantee is
    count > N_p/(k+1) PER PARTITION — with fixed k that bound passes T/P
    only while total tokens ≲ k·T, silently dropping true heavy hitters on
    bigger corpora. Exact local counts cost partition-vocabulary memory
    (bounded by spark.sql.files.maxPartitionBytes) and keep the guarantee
    unconditionally. At 100 TB the first pass reduces the shuffle from
    |all tokens| to |candidates| (≤ N·P/T across the corpus — operators
    scale T with corpus size, which also keeps the candidate broadcast
    small); the DuckDB oracle proves the result is EXACT, not approximate.
    """
    from collections import Counter

    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_col()).alias("word"))

    # Partition count of the scan (explode is narrow, so the mapInPandas
    # below runs over exactly these partitions). Known at plan time; no job.
    n_parts = max(1, toks.rdd.getNumPartitions())
    local_thresh = _HH_THRESHOLD / n_parts

    def local_candidates(batches):
        counts: Counter = Counter()
        for pdf in batches:
            counts.update(pdf["word"])
        yield pd.DataFrame(
            {"word": [w for w, c in counts.items() if c > local_thresh]}
        )

    candidates = toks.mapInPandas(local_candidates, "word string").distinct()
    return (
        toks.join(F.broadcast(candidates), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > _HH_THRESHOLD)
    )


_TRAIN_PREP_ORACLE = r"""
WITH survivors AS (
    SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
), bench AS (
    SELECT substring(text, 1, 60) AS snip
    FROM documents WHERE doc_id % 7 = 0 AND LENGTH(text) >= 60
), clean AS (
    SELECT d.doc_id, d.lang,
           CASE WHEN ((d.doc_id % 2147483648) * 2654435761) % 4294967296 % 10 < 8 THEN 'train'
                WHEN ((d.doc_id % 2147483648) * 2654435761) % 4294967296 % 10 = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM documents d
    JOIN survivors s ON d.doc_id = s.doc_id
    WHERE d.n_chars >= 100
      AND LEN(list_filter(string_split_regex(d.text, '\s+'), t -> t <> '')) >= 10
      AND NOT EXISTS (
          SELECT 1 FROM bench b WHERE contains(d.text, b.snip)
      )
)
SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM clean
GROUP BY split, lang
"""


@register("pipeline_train_prep", oracle=_TRAIN_PREP_ORACLE)
def pipeline_train_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data preparation: length + token-count quality
    gate → benchmark decontamination → exact dedup (first-doc survivor)
    → deterministic train/val/test split → per-(split, lang) counts.
    (Decontam and dedup commute — identical texts get identical
    verdicts — so this order equals the dedup-first composition while
    keeping text out of every exchange; see the inline note.)

    The full nightly chain a pretraining corpus runs, composed from this
    engine's operators as ONE Catalyst plan: the quality filters evaluate
    scan-side, the dedup window shuffles on the text hash, the
    decontamination snippet set broadcasts (the corpus side never
    re-shuffles for it), and the split is the Knuth multiplicative hash —
    no RNG, stable across engines and runs.

    Scale note on the decontamination stage: it runs the WINDOW-HASH
    path (``decontamination_ngram``'s certified shape) — each
    quality-passing doc explodes into its 60-char windows via one
    ``regexp_extract_all`` pass and BroadcastHashJoins them against the
    snippet set on STRING EQUALITY, then a combine-enabled per-doc
    max(hit) folds the verdict back to one row per doc. That costs O(corpus_chars × window_width)
    through one hash probe per window, linear in BOTH sides — vs the
    per-snippet broadcast-``contains`` theta join (the standalone
    ``decontamination`` query's small-bench shape), whose
    O(corpus_bytes × |bench|) probe loop is also the single
    JIT-compile-sensitive hot loop in the whole headline set (measured
    bimodal 1.0 s / 1.8 s across same-code bench runs depending on
    whether C2 finished tiering the generated contains loop during
    warmup; the hash probe shows no such mode split). The group-back
    exchange ships one boolean per (doc, window-match) AFTER map-side
    partial aggregation — |docs| narrow rows, not |windows|.
    Composability is the point: each stage is an already-certified
    operator (pipeline_clean_corpus, dedup_exact, decontamination_ngram,
    dataset_split) and the composition still hash-matches a
    single-statement SQL oracle.
    """
    from pythonmapreduce_spark.sources.text_corpus import token_count_col

    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    bench = (
        docs.where((F.col("doc_id") % 7 == 0) & (F.length("text") >= 60))
        .select(F.substring("text", 1, 60).alias("snip"))
    )
    quality = docs.where(F.col("n_chars") >= 100).where(token_count_col() >= 10)
    # contains(text, snip) with every snippet exactly 60 chars ⇔ some
    # 60-char window of text equals some snippet; the lookahead capture
    # walks the doc once (see decontamination_ngram's docstring for why
    # per-position substring() would be O(len²) per doc).
    #
    # The decontam verdict runs BEFORE the dedup window (they commute:
    # identical texts have identical windows, hence identical verdicts,
    # so filtering whole duplicate classes before or after picking the
    # min-doc_id survivor yields the same set — asserted value-identical
    # against the dedup-first form at sf0.1), and DEPLOYMENT §3's
    # content rule holds: every exchange carries (doc_id, lang, 32-byte
    # digest) or bare doc_ids, never text.
    #
    # Round 11 (guide §2.3, project before the expensive operator): the
    # window stream is now doc_id + window ONLY — the old form computed
    # sha2 and carried (lang, 64-char hex digest) on EVERY exploded
    # window row, so ~corpus_chars rows × ~80 extra bytes flowed through
    # the broadcast probe and a corpus_chars-row partial aggregate
    # (groupBy doc_id, lang, h, max(hit)). Contaminated doc_ids are
    # instead collected by decontamination_ngram's exact certified
    # shape (explode → broadcast-semi → distinct: only MATCHING ids
    # reach the exchange) and anti-joined back onto the one-row-per-doc
    # quality scan. Docs shorter than 60 chars cannot contain a snippet
    # and skip the explode entirely. Measured 1.64 s → 0.98 s min-of-6
    # interleaved at sf0.1, identical 15 rows. The hit set is bare ids —
    # at 100 TB it broadcasts while small and degrades to a shuffled
    # anti-join on ids (never text) if the contamination rate explodes.
    hits = (
        quality.where(F.length("text") >= 60)
        .select(
            "doc_id",
            F.explode(
                F.expr(r"regexp_extract_all(text, '(?s)(?=(.{60}))', 1)")
            ).alias("win"),
        )
        .join(F.broadcast(bench), F.col("win") == F.col("snip"), "left_semi")
        .select("doc_id")
        .distinct()
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    clean = (
        quality.select("doc_id", "lang", F.sha2("text", 256).alias("h"))
        .join(hits, "doc_id", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    split = (
        F.when(((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296) % 10 < 8, "train")
        .when(((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296) % 10 == 8, "val")
        .otherwise("test")
    )
    return (
        clean.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_PMI_ORACLE = r"""
WITH toks AS (
    SELECT list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
    FROM documents
), uni AS (
    SELECT UNNEST(l) AS w FROM toks
), unicnt AS (
    SELECT w, COUNT(*) AS c FROM uni GROUP BY w
), big AS (
    SELECT UNNEST(list_filter(
               list_transform(l, (x, i) -> CASE WHEN i < LEN(l)
                                           THEN x || ' ' || l[i + 1] END),
               b -> b IS NOT NULL)) AS bigram
    FROM toks
), bigcnt AS (
    SELECT bigram, COUNT(*) AS c_ab FROM big GROUP BY bigram
), tot AS (
    SELECT (SELECT SUM(c) FROM unicnt) AS n_uni,
           (SELECT SUM(c_ab) FROM bigcnt) AS n_big
)
SELECT b.bigram, CAST(b.c_ab AS BIGINT) AS c_ab,
       ROUND(LN((b.c_ab * t.n_uni * t.n_uni)
                / (t.n_big * a.c * z.c)), 3) + 0.0 AS pmi
FROM bigcnt b
JOIN unicnt a ON a.w = string_split(b.bigram, ' ')[1]
JOIN unicnt z ON z.w = string_split(b.bigram, ' ')[2]
CROSS JOIN tot t
WHERE b.c_ab >= 10
"""


@register("collocation_pmi", oracle=_PMI_ORACLE)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information for frequent
    bigrams — PMI = ln(p(ab) / (p(a)·p(b))) with p(ab) over bigram mass
    and p(·) over unigram mass.

    The lexical-analysis workhorse for tokenizer/vocab curation (which
    multiword units deserve merges). Plan: one token explode feeds BOTH
    the unigram and bigram aggregates; the two count tables then join on
    the bigram's component words — the unigram side is small (vocab-
    sized) and broadcasts, so the corpus-proportional work is the two
    hash aggregates. The scalar totals ride along as a 1-row cross join,
    and PMI itself is per-row double math (no summation), identical in
    both engines.

    ``uni`` stays in the plan: n_uni and the two component joins reuse
    its one exchange. Only the c_ab ≥ 10 slice of the bigram counts is
    checkpointed; n_big, the full table's other consumer, is an
    ``observe()`` metric summed during that same pass and folded into the
    projection as a literal.
    """
    toks = tokens_col()
    docs = load(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # Kept (a): the driver reads n_big, observed by this pass. It is None
    # only on an empty corpus, where `big` is empty and the literal never
    # meets a row.
    big, stats = materialize_observed(
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab")),
        F.sum("c_ab").alias("n_big"),
        where=F.col("c_ab") >= 10,
    )
    tot = uni.agg(F.sum("c").alias("n_uni")).withColumn(
        "n_big", F.lit(stats["n_big"]).cast("long")
    )
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    a = uni.select(F.col("w").alias("_w1"), F.col("c").alias("c_a"))
    z = uni.select(F.col("w").alias("_w2"), F.col("c").alias("c_b"))
    return (
        big.withColumn("_w1", w1)
        .withColumn("_w2", w2)
        .join(F.broadcast(a), "_w1")
        .join(F.broadcast(z), "_w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "c_ab",
            (
                F.round(
                    F.log(
                        (F.col("c_ab") * F.col("n_uni") * F.col("n_uni"))
                        / (F.col("n_big") * F.col("c_a") * F.col("c_b"))
                    ),
                    3,
                )
                + F.lit(0.0)  # fold IEEE -0.0 to +0.0, same as the oracle's + 0.0
            ).alias("pmi"),
        )
    )


_QUARANTINE_ORACLE = """
WITH tagged AS (
    SELECT event_type,
           CASE WHEN event_id % 13 = 0 THEN '}{' || props ELSE props END AS s
    FROM events
)
SELECT event_type,
       CAST(SUM(CASE WHEN COALESCE(json_valid(s), FALSE) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_valid,
       CAST(SUM(CASE WHEN COALESCE(json_valid(s), FALSE) THEN 0 ELSE 1 END) AS BIGINT)
           AS n_quarantined
FROM tagged
GROUP BY event_type
"""


@register("bad_records_quarantine", oracle=_QUARANTINE_ORACLE)
def bad_records_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine: classify every record's JSON payload as
    parseable or quarantined, per event type — without failing the job.

    The ingest-edge contract at 100 TB: one malformed record must never
    kill a batch (the reference silently DROPS malformed records,
    /root/reference/reducer_node.py:41-42 — losing data with no signal;
    ANSI-strict engines fail the whole job — losing the batch). The
    middle path is try-semantics: Spark 4's try_parse_json returns NULL
    on bad input, the quarantine count makes the loss OBSERVABLE, and
    the bad rows stay routable to a dead-letter sink. Corruption is
    planted deterministically (every 13th event's payload gets a '}{'
    PREFIX — a prefix, because Spark's parser tolerates trailing garbage
    after a complete value while DuckDB's does not), so both engines see
    the identical mix.
    """
    ev = load(spark, sf_dir, "events")
    s = F.when(F.col("event_id") % 13 == 0, F.concat(F.lit("}{"), "props")).otherwise(
        F.col("props")
    )
    ok = F.expr("try_parse_json(s) IS NOT NULL")
    return (
        ev.select("event_type", s.alias("s"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_valid"),
            F.sum(F.when(ok, 0).otherwise(1)).cast("long").alias("n_quarantined"),
        )
    )


@register(
    "zipf_fit",
    oracle=r"""
    WITH freqs AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT UNNEST(list_filter(string_split_regex(text, '\s+'),
                                      t -> t <> '')) AS word
            FROM documents
        )
        GROUP BY word
    ),
    ranked AS (
        SELECT cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS rank
        FROM freqs
    ),
    pts AS (
        SELECT LN(rank) AS x, LN(cnt) AS y
        FROM ranked WHERE rank <= 1000
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM pts
    )
    SELECT n AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0 AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
               + 0.0 AS intercept,
           ROUND(POW(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
    FROM m
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus token-frequency distribution: OLS of
    ln(freq) on ln(rank) for the top 1000 tokens → slope (healthy natural
    text sits near −1), intercept, R². The corpus-health screen that
    flags template-generated or boilerplate-heavy data before training —
    synthetic corpora show up immediately as a flat or kinked slope.

    The frequency table is wordcount's plan (explode + partial-agg
    combine); ranking is one window over the vocabulary-sized table
    (never the corpus); the fit is ols_fit's closed-form moment
    aggregation on ≤1000 rows. Rank ties break on the token so both
    engines rank identically.
    """
    freqs = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql.window import Window as _W

    ranked = freqs.withColumn(
        "rank",
        F.row_number().over(_W.orderBy(F.col("cnt").desc(), F.col("word"))),
    ).where(F.col("rank") <= 1000)
    pts = ranked.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.alias("n_terms"),
        (F.round(slope, 4) + 0.0).alias("slope"),
        (F.round((sy - slope * sx) / n, 4) + 0.0).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, 2) / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("r2"),
    )


@register(
    "readability_score",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               CAST(LEN(list_filter(string_split_regex(text, '\s+'),
                                    t -> t <> '')) AS BIGINT) AS n_words,
               CAST(LEN(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS BIGINT) AS n_syllables
        FROM documents
    ),
    nd AS (
        SELECT doc_id, n_words, n_syllables,
               CAST(CEIL(n_words / 15.0) AS BIGINT) AS n_sentences,
               GREATEST(n_words, 1) AS w1,
               GREATEST(CAST(CEIL(n_words / 15.0) AS BIGINT), 1) AS s1
        FROM base
    )
    SELECT doc_id, n_words, n_syllables, n_sentences,
           ((39 * n_words * w1 + 1180 * n_syllables * s1 - 1559 * s1 * w1
             + 20 * 100 * s1 * w1) * 1000) // (100 * s1 * w1) - 20000
               AS fk_milli
    FROM nd
    """,
)
def readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch–Kincaid grade level per document — the readability screen
    complexity-based quality filters use (too-low grade = word salad,
    too-high = OCR garbage or code). Syllables are approximated as vowel
    GROUPS ([aeiouy]+ runs, the standard cheap estimator); sentences as
    ceil(words/15) because the fixture corpus has no punctuation — on
    real text that term is a regexp count over sentence terminators, same
    plan shape.

    The grade is emitted as an INTEGER milligrade: fk_milli =
    floor(1000·(grade+20)) − 20000. The formula is an exact rational N/D
    whose denominators are power-of-2-prone, so a fixed-decimal ROUND
    lands on exact half-boundaries where the engines' rounding modes
    disagree (bit in testing at 4dp); integer floor-division on the
    positive-shifted numerator is bit-identical everywhere and loses
    nothing a quality threshold cares about.

    Pure scan-side expressions (split size + regexp_extract_all + scalar
    math): zero exchanges, runs at parquet scan throughput — the cheapest
    kind of quality signal, worth computing before anything that shuffles.
    """
    base = load(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_col().cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0))
        .cast("long")
        .alias("n_syllables"),
    )
    n_sent = F.ceil(F.col("n_words") / 15.0).cast("long")
    w1 = F.greatest(F.col("n_words"), F.lit(1))
    s1 = F.greatest(n_sent, F.lit(1))
    num = (
        39 * F.col("n_words") * w1
        + 1180 * F.col("n_syllables") * s1
        - 1559 * s1 * w1
        + 20 * 100 * s1 * w1
    )
    den = 100 * s1 * w1
    return base.select(
        "doc_id",
        "n_words",
        "n_syllables",
        n_sent.alias("n_sentences"),
        (F.floor(num * 1000 / den).cast("long") - 20000).alias("fk_milli"),
    )


@register(
    "kwic_concordance",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        FROM documents
    ),
    hits AS (
        SELECT doc_id, t, UNNEST(generate_series(1, len(t))) AS p
        FROM toks
    )
    SELECT doc_id, CAST(p AS BIGINT) AS pos,
           array_to_string(t[GREATEST(p - 2, 1):p + 2], ' ') AS context
    FROM hits
    WHERE t[p] = 'query'
    """,
)
def kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance: every occurrence of the term
    'query' with a ±2-token context window — the corpus-linguistics
    descendant of the reference's grep job (grep_filter says WHICH docs
    match; KWIC says each occurrence's position and surroundings, the
    view an annotator or a prompt-injection auditor actually reads).

    Shuffle-free: position explode + slice + join are all scan-stage
    expressions; the term filter drops non-hits before anything else
    happens, so output size is occurrence count, not corpus size. On a
    100 TB corpus this runs at scan throughput with the term predicate
    effectively acting as the selectivity gate.
    """
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", tokens_col().alias("t")
    )
    hits = toks.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(1), F.greatest(F.size("t"), F.lit(1)))).alias("p"),
    ).where(F.element_at("t", F.col("p")) == "query")
    return hits.select(
        "doc_id",
        F.col("p").cast("long").alias("pos"),
        F.array_join(
            F.slice(
                "t",
                F.greatest(F.col("p") - 2, F.lit(1)),
                F.col("p") + 2 - F.greatest(F.col("p") - 2, F.lit(1)) + 1,
            ),
            " ",
        ).alias("context"),
    )
