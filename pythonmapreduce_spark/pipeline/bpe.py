r"""BPE merge training: the tokenizer-training primitive, Spark-first.

Byte-pair encoding training is the canonical "iterative aggregate over a
100 TB corpus" job: count adjacent symbol pairs, merge the most frequent
pair everywhere, repeat. The scalable formulation (the one HF/SentencePiece
trainers use) never rewrites the corpus: the corpus collapses ONCE to a
(word, freq) table — vocabulary-sized, millions of rows at 100 TB, not
billions — and every merge round rewrites only that table, weighting pair
counts by word frequency. Pair counting is a partial-aggregatable groupBy;
the per-round driver transfer is exactly one (pa, pb, cnt) row.

The merge rewrite itself is a plain string ``replace`` over a
marker-encoded word (every token prefixed by \x01, so 'hello' becomes
␁h␁e␁l␁l␁o): replacing ␁pa␁pb with ␁papb is EXACTLY the greedy
left-to-right BPE scan, because both Spark's and DuckDB's replace resume
scanning after the inserted text — overlapping occurrences ('l l l' under
(l,l)) merge once, and chained occurrences ('a b a b' under (a,b)) merge
every time, verified identical in both engines. The prefix marker makes a
false submatch impossible: a pair pattern always begins with ␁pa␁, and ␁
bounds every token. String replace stays inside whole-stage codegen — the
earlier array-fold formulation (higher-order aggregate) was interpreted
per element and measured 2× slower.

Reference tie: the reference's wordcount (mapreduce_wc.py:3-11) is round
zero of this pipeline — the (word, freq) table BPE trains on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.materialize import iter_materialize
from pythonmapreduce_spark.plans.registry import register
from pythonmapreduce_spark.sources.text_corpus import tokens_col

_ROUNDS = 3
_D = "\x01"  # token-prefix marker; words containing it are excluded

_MERGES_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("pa", T.StringType(), True),
        T.StructField("pb", T.StringType(), True),
        T.StructField("cnt", T.LongType(), True),
    ]
)


def _marker_encode() -> F.Column:
    r"""Marker-encode the document's filtered token stream: every symbol
    char prefixed with ␁, tokens joined by ' '. ONE regex pass over the
    space-joined string (round 12) instead of a per-token
    ``transform(toks, t -> regexp_replace(t, '(.)', ␁$1))`` lambda —
    equivalent because tokens are \s+-split (they contain no whitespace,
    so ``[^ ]`` marks exactly the chars ``(.)`` marked per token, and the
    single space separators stay unmarked); measured 0.82× on the encode
    pass at sf0.1 (0.188 vs 0.228 noop min, steal 0, byte-equal on all
    5000 docs)."""
    toks = F.filter(tokens_col(), lambda t: ~F.contains(t, F.lit(_D)))
    return F.regexp_replace(F.array_join(toks, " "), "([^ ])", _D + "$1")


def _bpe_oracle(rounds: int) -> str:
    """Unrolled k-round CTE mirroring the Spark loop exactly (same marker
    encoding, same replace semantics — DuckDB's replace also resumes after
    the replacement, verified on the overlap cases)."""
    parts = [
        r"""
    WITH w0 AS (
        SELECT regexp_replace(word, '(.)', chr(1) || '\1', 'g') AS m,
               CAST(COUNT(*) AS BIGINT) AS freq
        FROM (
            SELECT UNNEST(list_filter(string_split_regex(text, '\s+'),
                                      t -> t <> '')) AS word
            FROM documents
        )
        WHERE NOT contains(word, chr(1))
        GROUP BY word
    )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""
    p{r} AS (
        SELECT t.toks[u.i] AS pa, t.toks[u.i + 1] AS pb, SUM(t.freq) AS cnt
        FROM (SELECT string_split(m, chr(1)) AS toks, freq FROM w{p}) t,
             UNNEST(range(2, len(t.toks))) AS u(i)
        GROUP BY 1, 2
    ),
    t{r} AS (SELECT pa, pb, cnt FROM p{r} ORDER BY cnt DESC, pa, pb LIMIT 1),
    w{r} AS (
        SELECT replace(w.m, chr(1) || t.pa || chr(1) || t.pb,
                       chr(1) || t.pa || t.pb) AS m,
               w.freq
        FROM w{p} w CROSS JOIN t{r} t
    )"""
        )
    unions = "\n    UNION ALL".join(
        f"\n    SELECT {r} AS round, pa, pb, CAST(cnt AS BIGINT) AS cnt FROM t{r}"
        for r in range(1, rounds + 1)
    )
    return ",".join(parts) + unions


def _train_merges(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, int]]:
    """Run the k-round training loop and return the merge table
    [(round, pa, pb, cnt)] — shared by bpe_train_merges (which emits it)
    and tokenizer_apply (which applies it to the corpus)."""
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens_col()).alias("word"))
        .where(~F.contains(F.col("word"), F.lit(_D)))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.regexp_replace(F.col("word"), "(.)", _D + "$1").alias("m"),
            "freq",
        )
    )
    # Kept (a): every round collects its best pair to the driver and
    # re-reads the vocabulary; 8 partitions spare each round's aggregates
    # 32 near-empty tasks per stage.
    cur = iter_materialize(words.coalesce(8))
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, _ROUNDS + 1):
        toks = F.split(F.col("m"), _D)  # leading '' at index 1
        pairs = (
            cur.select("freq", toks.alias("toks"))
            .where(F.size("toks") >= 3)
            .selectExpr("freq", "toks", "explode(sequence(2, size(toks) - 1)) AS i")
            .selectExpr(
                "element_at(toks, i) AS pa",
                "element_at(toks, i + 1) AS pb",
                "freq",
            )
            .groupBy("pa", "pb")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "pa", "pb").first()
        if top is None:  # degenerate corpus: nothing left to merge
            break
        pa, pb = top["pa"], top["pb"]
        merges.append((rnd, pa, pb, top["cnt"]))
        cur = cur.withColumn(
            "m",
            F.replace(
                F.col("m"), F.lit(_D + pa + _D + pb), F.lit(_D + pa + pb)
            ),
        )
    return merges


@register("bpe_train_merges", oracle=_bpe_oracle(_ROUNDS))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First k=3 BPE merges over the documents corpus: per round, the
    corpus-frequency-weighted most frequent adjacent symbol pair (ties to
    the lexicographically smallest pair), merged greedily left-to-right in
    every word before the next count.

    Output: (round, pa, pb, cnt) — the merge table a tokenizer trainer
    would persist. Each round collects exactly ONE row to the driver (the
    argmax pair, the same bounded-transfer shape as kmeans_iter); the
    merge rewrite is a narrow codegen'd string replace stacked on the
    materialized vocabulary table, so a round is one partial-aggregated
    pair count plus a map-only column rewrite — no shuffle, no join.
    """
    return spark.createDataFrame(_train_merges(spark, sf_dir), _MERGES_SCHEMA)


def _apply_oracle(rounds: int) -> str:
    """Training CTEs (for the merge table) + per-document application."""
    base = _bpe_oracle(rounds)
    # drop the final UNION-ALL select; keep the CTE chain through w{rounds}
    cte_end = base.index("\n    SELECT 1 AS round")
    ctes = base[:cte_end]
    rep = "e.msym"
    for r in range(1, rounds + 1):
        rep = (
            f"replace({rep}, chr(1) || t{r}.pa || chr(1) || t{r}.pb,"
            f" chr(1) || t{r}.pa || t{r}.pb)"
        )
    crosses = " ".join(f"CROSS JOIN t{r}" for r in range(1, rounds + 1))
    return f"""{ctes},
    enc AS (
        SELECT doc_id,
               array_to_string(list_transform(
                   list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> '' AND NOT contains(t, chr(1))),
                   t -> regexp_replace(t, '(.)', chr(1) || '\\1', 'g')),
                   ' ') AS msym
        FROM documents
    ),
    applied AS (
        SELECT e.doc_id, e.msym, {rep} AS s
        FROM enc e {crosses}
    )
    SELECT doc_id,
           CAST(len(msym) - len(replace(msym, chr(1), '')) AS BIGINT)
               AS n_chars_enc,
           CAST(len(s) - len(replace(s, chr(1), '')) AS BIGINT)
               AS n_symbols,
           ROUND((len(s) - len(replace(s, chr(1), ''))) * 1.0
                 / GREATEST(len(msym) - len(replace(msym, chr(1), '')), 1), 4)
               AS compression
    FROM applied
    """


@register("tokenizer_apply", oracle=_apply_oracle(_ROUNDS))
def tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained tokenizer: apply bpe_train_merges' k merges
    to every document and report per-doc symbol counts before/after plus
    the compression ratio — the train→apply loop every tokenizer pipeline
    closes (HF tokenizers' encode over a trained merges file).

    The merge table is k driver-side literals (trained by the same
    bounded-transfer loop as bpe_train_merges), so application is a
    chain of k codegen'd string replaces over the marker-encoded token
    stream — a map-only scan-stage plan with ZERO exchanges: symbol
    counts come from length arithmetic on the marker character, never an
    explode. Words are marker-joined with spaces between tokens, which no
    merge pattern can span (patterns contain only marker+symbol chars) —
    the same greedy left-to-right semantics as training, per document.
    At 100 TB: k replaces at scan throughput; the merge table would
    broadcast if it outgrew literal form.
    """
    merges = _train_merges(spark, sf_dir)
    enc = load(spark, sf_dir, "documents").select(
        "doc_id", _marker_encode().alias("msym")
    )
    applied = F.col("msym")
    for _rnd, pa, pb, _cnt in merges:
        applied = F.replace(
            applied, F.lit(_D + pa + _D + pb), F.lit(_D + pa + pb)
        )
    n_marks = lambda c: F.length(c) - F.length(F.replace(c, F.lit(_D), F.lit("")))  # noqa: E731
    out = enc.select(
        "doc_id",
        n_marks(F.col("msym")).cast("long").alias("n_chars_enc"),
        n_marks(applied).cast("long").alias("n_symbols"),
    )
    return out.select(
        "doc_id",
        "n_chars_enc",
        "n_symbols",
        F.round(
            F.col("n_symbols") * 1.0 / F.greatest(F.col("n_chars_enc"), F.lit(1)), 4
        ).alias("compression"),
    )


@register(
    "tokenizer_roundtrip",
    oracle=r"""
    -- Losslessness is a STRUCTURAL property of the merge encoding (every
    -- merge only deletes an interior marker, so stripping markers is an
    -- exact decode); the oracle independently pins the invariant by
    -- asserting the roundtrip-ok count equals the doc count outright —
    -- any merge literal that corrupted symbol content (wrong pair, a
    -- marker inside a pattern, replace semantics drift) breaks the
    -- Spark-side equality and the compare goes red.
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok
    FROM documents WHERE text IS NOT NULL
    """,
)
def tokenizer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECODE∘ENCODE identity contract for the trained tokenizer: apply
    the k merges to every document, decode by stripping the token
    markers, and assert the result equals the original (filtered,
    space-joined) token stream — the invariant every production
    tokenizer certifies before training data flows through it (HF
    tokenizers' `decode(encode(x)) == x` test). BPE merges only ever
    DELETE the marker between two adjacent symbols, so decode is one
    replace; a corrupted merge literal, a marker leaking into a pair
    pattern, or an engine replace-semantics change all break the
    equality for some document.

    Same zero-exchange scan-stage shape as tokenizer_apply (k codegen'd
    replaces + one string equality per doc) with a single count
    aggregate on top; the contract costs one corpus pass.
    """
    merges = _train_merges(spark, sf_dir)
    toks = F.filter(tokens_col(), lambda t: ~F.contains(t, F.lit(_D)))
    enc = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            F.array_join(toks, " ").alias("orig"),
            _marker_encode().alias("msym"),
        )
    )
    applied = F.col("msym")
    for _rnd, pa, pb, _cnt in merges:
        applied = F.replace(
            applied, F.lit(_D + pa + _D + pb), F.lit(_D + pa + pb)
        )
    decoded = F.replace(applied, F.lit(_D), F.lit(""))
    return enc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.coalesce((decoded == F.col("orig")).cast("long"), F.lit(0))
        )
        .cast("long")
        .alias("n_roundtrip_ok"),
    )
