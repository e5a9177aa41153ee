r"""Reference-parity jobs: word count, inverted index, grep.

These are the reference's only two shipped jobs, re-expressed declaratively:
- word count: map ``[(w, 1) for w in contents.split()]`` + reduce
  ``sum(int(v, 10))`` (/root/reference/mapreduce_wc.py:3-11)
- inverted index: map ``[(w, file_name)]`` + reduce ``list(set(files))``
  (/root/reference/mapreduce_inverted.py:3-11)

Tokenizer contract preserved exactly (SURVEY §2.1 fidelity list): split on
``\s+``, drop empty tokens, case-SENSITIVE, punctuation kept. The
reference's nondeterministic Python-set ordering for the inverted index is
an artifact — we emit a sorted distinct list instead.

Scale shape: explode → groupBy(word) is the canonical shuffle-heavy job; the
map-side partial aggregation (HashAggregate(partial) before the exchange)
ships one row per (word, partition) instead of one per token — the combiner
the reference lacks entirely (/root/reference/mapper_node.py:23-37).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans.registry import register


def tokens_col(text_col: str = "text") -> F.Column:
    r"""The engine-wide tokenizer contract: split \s+, drop empties."""
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))


def token_count_col(text_col: str = "text") -> F.Column:
    r"""COUNT of tokens under the same contract, without materializing the
    array: ``size(split(trim(text)))`` stays inside whole-stage codegen,
    while ``size(filter(split(...)))`` pays an interpreted higher-order
    filter per element (measured 1.6× slower on the text_stats scan at
    sf0.1). Trimming first means the split can't produce empty edge
    tokens, and \s+ can't produce empty inner ones; the lone edge case —
    all-whitespace/empty text, where split returns [''] — is pinned to 0.
    """
    t = F.trim(F.col(text_col))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


@register(
    "wordcount",
    oracle=r"""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT UNNEST(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        FROM documents
    )
    GROUP BY word
    """,
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference word count over documents.text (exact integer counts)."""
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "inverted_index",
    oracle=r"""
    SELECT word, ARRAY_TO_STRING(list_sort(list_distinct(list(source))), ',') AS sources
    FROM (
        SELECT source,
               UNNEST(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        FROM documents
    )
    GROUP BY word
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference inverted index: token → sorted distinct source list.

    ``collect_set`` is the distributed analog of the reference's
    ``list(set(files))`` reduce; sort_array pins a deterministic order and
    array_join makes the value-hash representation-independent.
    """
    return (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources"))
    )


@register(
    "grep_filter",
    oracle="""
    SELECT doc_id, source, lang
    FROM documents
    WHERE contains(text, 'data')
    """,
)
def grep_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-substring grep over the corpus (predicate on the scan)."""
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("text").contains("data"))
        .select("doc_id", "source", "lang")
    )


# ---------------------------------------------------------------------------
# Text-file ingestion path (byte-level parity with the reference's corpus).
# Not a driver query (paths are not sf_dir-relative); used by tests.
# ---------------------------------------------------------------------------


def read_text_corpus(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Ingest raw text files as (file_name, line) — the reference's input
    shape (/root/reference/master.py:25-37) without the #\r# framing."""
    return (
        spark.read.text(paths)
        .select(
            F.input_file_name().alias("file_name"),
            F.col("value").alias("line"),
        )
    )


def wordcount_text(df: DataFrame) -> DataFrame:
    """Word count over an ingested (file_name, line) corpus."""
    toks = F.filter(F.split(F.col("line"), r"\s+"), lambda t: t != F.lit(""))
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def inverted_index_text(df: DataFrame) -> DataFrame:
    """Inverted index over an ingested corpus: word → sorted distinct files."""
    toks = F.filter(F.split(F.col("line"), r"\s+"), lambda t: t != F.lit(""))
    return (
        df.select("file_name", F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("file_name")).alias("files"))
    )


# ---------------------------------------------------------------------------
# Reference-corpus golden queries: the two jobs the reference actually ships
# (/root/reference/mapreduce_wc.py:3-11, mapreduce_inverted.py:3-11), run
# over a books/ corpus like the reference's and oracle-checked, so an
# external verification run certifies byte-level reference parity — not just
# the pytest goldens. The corpus is a small read-only fixture shipped inside
# the package (sf_dir is accepted for the registry signature but the corpus
# does not scale with it): four UTF-8 books, one with a leading BOM, with
# tabs, blank lines, punctuation and mixed case.
# ---------------------------------------------------------------------------

# Spark side reads the DIRECTORY (globs trigger a noisy streaming-metadata
# probe per query); the DuckDB oracle needs the explicit *.txt glob.
BOOKS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "books")


@register(
    "wordcount_text",
    oracle=rf"""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT UNNEST(list_filter(string_split_regex(content, '\s+'), t -> t <> ''))
            AS word
        -- Spark's text reader strips a leading UTF-8 BOM; read_text keeps
        -- it, so strip it here for token parity.
        FROM (SELECT filename, regexp_replace(content, '^\x{{FEFF}}', '') AS content
              FROM read_text('{BOOKS_DIR}/*.txt'))
    )
    GROUP BY word
    """,
)
def wordcount_text_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference word count over the books/ corpus (``BOOKS_DIR``).

    Same tokenizer contract as `wordcount` (split \\s+, drop empties,
    case-sensitive); line-based ingestion is token-equivalent to the
    oracle's whole-file read because newlines are themselves \\s+.
    """
    return wordcount_text(read_text_corpus(spark, [BOOKS_DIR]))


@register(
    "inverted_index_text",
    oracle=rf"""
    SELECT word,
           ARRAY_TO_STRING(list_sort(list_distinct(list(regexp_extract(filename, '[^/]+$')))), ',')
               AS files
    FROM (
        SELECT filename,
               UNNEST(list_filter(string_split_regex(content, '\s+'), t -> t <> ''))
                   AS word
        -- Spark's text reader strips a leading UTF-8 BOM; read_text keeps
        -- it, so strip it here for token parity.
        FROM (SELECT filename, regexp_replace(content, '^\x{{FEFF}}', '') AS content
              FROM read_text('{BOOKS_DIR}/*.txt'))
    )
    GROUP BY word
    """,
)
def inverted_index_text_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference inverted index over books/: word → sorted distinct file
    basenames, ','-joined (array cells are canonicalizer-hostile; the
    reference's Python-set ordering is an artifact, so sorted is the
    contract — mapreduce_inverted.py:11's list(set(files)))."""
    corpus = read_text_corpus(spark, [BOOKS_DIR]).select(
        F.element_at(F.split(F.col("file_name"), "/"), -1).alias("file_name"), "line"
    )
    toks = F.filter(F.split(F.col("line"), r"\s+"), lambda t: t != F.lit(""))
    return (
        corpus.select("file_name", F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.array_join(F.sort_array(F.collect_set("file_name")), ",").alias("files"))
    )
