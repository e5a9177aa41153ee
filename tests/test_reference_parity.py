r"""Golden reference-parity: the engine's word count and inverted index over
the books corpus shipped in the package (``text_corpus.BOOKS_DIR``) must
exactly match an independent pure-Python implementation of the reference's
semantics (/root/reference/mapreduce_wc.py:3-11, mapreduce_inverted.py:3-11):
``str.split()`` whitespace tokenization, case-sensitive, punctuation kept;
exact integer sums; distinct file set per token (order normalized by
sorting — the reference's Python-set order is an artifact, SURVEY §2.1).
"""

from __future__ import annotations

import glob
import os
from collections import Counter, defaultdict

from pythonmapreduce_spark.sources.text_corpus import (
    BOOKS_DIR,
    inverted_index_text,
    read_text_corpus,
    wordcount_text,
)

BOOKS = sorted(glob.glob(os.path.join(BOOKS_DIR, "*.txt")))


def _pure_python_jobs() -> tuple[Counter, dict[str, set[str]]]:
    """Independent re-implementation of the reference's two jobs (NOT a code
    copy — same contract, plain batch Python)."""
    counts: Counter = Counter()
    postings: dict[str, set[str]] = defaultdict(set)
    assert BOOKS, f"no books under {BOOKS_DIR}"
    for path in BOOKS:
        base = os.path.basename(path)
        with open(path, encoding="utf-8-sig", errors="ignore") as fh:
            # utf-8-sig strips the leading BOM, matching Hadoop's text
            # reader; a bare '﻿' token would be an encoding artifact,
            # not a tokenizer semantic.
            for line in fh:
                for word in line.strip("\n").split():
                    counts[word] += 1
                    postings[word].add(base)
    return counts, postings


def test_books_wordcount_golden(spark) -> None:
    corpus = read_text_corpus(spark, BOOKS)
    got = {r["word"]: r["cnt"] for r in wordcount_text(corpus).collect()}
    expected, _ = _pure_python_jobs()
    assert len(got) == len(expected)
    assert got == dict(expected)
    # total token conservation: sum of counts == total tokens in the corpus
    assert sum(got.values()) == sum(expected.values())


def test_books_inverted_index_golden(spark) -> None:
    corpus = read_text_corpus(spark, BOOKS)
    # input_file_name() yields file:///... URIs; normalize to basenames
    got = {
        r["word"]: sorted(os.path.basename(f) for f in r["files"])
        for r in inverted_index_text(corpus).collect()
    }
    _, expected = _pure_python_jobs()
    assert len(got) == len(expected)
    assert got == {w: sorted(fs) for w, fs in expected.items()}


def test_hostile_tokens_survive(spark) -> None:
    """The reference's wire format corrupts on data containing its framing
    delimiters (#\\r# between records, \\t between key/value, \\r, between
    rows — /root/reference/mapper_node.py:23-37); this engine must count
    such tokens exactly. Verified against pure-Python str.split() on
    strings stuffed with every delimiter the reference uses."""
    from collections import Counter

    from pyspark.sql import functions as F

    hostile = [
        "a\tb a\tb plain",
        "x#\r#y x#\r#y",
        "k\r,v k\r,v k\r,v",
        "quote\"d 'single' back\\slash",
        "tab\tand\rmix  double  space",
        "unicode: naïve café 北京 emoji🙂token",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(hostile)], "doc_id long, text string")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    got = {
        r["word"]: r["cnt"]
        for r in df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    expected = Counter(w for t in hostile for w in t.split())
    assert got == dict(expected)


def test_bpe_merges_match_pure_python(spark, sf_smoke) -> None:
    """Independent golden check for the tokenizer trainer: a from-scratch
    pure-Python BPE (word-frequency table, frequency-weighted adjacent
    pair counts, lexicographic tiebreak, greedy left-to-right merge)
    must produce exactly the merges bpe_train_merges emits — the same
    external-recomputation pattern the wordcount goldens use, applied to
    the iterative tier."""
    import duckdb

    from pythonmapreduce_spark.pipeline.bpe import _ROUNDS, bpe_train_merges

    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM read_parquet('{sf_smoke}/documents.parquet')"
        ).fetchall()
    ]
    freq: dict[tuple[str, ...], int] = {}
    for t in texts:
        for w in t.split():
            if "\x01" in w:
                continue
            key = tuple(w)
            freq[key] = freq.get(key, 0) + 1

    def merge_word(word: tuple[str, ...], pa: str, pb: str) -> tuple[str, ...]:
        out: list[str] = []
        i = 0
        while i < len(word):
            if i + 1 < len(word) and word[i] == pa and word[i + 1] == pb:
                out.append(pa + pb)
                i += 2  # greedy left-to-right: resume AFTER the merge
            else:
                out.append(word[i])
                i += 1
        return tuple(out)

    expected = []
    cur = dict(freq)
    for rnd in range(1, _ROUNDS + 1):
        pairs: dict[tuple[str, str], int] = {}
        for word, f in cur.items():
            for i in range(len(word) - 1):
                pairs[(word[i], word[i + 1])] = pairs.get((word[i], word[i + 1]), 0) + f
        if not pairs:
            break
        (pa, pb), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rnd, pa, pb, cnt))
        nxt: dict[tuple[str, ...], int] = {}
        for word, f in cur.items():
            m = merge_word(word, pa, pb)
            nxt[m] = nxt.get(m, 0) + f
        cur = nxt

    got = [
        (r["round"], r["pa"], r["pb"], r["cnt"])
        for r in bpe_train_merges(spark, sf_smoke).orderBy("round").collect()
    ]
    assert got == expected
