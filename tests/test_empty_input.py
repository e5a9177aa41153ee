"""Robustness: every registered query must run (not crash) on EMPTY input
tables — the degenerate partition every 100 TB job eventually meets (an
empty hour of events, a lang partition with no documents, a filter that
eliminates everything upstream).

Queries that synthesize their own constants (hyperplanes, centroid seeds)
still return rows=0 gracefully; nothing may raise.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import DataFrame

from pythonmapreduce_spark.catalog import SCHEMAS, TABLES
from pythonmapreduce_spark.plans import registry
from tests.harness import run_compare, write_noop
from tests.test_plans import SINGLE_PLAN_QUERIES

registry.load_all()


@pytest.fixture(scope="session")
def empty_sf_dir(spark) -> str:
    d = os.path.join(tempfile.gettempdir(), "pmr_empty_sf")
    for t in TABLES:
        target = os.path.join(d, f"{t}.parquet")
        if not os.path.exists(target):
            # single empty parquet FILE per table (catalog.load expects
            # file paths, like the driver's testdata layout)
            tmp = target + ".dir"
            spark.createDataFrame([], SCHEMAS[t]).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            os.replace(os.path.join(tmp, part), target)
    return d


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_runs_on_empty_input(name: str, spark, empty_sf_dir: str) -> None:
    registry.run_query(spark, name, empty_sf_dir, write_noop)


@pytest.mark.parametrize("name", ["dataset_card_stats", "embedding_truncate_recall"])
def test_ratio_over_empty_input_matches_oracle(name: str, spark, empty_sf_dir: str) -> None:
    # A ratio over no rows is NULL, as in the oracle, not DIVIDE_BY_ZERO.
    run_compare(spark, empty_sf_dir, name)


def _sf_with_table(spark, dirname: str, table: str, rows: list) -> str:
    """sf0.001 layout (symlinked) with ``table`` replaced by ``rows``."""
    src = "/root/testdata/sf0.001"
    assert os.path.isdir(src)
    d = os.path.join(tempfile.gettempdir(), dirname)
    os.makedirs(d, exist_ok=True)
    for t in TABLES:
        target = os.path.join(d, f"{t}.parquet")
        if t != table and not os.path.exists(target):
            os.symlink(os.path.join(src, f"{t}.parquet"), target)
    target = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(target):
        tmp = target + ".dir"
        spark.createDataFrame(rows, SCHEMAS[table]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.replace(os.path.join(tmp, part), target)
    return d


@pytest.fixture(scope="session")
def short_doc_sf_dir(spark) -> str:
    """sf0.001 layout with documents replaced by a degenerate corpus:
    empty text, whitespace-only, and single-token rows — all of which the
    tokenizer contract admits but no shipped SF contains. Under Spark 4's
    default ANSI mode the old transform(sequence(1, size-1), element_at)
    bigram build was FATAL on these rows (sequence(1, 0) descends to
    [1, 0]; element_at(toks, 0) throws) — round-12 regression pin for the
    zip_with/slice form."""
    rows = [  # (doc_id, text, lang, source, n_chars)
        (0, "", "en", "synthetic", 0),
        (1, "   ", "en", "synthetic", 3),
        (2, "solitary", "en", "synthetic", 8),
        (3, "two tokens", "en", "synthetic", 10),
        (4, "a b c d e", "de", "synthetic", 9),
    ]
    return _sf_with_table(spark, "pmr_short_doc_sf", "documents", rows)


# The bigram/qgram builders (the ANSI-fatal family) plus their heaviest
# consumers; every other documents consumer tokenizes via filter(split)
# only, which is short-doc-safe by construction.
_SHORT_DOC_QUERIES = [
    "search_ndcg_mrr",
    "lm_perplexity",
    "tfidf_cosine_pairs",
    "bm25_rank",
    "collocation_pmi",
    "ngram_bigrams",
]


@pytest.mark.parametrize("name", _SHORT_DOC_QUERIES)
def test_runs_on_short_docs(name: str, spark, short_doc_sf_dir: str) -> None:
    registry.run_query(spark, name, short_doc_sf_dir, write_noop)


def test_single_plan_graph_loops_on_empty_graph(spark, empty_sf_dir: str) -> None:
    # No vertices: both loops yield no rows, with their usual schema.
    pr = registry.QUERIES["pagerank_iter"](spark, empty_sf_dir)
    assert pr.collect() == []
    assert pr.schema.simpleString() == "struct<node:bigint,pr_millis:double>"
    bfs = registry.QUERIES["bfs_distances"](spark, empty_sf_dir)
    assert bfs.collect() == []
    assert bfs.schema.simpleString() == "struct<dist:int,n_nodes:bigint>"
    # The other single-plan queries match their oracles' degenerate
    # output: no rows, or triangle_count's one zero count.
    for name in SINGLE_PLAN_QUERIES:
        if name not in ("pagerank_iter", "bfs_distances"):
            run_compare(spark, empty_sf_dir, name)


@pytest.fixture(scope="session")
def one_vector_sf_dir(spark) -> str:
    """sf0.001 layout whose embeddings table holds ONE vector (vec_id 7):
    the split point floor(7 / 2) = 3 leaves the reference half empty."""
    vec = [float(i % 5) - 2.0 for i in range(64)]
    return _sf_with_table(spark, "pmr_one_vector_sf", "embeddings", [(7, vec, 1)])


@pytest.mark.parametrize("fixture", ["one_vector_sf_dir", "empty_sf_dir"])
def test_embedding_drift_empty_half_matches_oracle(
    fixture: str, spark, request
) -> None:
    # An empty half is one row with that half's n and the metrics NULL,
    # as in the oracle, whose per-half CTEs are global aggregates.
    sf_dir = request.getfixturevalue(fixture)
    run_compare(spark, sf_dir, "embedding_drift")


@pytest.fixture(scope="session")
def nfc_collapse_sf_dir(spark) -> str:
    """documents where NFC and NFD spellings of one text collapse:
    precomposed "café" twice, decomposed "café" once, "tea", and NULL."""
    nfc, nfd = "caf\u00e9", "cafe\u0301"
    rows = [
        (0, nfc, "fr", "synthetic", 4),
        (1, nfc, "fr", "synthetic", 4),
        (2, nfd, "fr", "synthetic", 5),
        (3, "tea", "en", "synthetic", 3),
        (4, None, "en", "synthetic", 0),
    ]
    return _sf_with_table(spark, "pmr_nfc_collapse_sf", "documents", rows)


# (n_docs, n_denormalized, n_nfc_unique, n_raw_unique, n_caught_by_nfc)
@pytest.mark.parametrize(
    "fixture, expected",
    [("nfc_collapse_sf_dir", (4, 1, 2, 3, 1)), ("empty_sf_dir", (0, None, 0, 0, 0))],
)
def test_dedup_unicode_normalized_collapse_matches_oracle(
    fixture: str, expected: tuple, spark, request
) -> None:
    # The decomposed "café" is a third raw digest but the NFC digest of
    # the precomposed pair; on an empty corpus n_denormalized is NULL.
    sf_dir = request.getfixturevalue(fixture)
    query = registry.QUERIES["dedup_unicode_normalized"]
    assert [tuple(r) for r in query(spark, sf_dir).collect()] == [expected]
    run_compare(spark, sf_dir, "dedup_unicode_normalized")


@pytest.fixture(scope="session")
def no_match_sf_dir(spark) -> str:
    """documents with text but none of the query terms join/table/spark."""
    rows = [
        (0, "scan filter column", "en", "synthetic", 18),
        (1, "order by tables joins sparks", "en", "synthetic", 28),
    ]
    return _sf_with_table(spark, "pmr_bm25_no_match_sf", "documents", rows)


@pytest.fixture(scope="session")
def blank_sf_dir(spark) -> str:
    """documents whose every text is empty or whitespace: dl = avgdl = 0."""
    rows = [
        (0, "", "en", "synthetic", 0),
        (1, " \t ", "en", "synthetic", 3),
    ]
    return _sf_with_table(spark, "pmr_bm25_blank_sf", "documents", rows)


@pytest.fixture(scope="session")
def one_doc_sf_dir(spark) -> str:
    """a one-document corpus that matches two query terms."""
    rows = [(5, "spark join spark scan", "en", "synthetic", 21)]
    return _sf_with_table(spark, "pmr_bm25_one_doc_sf", "documents", rows)


@pytest.mark.parametrize(
    "fixture, n_rows",
    [("no_match_sf_dir", 0), ("blank_sf_dir", 0), ("one_doc_sf_dir", 1)],
)
def test_bm25_rank_degenerate_corpus_matches_oracle(
    fixture: str, n_rows: int, spark, request
) -> None:
    # Only documents holding a query term are scored, so a blank corpus
    # (avgdl = 0) never reaches the length division that ANSI would fail.
    sf_dir = request.getfixturevalue(fixture)
    assert registry.QUERIES["bm25_rank"](spark, sf_dir).count() == n_rows
    run_compare(spark, sf_dir, "bm25_rank")


def test_chi2_independence_null_keys_match_oracle(spark) -> None:
    """A NULL segment and a NULL nation add a grid row and column that no
    count joins: dof counts non-null keys only, as COUNT(DISTINCT) does
    ((2-1)*(3-1) = 2, where counting the NULL cells gives 6), and their
    zero expected counts drop out of chi2 instead of failing under ANSI."""
    rows = [  # (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
        (1, "a", 1, 1.0, "A"),
        (2, "b", 2, 1.0, "A"),
        (3, "c", 1, 1.0, "B"),
        (4, "d", None, 1.0, "B"),
        (5, "e", 2, 1.0, None),
        (6, "f", 3, 1.0, "A"),
        (7, "g", None, 1.0, None),
        (8, "h", 1, 1.0, "B"),
    ]
    sf_dir = _sf_with_table(spark, "pmr_chi2_null_keys_sf", "customer", rows)
    got = registry.run_query(spark, "chi2_independence", sf_dir, DataFrame.collect)
    assert [(r.dof, r.n_obs) for r in got] == [(2, 5)]
    run_compare(spark, sf_dir, "chi2_independence")
