"""Scale-invariance spot check: a curated slice of the oracle suite at
sf0.1 (10× the driver's verification SF).

The driver verifies correctness at sf0.01 only; these queries were chosen
because their mechanics could plausibly be SF-dependent — bounded pair
spaces, LSH bucket caps, graph joins, posting-list prunes, percentile
interpolation on 10× the points — and a result that matches at one SF but
drifts at another would mean the operator encodes the data size somewhere
it shouldn't. ~10 heavier queries, one representative per risk family,
keeps this under a minute on local[8].
"""

from __future__ import annotations

import pytest

from pythonmapreduce_spark.plans import registry
from tests import harness

registry.load_all()

SF01 = "/root/testdata/sf0.1"

# risk family → query
SF_SENSITIVE = [
    "join_star",            # broadcast thresholds vs grown dims
    "triangle_count",       # wedge volume grows superlinearly with degree
    "pagerank_iter",        # teleport constant derives from |V|
    "tfidf_cosine_pairs",   # df band prune: absolute bounds on 10× docs
    "dedup_ngram",          # bounded pair space via doc_id cap
    "heavy_hitters",        # pigeonhole candidate bound depends on N/P
    "percentile_agg",       # interpolation on 10× points
    "window_session",       # session islands across denser event stream
    "sample_weighted",      # hash-threshold sampling rate
    "mode_per_group",       # tie structure changes with counts
    "semdedup",             # fixed-K GEMM argmax: 10× corpus, same centroids
    "boilerplate_detect",   # per-source repeat threshold on 10× segments
    "dedup_near_incremental_recall",  # cross-snapshot pair bound (doc cap)
    "ewma_smooth",          # 30-day tail on a longer daily series
    "ngram_novelty",        # first-occurrence fractions shift with corpus size
    "embedding_truncate_recall",  # recall measured over a 10× corpus
]


@pytest.mark.parametrize("name", SF_SENSITIVE)
def test_oracle_match_sf01(name: str, spark) -> None:
    harness.run_compare(spark, SF01, name)
