"""The plan-signature gate: the PLANS.md queries' executed plans keep the
structure recorded in plans/signatures.json (regenerate both with
``python tools/gen_plans.py`` when a plan change is intended), and a
signature sees structure only: no ids, no call sites."""

from __future__ import annotations

import json
from collections import Counter

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.plans import registry
from pythonmapreduce_spark.plans.signature import signature
from tools.gen_plans import NOTES, SF, SIGNATURES

registry.load_all()

with open(SIGNATURES) as fh:
    COMMITTED: dict[str, dict[str, int]] = json.load(fh)


def test_signatures_cover_the_plans_md_queries() -> None:
    assert list(COMMITTED) == list(NOTES)


@pytest.mark.parametrize("name", list(COMMITTED))
def test_signature_matches_committed(spark, name: str) -> None:
    assert registry.run_query(spark, name, SF, signature) == COMMITTED[name]


def test_signature_repeats_across_builds(spark, sf_smoke) -> None:
    # remove_dup_spans checkpoints at build time: each build scans new
    # RDDs under new expression ids
    first, second = (
        registry.run_query(spark, "remove_dup_spans", sf_smoke, signature) for _ in range(2)
    )
    assert first["Scan ExistingRDD"] > 0
    assert first == second


def _added(before: dict[str, int], after: dict[str, int]) -> Counter:
    return Counter(after) - Counter(before)


def test_added_repartition_adds_an_exchange(spark, sf_smoke) -> None:
    orders = load(spark, sf_smoke, "orders").select("o_custkey", "o_totalprice")
    base = signature(orders.groupBy("o_custkey").agg(F.sum("o_totalprice")))
    spread = signature(orders.repartition(3).groupBy("o_custkey").agg(F.sum("o_totalprice")))
    assert _added(base, spread) == Counter({"exchange roundrobin keys=0 width=2": 1})
    assert not _added(spread, base)


def test_merge_hint_turns_broadcast_into_sort_merge(spark, sf_smoke) -> None:
    customer = load(spark, sf_smoke, "customer")
    nation = load(spark, sf_smoke, "nation")
    on = customer.c_nationkey == nation.n_nationkey
    broadcast = signature(customer.join(nation, on).select("c_custkey", "n_name"))
    merge = signature(customer.join(nation.hint("merge"), on).select("c_custkey", "n_name"))
    assert broadcast.get("join BroadcastHashJoin Inner") == 1
    assert merge.get("join SortMergeJoin Inner") == 1
    assert "join BroadcastHashJoin Inner" not in merge


def test_extra_column_raises_exchange_width(spark, sf_smoke) -> None:
    # a column that only rides through a window exchange, as cos_raw did
    # through the top-k queries' ranking exchange
    orders = load(spark, sf_smoke, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    cols = ["o_custkey", "o_orderkey"]
    narrow = signature(orders.select(*cols, F.row_number().over(w).alias("rn")))
    wide = signature(orders.select(*cols, "o_totalprice", F.row_number().over(w).alias("rn")))
    assert narrow.get("exchange hash keys=1 width=2") == 1
    assert wide.get("exchange hash keys=1 width=3") == 1
    assert "exchange hash keys=1 width=2" not in wide
