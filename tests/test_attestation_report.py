"""The attestation state (``registry._attestation_state``) against the
committed r01-r12 history, the rotation ``registry.ordered_names()`` builds
from it, and ``tools/attestation_report.py``, which prints both."""
from __future__ import annotations

import json
from pathlib import Path

import pytest

from pythonmapreduce_spark.plans import registry
from tools import attestation_report

REPO = Path(__file__).resolve().parent.parent
HISTORY = (REPO / "CORRECTNESS_r08.json").exists()

registry.load_all()


@pytest.mark.skipif(not HISTORY, reason="history files absent")
def test_ledger_matches_known_r08_counts() -> None:
    state = registry._attestation_state()
    assert max(rnd for rnd, _, _ in state.values()) >= 8
    # the r08 verdict's hand-verified figures: 378 attested,
    # 367 triple-green + 11 by-design rows-only, zero failures
    assert len(state) == 378
    assert sum(not ok for _, ok, _ in state.values()) == 0
    assert sum(rows_only for _, _, rows_only in state.values()) == 11


def test_ledger_status_semantics(tmp_path: Path, monkeypatch) -> None:
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "a": {"rows_match": True, "schema_match": True, "hash_match": True,
                      "spark_rows": 1, "oracle_rows": 1, "err": None},
                "b": {"rows_match": False, "schema_match": True, "hash_match": False,
                      "spark_rows": 1, "oracle_rows": 2, "err": None},
                "c": {"rows_match": None, "schema_match": None, "hash_match": None,
                      "spark_rows": 5, "oracle_rows": None, "err": "no_oracle"},
                "d": {"rows_match": True, "schema_match": True, "hash_match": True,
                      "spark_rows": 1, "oracle_rows": 1, "err": None},
            }
        )
    )
    # a later round flips b green and d red — the latest row wins
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {"b": {"rows_match": True, "schema_match": True, "hash_match": True,
                   "spark_rows": 2, "oracle_rows": 2, "err": None},
             "d": {"rows_match": False, "schema_match": True, "hash_match": False,
                   "spark_rows": 1, "oracle_rows": 2, "err": None}}
        )
    )
    monkeypatch.setattr(registry, "_REPO", str(tmp_path))
    assert registry._attestation_state() == {
        "a": (1, True, False),
        "b": (2, True, False),
        "c": (1, True, True),  # a rows-only row that ran counts as attested
        "d": (2, False, False),
    }


@pytest.mark.skipif(not HISTORY, reason="history files absent")
def test_window_round_grouping_matches_registry_rotation(capsys) -> None:
    assert attestation_report.main(["--json"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["next_window"] == registry.ordered_names()[:50]
    state = registry._attestation_state()
    assert sum(out["next_window_rounds"].values()) == 50
    assert set(map(int, out["next_window_rounds"])) == {state[n][0] for n in out["next_window"]}


@pytest.mark.skipif(not HISTORY, reason="history files absent")
def test_registry_tier1_empty_on_fully_attested_ledger() -> None:
    # Today's ledger is fully attested with no oracle-upgraded rows-only
    # rows, so the rotation's tier 1 is empty, and no stale (unregistered)
    # rows exist.
    out = attestation_report.report(50)
    assert out["unattested"] == [] and out["unregistered"] == [] and out["failed"] == []
    state = registry._attestation_state()
    assert not [n for n, (_, _, rows_only) in state.items() if rows_only and n in registry.ORACLES]


def _rotation(monkeypatch, state: dict) -> list[str]:
    monkeypatch.setattr(registry, "_attestation_state", lambda: state)
    return registry.ordered_names()


def _green(names) -> dict:
    return {n: (5, True, False) for n in names}


def test_registry_tier1_flags_unattested_and_oracle_upgraded(monkeypatch) -> None:
    # One registered query with no row (unattested) and one oracle-backed
    # query whose only row is rows-only (the oracle postdates its driver
    # evidence) both lead a fully green rotation; a row left by a query no
    # longer registered is reported and stays out of the rotation.
    state = _green(n for n in registry.QUERIES if n != "join_star")
    state["percentile_agg"] = (3, True, True)
    state["ghost_query_not_registered"] = (2, True, False)
    assert "percentile_agg" in registry.ORACLES
    assert set(_rotation(monkeypatch, state)[:2]) == {"join_star", "percentile_agg"}
    out = attestation_report.report(50)
    assert out["unregistered"] == ["ghost_query_not_registered"]
    assert out["unattested"] == ["join_star"]
    assert "ghost_query_not_registered" not in registry.ordered_names()


def test_project_window_failed_before_tier1(monkeypatch) -> None:
    # A failed latest row is tier 0, ahead of the unattested tier 1, then
    # green rows stalest first; ties keep registration order.
    state = _green(n for n in registry.QUERIES if n != "join_star")
    state["agg_basic"] = (2, False, False)
    state["topk"] = (1, True, False)
    state["wordcount"] = (1, True, False)
    order = _rotation(monkeypatch, state)
    stale = sorted(["topk", "wordcount"], key=list(registry.QUERIES).index)
    assert order[:4] == ["agg_basic", "join_star", *stale]
    # with no failure and no unattested query: pure stalest first
    state = _green(registry.QUERIES)
    state["topk"] = (1, True, False)
    assert _rotation(monkeypatch, state)[0] == "topk"
