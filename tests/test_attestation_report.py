"""The attestation-ledger tool vs the committed r01-r08 history and the
registry's own rotation ordering (VERDICT r08 item 8: the SURVEY log
should cite tool output instead of hand-counted windows)."""
from __future__ import annotations

import json
from pathlib import Path

import pytest

from tools.attestation_report import ledger, registry_tier1

REPO = Path(__file__).resolve().parent.parent


def test_ledger_matches_known_r08_counts() -> None:
    if not (REPO / "CORRECTNESS_r08.json").exists():
        pytest.skip("history files absent")
    state, max_round = ledger(REPO)
    assert max_round >= 8
    statuses = [v["status"] for v in state.values()]
    # the r08 verdict's hand-verified figures: 378 attested,
    # 367 triple-green + 11 by-design rows-only, zero failures
    assert len(state) == 378
    assert statuses.count("FAILED") == 0
    assert statuses.count("rows-only") == 11
    assert statuses.count("green") == 367


def test_ledger_status_semantics(tmp_path: Path) -> None:
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "a": {"rows_match": True, "schema_match": True, "hash_match": True,
                      "spark_rows": 1, "oracle_rows": 1, "err": None},
                "b": {"rows_match": False, "schema_match": True, "hash_match": False,
                      "spark_rows": 1, "oracle_rows": 2, "err": None},
                "c": {"rows_match": None, "schema_match": None, "hash_match": None,
                      "spark_rows": 5, "oracle_rows": None, "err": "no_oracle"},
            }
        )
    )
    # a later round flips b green — latest row wins
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {"b": {"rows_match": True, "schema_match": True, "hash_match": True,
                   "spark_rows": 2, "oracle_rows": 2, "err": None}}
        )
    )
    state, max_round = ledger(tmp_path)
    assert max_round == 2
    assert state["a"] == {"round": 1, "status": "green"}
    assert state["b"] == {"round": 2, "status": "green"}
    assert state["c"] == {"round": 1, "status": "rows-only"}


def test_window_round_grouping_matches_registry_rotation() -> None:
    # The tool's stalest-first window must draw from the same ROUNDS as
    # registry.ordered_names' tier-2 ordering (exact within-round order
    # may differ: the registry tie-breaks by priority/registration).
    if not (REPO / "CORRECTNESS_r08.json").exists():
        pytest.skip("history files absent")
    from pythonmapreduce_spark.plans import registry

    registry.load_all()
    state, _ = ledger(REPO)
    reg_window = registry.ordered_names()[:50]
    tool_window = sorted(
        state, key=lambda n: (0 if state[n]["status"] == "FAILED" else 1,
                              state[n]["round"], n)
    )[:50]
    assert {state[n]["round"] for n in reg_window} == {
        state[n]["round"] for n in tool_window
    }


def test_registry_tier1_empty_on_fully_attested_ledger() -> None:
    # Today's ledger is fully attested with no oracle-upgraded rows-only
    # rows, so tier 1 must be empty and no stale (unregistered) rows
    # should exist — the cross-check exists for the first divergence.
    if not (REPO / "CORRECTNESS_r08.json").exists():
        pytest.skip("history files absent")
    state, _ = ledger(REPO)
    tier1, unregistered, notes = registry_tier1(state)
    assert tier1 == []
    assert unregistered == []
    assert any("378 queries" in n for n in notes)


def test_registry_tier1_flags_unattested_and_oracle_upgraded() -> None:
    # Synthetic ledger: drop one registered query (=> unattested) and
    # mark one oracle-backed query rows-only (=> oracle postdates its
    # driver evidence). Both are registry.ordered_names tier-1 cases the
    # JSON-only projection used to miss (ADVICE r09).
    if not (REPO / "CORRECTNESS_r08.json").exists():
        pytest.skip("history files absent")
    state, _ = ledger(REPO)
    state.pop("join_star")
    state["percentile_agg"] = {"round": 3, "status": "rows-only"}
    state["ghost_query_not_registered"] = {"round": 2, "status": "green"}
    tier1, unregistered, _ = registry_tier1(state)
    assert "join_star" in tier1
    assert "percentile_agg" in tier1
    assert unregistered == ["ghost_query_not_registered"]


def test_project_window_failed_before_tier1() -> None:
    # registry.ordered_names() sorts FAILED as tier 0 BEFORE tier-1
    # (unattested/oracle-upgraded) rows; the projection must splice tier1
    # after the FAILED prefix, not ahead of it (r10 ADVICE, low).
    from tools.attestation_report import project_window

    state = {
        "ok_old": {"round": 1, "status": "green"},
        "ok_new": {"round": 3, "status": "green"},
        "broken": {"round": 2, "status": "FAILED"},
    }
    assert project_window(state, ["fresh_unattested"], 4) == [
        "broken",
        "fresh_unattested",
        "ok_old",
        "ok_new",
    ]
    # membership at the truncation boundary: FAILED must survive a tiny
    # window even when tier1 alone would fill it
    assert project_window(state, ["t1a", "t1b", "t1c"], 2) == ["broken", "t1a"]
    # fully-green ledger, no tier1: pure stalest-first (unchanged path)
    assert project_window(
        {k: v for k, v in state.items() if v["status"] != "FAILED"}, [], 2
    ) == ["ok_old", "ok_new"]
