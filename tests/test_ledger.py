"""The counter ledger's rise rule and the ranges it records
(``tools/gen_plans.py`` ``rises`` and ``merged``) over hand-built rows: no
Spark session."""

from __future__ import annotations

from tools.gen_plans import ledger_row, merged, rises


def _row(tasks: int | list[int], low: int, high: int) -> dict:
    tasks = tasks if isinstance(tasks, list) else [tasks, tasks]
    return {"tasks": tasks, "shuffle_write_bytes": [low, high]}


def test_a_task_rise_flags() -> None:
    assert rises({"q": _row(8, 100, 100)}, {"q": _row(9, 100, 100)}) == (["q"], [], [])


def test_a_byte_minimum_above_the_recorded_maximum_flags() -> None:
    assert rises({"q": _row(8, 100, 120)}, {"q": _row(8, 121, 121)}) == (["q"], [], [])


def test_a_value_inside_the_recorded_range_does_not_flag() -> None:
    # graph_cc_bigstar's checkpointed rounds and a range sort's sample
    # move bytes, and an AQE choice moves behavior_entropy's stages, from
    # run to run with unchanged code
    committed = {
        "graph_cc_bigstar": _row(37, 383_671, 399_285),
        "sort_multi": _row(3, 52_099, 52_647),
        "behavior_entropy": _row([4, 5], 4_372, 6_036),
    }
    measured = {
        "graph_cc_bigstar": _row(37, 383_219, 399_285),
        "sort_multi": _row(3, 52_647, 53_176),
        "behavior_entropy": _row([5, 5], 6_036, 6_036),
    }
    assert rises(committed, measured) == ([], [], [])


def test_added_and_removed_queries_are_listed() -> None:
    committed = {"kept": _row(2, 10, 10), "gone": _row(2, 10, 10)}
    measured = {"kept": _row(2, 10, 10), "new_b": _row(5, 1, 1), "new_a": _row(5, 1, 1)}
    assert rises(committed, measured) == ([], ["new_a", "new_b"], ["gone"])


def test_ledger_row_keeps_task_and_byte_ranges() -> None:
    runs = [
        {"stages": 5, "tasks": 5, "shuffle_write_bytes": 6_036},
        {"stages": 4, "tasks": 4, "shuffle_write_bytes": 4_372},
    ]
    assert ledger_row(runs) == {"stages": 5, "tasks": [4, 5], "shuffle_write_bytes": [4_372, 6_036]}


def test_an_overlapping_range_widens_the_record() -> None:
    committed = {"sort_multi": _row(3, 52_557, 53_134)}
    measured = {"sort_multi": _row([3, 4], 52_099, 52_647)}
    assert merged(committed, measured) == {"sort_multi": _row([3, 4], 52_099, 53_134)}


def test_a_return_to_the_old_value_after_a_fall_flags() -> None:
    committed = {"q": _row(8, 1_000, 1_000)}
    fell = {"q": _row(6, 500, 500)}
    assert rises(committed, fell) == ([], [], [])
    committed = merged(committed, fell)
    assert committed == fell
    assert rises(committed, {"q": _row(8, 1_000, 1_000)}) == (["q"], [], [])
