#!/usr/bin/env python3
"""Print the driver-attestation state of every registered query and the
next rotation window.

A printer over ``registry._attestation_state()`` (the latest
CORRECTNESS_r*.json row per query: green, rows-only or FAILED) and
``registry.ordered_names()`` (the order ``queries()`` hands a
budget-capped driver), so the report and the rotation cannot disagree.
It prints the status counts, staleness in rounds, failed and unattested
queries, rows left by queries no longer registered, and the next window.

Usage: python tools/attestation_report.py [--window N] [--json]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pythonmapreduce_spark.plans import registry  # noqa: E402


def report(window: int) -> dict:
    registry.load_all()
    state = registry._attestation_state()
    status = {
        name: "FAILED" if not ok else "rows-only" if rows_only else "green"
        for name, (_, ok, rows_only) in state.items()
    }
    last = max((rnd for rnd, _, _ in state.values()), default=0)
    names = registry.ordered_names()[:window]
    return {
        "rounds_seen": last,
        "queries_attested": len(state),
        "by_status": dict(Counter(status.values())),
        "staleness_histogram": dict(sorted(Counter(last - st[0] for st in state.values()).items())),
        "failed": sorted(n for n, s in status.items() if s == "FAILED"),
        "unattested": [n for n in registry.QUERIES if n not in state],
        "unregistered": sorted(n for n in state if n not in registry.QUERIES),
        "next_window_rounds": dict(Counter(state[n][0] for n in names if n in state)),
        "next_window": names,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--window", type=int, default=50, help="size of next rotation window")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)
    out = report(args.window)
    if args.json:
        print(json.dumps(out))
        return 0
    print(
        f"attested queries: {out['queries_attested']}  "
        f"(rounds 1..{out['rounds_seen']})  status: {out['by_status']}"
    )
    print(f"staleness (rounds since latest attestation -> queries): {out['staleness_histogram']}")
    for key in ("failed", "unattested", "unregistered"):
        if out[key]:
            print(f"{key}: {', '.join(out[key])}")
    print(
        f"next {args.window}-query rotation window draws from rounds "
        f"{out['next_window_rounds']}:"
    )
    print("  " + ", ".join(out["next_window"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
