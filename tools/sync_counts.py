"""Sync query counts in README.md / BASELINE.md from the registry itself.

One source of truth: `registry.QUERIES` / `registry.ORACLES`. Run after
adding or removing queries; docs never hand-sync counts again.

Usage: python tools/sync_counts.py [--check]
(--check exits 1 if the docs are stale instead of rewriting them.)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pythonmapreduce_spark.plans import registry  # noqa: E402


def main() -> int:
    check = "--check" in sys.argv
    registry.load_all()
    n_q = len(registry.QUERIES)
    n_o = len(registry.ORACLES)

    # (file, pattern, replacement) — patterns anchored to the count phrasing.
    edits = [
        (
            "README.md",
            r"\b\d+ of \d+\b",
            f"{n_o} of {n_q}",
        ),
        (
            "BASELINE.md",
            r"\b\d+/\d+ queries oracle-backed",
            f"{n_o}/{n_q} queries oracle-backed",
        ),
        (
            "SURVEY.md",
            r"\b\d+ registered as of",
            f"{n_q} registered as of",
        ),
    ]

    stale = False
    for path, pat, repl in edits:
        with open(path) as f:
            text = f.read()
        new = re.sub(pat, repl, text)
        if new != text:
            stale = True
            if not check:
                with open(path, "w") as f:
                    f.write(new)
                print(f"updated {path}: {pat!r} -> {repl!r}")
    print(f"registry: {n_q} queries, {n_o} oracle-backed, {n_q - n_o} rows-only")
    if check and stale:
        print("STALE: docs do not match the registry; run tools/sync_counts.py")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
