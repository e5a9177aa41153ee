"""Detect staleness in PLANS.md without the noise of volatile ids.

``tools/gen_plans.py`` rewrites PLANS.md with freshly captured formatted
physical plans, but every capture churns operator ids, expression ids
(``#123``), RDD counters, and AQE plan_ids — so a raw regenerate-and-diff
always shows thousands of changed lines and real drift hides in the noise.
This tool regenerates the dump to a temp file, normalizes both sides
(volatile ids → placeholders), and diffs what remains: any surviving
difference is a REAL plan-shape or annotation change that PLANS.md has not
recorded yet (round 6 found the round-5 minhash struct-aggregate rewrite
this way).

Usage: python tools/check_plan_drift.py   # exit 0 = in sync, 1 = drift
"""

from __future__ import annotations

import difflib
import os
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def normalize(text: str) -> str:
    text = re.sub(r"\(\d+\)", "(N)", text)  # operator ids
    text = re.sub(r"#\d+[A-Za-z]*", "#N", text)  # expression ids
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"\bid=#?\d+\b", "id=N", text)
    text = re.sub(r"cte\[\d+\]", "cte[N]", text)
    text = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[N]", text)
    text = re.sub(r"ExistingRDD\[\d+\]", "ExistingRDD[N]", text)
    # an RDD's call site: Spark prints the same checkpoint as "at
    # <unknown>:0" or "at NativeMethodAccessorImpl.java:0" from run to run
    text = re.sub(r"(RDD\[N\] at \w+) at \S+:\d+", r"\1 at <site>", text)
    # per-session counters in the names of lambda variables and of
    # common subexpressions
    text = re.sub(r"(lambda \w+?)_\d+#N", r"\1_N#N", text)
    return re.sub(r"_common_expr_\d+", "_common_expr_N", text)


def main() -> int:
    committed = os.path.join(REPO, "PLANS.md")
    with tempfile.TemporaryDirectory() as tmp:
        fresh = os.path.join(tmp, "PLANS.md")
        env = dict(os.environ, PLANS_OUT=fresh)
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "gen_plans.py")],
            env=env,
            cwd=REPO,
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            print(proc.stdout[-2000:], proc.stderr[-2000:], sep="\n")
            print("gen_plans.py failed")
            return 2
        a = normalize(open(committed).read()).splitlines()
        b = normalize(open(fresh).read()).splitlines()
    if a == b:
        print("PLANS.md is in sync (after volatile-id normalization)")
        return 0
    diff = [
        line
        for line in difflib.unified_diff(a, b, "committed", "fresh", lineterm="")
        if line[:1] in "+-" and line[:3] not in ("+++", "---")
    ]
    print(f"PLANS.md DRIFT: {len(diff)} normalized diff lines; first 40:")
    print("\n".join(diff[:40]))
    print("\nRegenerate with: python tools/gen_plans.py")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
