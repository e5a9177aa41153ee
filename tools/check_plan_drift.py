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


# The Expand of a rewritten multi-distinct aggregate:
# "Arguments: [[row], [row], ...], [<distinct columns>, gid#N, ...]".
_GID_EXPAND = re.compile(r"^Arguments: \[(\[.*\])\], \[(.+?), gid#N, ", re.M)


def _canonical_gids(plan: str) -> str:
    """Relabel one plan's distinct-aggregate grouping sets canonically.

    Spark numbers the grouping sets of a multi-distinct aggregate (gid 1,
    2, ...) in a hash order of the distinct children, which moves with
    expression ids: one plan captures as ``[raw_digest, digest, gid]``
    with raw_digest at gid 1, or as ``[digest, raw_digest, gid]`` with
    digest at gid 1. Sort the distinct columns by name, renumber the gids
    in the order of their sorted column groups, and rewrite the Expand
    rows, the column lists and every ``gid#N = k`` to match. A plan whose
    Expand rows do not split cleanly into columns is left as it is.
    """
    m = _GID_EXPAND.search(plan)
    if not m:
        return plan
    cols = m.group(2).split(", ")
    rows = [r.split(", ") for r in m.group(1)[1:-1].split("], [")]
    if any(len(r) <= len(cols) for r in rows):
        return plan
    group = {r[len(cols)]: tuple(c for c, v in zip(cols, r) if v != "null") for r in rows}
    new_gid = {k: str(i) for i, k in enumerate(sorted(group, key=group.get))}
    order = sorted(range(len(cols)), key=cols.__getitem__)
    new_rows = sorted(
        ([r[i] for i in order] + [new_gid[r[len(cols)]]] + r[len(cols) + 1 :] for r in rows),
        key=lambda r: int(r[len(cols)]),
    )
    plan = (
        plan[: m.start(1)]
        + ", ".join(f"[{', '.join(r)}]" for r in new_rows)
        + plan[m.end(1) :]
    )
    plan = plan.replace(
        ", ".join(cols) + ", gid#N", ", ".join(sorted(cols)) + ", gid#N"
    )
    return re.sub(
        r"gid#N = (\d+)", lambda g: f"gid#N = {new_gid.get(g[1], g[1])}", plan
    )


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
    text = re.sub(r"_common_expr_\d+", "_common_expr_N", text)
    # grouping-sets gids, one "## query" section at a time
    return "".join(_canonical_gids(p) for p in re.split(r"(?m)^(?=## )", text))


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
