#!/usr/bin/env python3
"""Smoke self-test of the benchmark.

Runs every workload in BENCHMARK.json once untraced and once traced at
sf0.001 and checks that each run is correct and reports exactly the
metrics BENCHMARK.json names, each with its unit. Exits non-zero on the
first mismatch. Run from the root of a checkout:

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for wl in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", wl["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--sf", "0.001",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300)
            label = f"{wl['name']} trace={trace}"
            if proc.returncode != 0:
                print(f"FAIL {label}: exit {proc.returncode}")
                return 1
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                print(f"FAIL {label}: result keys {sorted(res)}")
                return 1
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                print(f"FAIL {label}: correct={res['correct']} failed={res['failed']}")
                return 1
            if got != wanted[trace]:
                print(f"FAIL {label}: metrics {got} != {wanted[trace]}")
                return 1
            print(f"ok   {label}: {res['attempted']} attempted", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
