"""Simulate the driver's CORRECTNESS loop with per-query wall timing.

Runs every ``queries()`` entry at sf0.01 in registration order (the order the
driver sees) in the driver's regime: a PLAIN ``SparkSession`` at
``local[DEFAULT_CPUS]`` with Spark 4 defaults (ANSI on, 200 shuffle
partitions, the machine timezone, lz4), not ``get_spark()``, so a query that
leans on the tuned session's confs instead of pinning them in
``registry._tune_session`` fails here. It compares against ``oracle_sql()``
via DuckDB, canonicalizes both sides like the driver (sort columns by name,
pandas sort_values over raw cells — the exact step that crashes on array
cells), and prints a timing table. Use this to (a) catch
canonicalizer-hostile output types before the driver does and (b) keep total
pass time far below any plausible driver budget. Tuned-session oracle
coverage is ``tests/test_oracle_diff.py``.

Timezone robustness: the process TZ moves the JVM default zone and DuckDB's
ICU TimeZone; the queries pin spark.sql.session.timeZone=UTC themselves and
the oracles use naive UTC timestamp arithmetic, so this must also be green as

    TZ=Asia/Tokyo python tools/driver_sim.py

Usage: python tools/driver_sim.py [--sf-dir DIR] [--limit N] [--names a,b,c]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonicalization: sort columns by name, then row-sort by
    every column over raw cell values (this is where list cells explode)."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols).reset_index(drop=True)
    return df


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--limit", type=int, default=0)
    ap.add_argument("--names", default="")
    ap.add_argument("--json-out", default="")
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    # Python workers import the package by name: before the session starts,
    # point them at this checkout, not at their working directory's.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from pythonmapreduce_spark.catalog import TABLES
    from pythonmapreduce_spark.plans.registry import run_query
    from pythonmapreduce_spark.session import DEFAULT_CPUS

    t0 = time.time()
    spark = SparkSession.builder.master(f"local[{DEFAULT_CPUS}]").getOrCreate()
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    print(f"session+registry up in {time.time() - t0:.2f}s; {len(qs)} queries", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    names = list(qs)
    if args.names:
        names = [n for n in names if n in set(args.names.split(","))]
    if args.limit:
        names = names[: args.limit]

    results: dict[str, dict] = {}
    total0 = time.time()
    for i, name in enumerate(names):
        t0 = time.time()
        status = "ok"
        err = None
        spark_rows = oracle_rows = None
        try:
            got = run_query(spark, name, args.sf_dir, lambda df: canon(df.toPandas()))
            spark_rows = len(got)
            if name in oracles:
                want = canon(con.sql(oracles[name]).df())
                oracle_rows = len(want)
                if sorted(got.columns) != sorted(want.columns):
                    status = "SCHEMA_MISMATCH"
                    err = f"spark={sorted(got.columns)} oracle={sorted(want.columns)}"
                elif spark_rows != oracle_rows:
                    status = "ROWS_MISMATCH"
                else:
                    a = sorted(tuple(str(v) for v in r) for r in got.itertuples(index=False))
                    b = sorted(tuple(str(v) for v in r) for r in want.itertuples(index=False))
                    # Strict raw-stringify compare — the WORST CASE for an
                    # unknown external canonicalizer (catches int64-vs-float
                    # dtype drift that a rounding/normalizing compare hides;
                    # tests/test_oracle_diff.py does the tolerant compare).
                    if a != b:
                        ndiff = sum(1 for x, y in zip(a, b) if x != y)
                        status = "VALUES_DRIFT"
                        first = next((x, y) for x, y in zip(a, b) if x != y)
                        err = f"{ndiff}/{len(a)} rows differ under str(); first: {first}"
            else:
                status = "rows_only"
        except Exception as e:  # noqa: BLE001
            status = "ERROR"
            err = f"{type(e).__name__}: {e}"
        dt_total = time.time() - t0
        results[name] = {
            "i": i,
            "status": status,
            "sec": round(dt_total, 3),
            "spark_rows": spark_rows,
            "oracle_rows": oracle_rows,
            "err": (err or "")[:300] or None,
        }
        print(f"{i:3d} {name:28s} {status:15s} {dt_total:6.2f}s", flush=True)

    total = time.time() - total0
    bad = {k: v for k, v in results.items() if v["status"] not in ("ok", "rows_only")}
    print(f"\nTOTAL {total:.1f}s for {len(names)} queries "
          f"(avg {total / max(1, len(names)):.2f}s); problems: {len(bad)}")
    for k, v in bad.items():
        print(f"  {k}: {v['status']} {v['err']}")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump({"total_sec": total, "results": results}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
