"""Full-registry oracle differential under the DRIVER'S session regime.

tools/driver_sim.py and tests/test_oracle_diff.py run against the repo's
tuned session (`pythonmapreduce_spark.session.get_spark`). The external
driver instead constructs a PLAIN SparkSession — Spark 4 defaults (ANSI
on, 200 shuffle partitions, machine timezone) — and each registered
query must self-pin whatever semantics it depends on via
`registry._tune_session`. This sweep runs every ``queries()`` entry
against its ``oracle_sql()`` twin under exactly that regime, so a
query that silently leans on the tuned session's confs fails HERE
instead of in a driver correctness row.

Timezone robustness: run under a shifted process TZ to prove neither
engine leaks the machine zone into results —

    TZ=Asia/Tokyo python tools/default_session_sweep.py

(the process TZ moves the JVM default zone AND DuckDB's ICU TimeZone;
the registered queries pin spark.sql.session.timeZone=UTC themselves,
and the oracles use naive UTC timestamp arithmetic, so both sweeps
must be green). Round-5 measurements: 378/378 green under UTC (~250 s)
AND under Asia/Tokyo (~210 s) at sf0.01. The check has teeth:
re-setting the session zone to Asia/Tokyo after tuning flips
window_tumbling to a hash mismatch.

Usage: python tools/default_session_sweep.py [--sf-dir DIR] [--limit N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.astype(str).sort_values(cols).reset_index(drop=True)
    else:
        df = df.astype(str)
    return df


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--limit", type=int, default=0)
    ap.add_argument("--names", default="", help="comma-separated query subset")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    # Python workers import the package by name: before the session starts,
    # point them at this checkout, not at their working directory's.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))

    import duckdb
    from pyspark.sql import SparkSession

    # the driver's regime: a plain default-config session, NOT get_spark()
    spark = SparkSession.builder.master(f"local[{args.cpus}]").getOrCreate()

    import __spark_entry__ as entry_mod
    from pythonmapreduce_spark.catalog import TABLES
    from pythonmapreduce_spark.plans.registry import run_query

    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    if args.names:
        names = args.names.split(",")
    else:
        names = list(q)[: args.limit] if args.limit else list(q)
    bad: list[tuple[str, str]] = []
    t_start = time.time()
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sp = run_query(spark, name, args.sf_dir, lambda df: df.toPandas())
            if name in o:
                du = con.sql(o[name]).df()
                ok = (
                    len(sp) == len(du)
                    and sorted(sp.columns) == sorted(du.columns)
                    and canon(sp).equals(canon(du))
                )
                status = "ok" if ok else "MISMATCH"
            else:
                status = "rows_only"
        except Exception as ex:  # noqa: BLE001 — a sweep reports, never aborts
            status = f"ERR {str(ex).splitlines()[0][:120]}"
        if status not in ("ok", "rows_only"):
            bad.append((name, status))
        print(f"{i:3d} {name:36s} {status} {time.time() - t0:5.2f}s", flush=True)
    print(f"TOTAL {time.time() - t_start:.1f}s for {len(names)} queries; BAD={bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
