"""Command-line entry point: the engine's job-submission surface.

The reference submits jobs via a Flask REST API that forks a master
process (/root/reference/server.py:57-76) and polls status keys; on Spark
a "job" is a registered declarative query, so the CLI surface is: list
what exists, run one, show its physical plan, print its oracle.

    python -m pythonmapreduce_spark list
    python -m pythonmapreduce_spark run wordcount --sf-dir /root/testdata/sf0.01 --limit 10
    python -m pythonmapreduce_spark explain join_star
    python -m pythonmapreduce_spark oracle agg_basic
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pythonmapreduce_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registered queries (* = DuckDB oracle)")
    for c in ("run", "explain", "oracle"):
        p = sub.add_parser(c)
        p.add_argument("name")
        if c != "oracle":
            p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
        if c == "run":
            p.add_argument("--limit", type=int, default=20)
    args = ap.parse_args(argv)

    from pythonmapreduce_spark.plans import registry

    registry.load_all()

    if args.cmd == "list":
        for name in registry.query_names():
            mark = "*" if name in registry.ORACLES else " "
            print(f"{mark} {name}")
        return 0

    if args.cmd == "oracle":
        sql = registry.ORACLES.get(args.name)
        if sql is None:
            print(f"{args.name}: rows-only (no SQL oracle)", file=sys.stderr)
            return 1
        print(sql.strip())
        return 0

    from pythonmapreduce_spark.session import get_spark

    if args.name not in registry.QUERIES:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2

    def sink(df) -> None:
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)

    registry.run_query(get_spark("pythonmapreduce-spark-cli"), args.name, args.sf_dir, sink)
    return 0


if __name__ == "__main__":
    sys.exit(main())
