"""Central query registry.

Every operator the engine claims (SURVEY.md §2.3) registers here as a
``(spark, sf_dir) -> DataFrame`` callable plus — when ANSI-SQL-expressible —
a DuckDB oracle SQL string. ``__spark_entry__.py`` exposes this registry to
the driver verbatim.

Contract (driver compare): the driver sorts columns by name then hashes
values order-insensitively, so Spark column names MUST equal oracle column
names, float aggregates are rounded identically on both sides, and any
collected list is sorted to a deterministic order. Rounded floats that can
land on zero need `+ 0.0` AFTER the round on BOTH sides: ROUND of a tiny
negative produces IEEE -0.0, engines disagree on which side of zero the
noise falls, and "-0.0" != "0.0" under stringified compare (bit twice:
anomaly_zscore's z, collocation_pmi's ln(1)). A rarer boundary: Spark's
F.round goes through BigDecimal.valueOf(double) — it rounds the double's
SHORTEST DECIMAL STRING — while DuckDB ROUND(DOUBLE) rounds the binary
value, so a computed double whose shortest repr is exactly ".xxxx5"
(binary slightly below) rounds UP in Spark and DOWN in DuckDB. When a
query's arithmetic can land on such boundaries (linear interpolation on
2-decimal inputs), make the oracle round via
`ROUND(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)), 4)` — the VARCHAR
cast reproduces the shortest repr (resample_interpolate, skew-sweep
find).

Oracle cost rule: DuckDB inlines a CTE once PER REFERENCE, so an
unrolled-rounds oracle where each level is read twice re-computes the
base 2^depth times — write chained/multi-referenced CTEs
`AS MATERIALIZED` (graph_cc_bigstar's 4-round oracle: 21 s inlined vs
0.05 s materialized at sf0.01, identical rows). Driver-window seconds
are attestation throughput; keep oracles cheap.

The reference's analog of this registry is its job-authoring surface:
marshal-serialized map/reduce code objects pointed at by master.ini
(/root/reference/mapreduce_wc.py:13-16, master.py:123-137). Here a "job" is
a declarative Catalyst plan instead of opaque bytecode.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import weakref

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

from pythonmapreduce_spark.plans.materialize import run_scope

QueryFn = Callable[[SparkSession, str], DataFrame]
T = TypeVar("T")

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Sessions already tuned (keyed by id(SparkSession)); runtime confs are
# session-wide so one pass per session suffices.
# Weak-referenced, not id-keyed: a GC'd session's address can be reused by
# a new session, which would silently skip tuning it (the same hazard
# catalog.py's memos avoid with WeakKeyDictionary).
_TUNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _tune_session(spark: SparkSession) -> None:
    """Pin runtime confs query semantics/performance depend on.

    The caller's SparkSession (driver, notebook) is not ours to construct,
    but these are all runtime-settable:
    - UTC session timezone: timestamp semantics must match the UTC-naive
      DuckDB oracle.
    - AQE + partition coalescing: a caller session with the 200-partition
      default pays ~170 empty-task schedulings per shuffle at test SFs;
      AQE coalesces to the data's real size, and on a cluster it splits
      skewed joins. Start parallelism at defaultParallelism (cores), the
      right floor for local runs; cluster deployments override via
      spark-submit and AQE adapts from there.
    - Arrow: every pandas interchange in the engine assumes vectorized
      transfer.
    """
    if spark in _TUNED:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ANSI pinned to Spark 4's default: every oracle compare was validated
    # under ANSI-on, and a caller session with ANSI off changes cast/
    # arithmetic semantics (overflow → NULL instead of error, lenient
    # string→number casts) out from under the registered queries.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    cores = spark.sparkContext.defaultParallelism
    if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > 4 * cores:
        spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    _TUNED.add(spark)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with an optional oracle.

    ``oracle=None`` marks a genuinely non-SQL-expressible op (approximate,
    streaming, iterative) — the driver then records a rows-only check.

    The registered callable pins session confs the query semantics depend
    on (UTC session timezone — the caller's SparkSession is not ours to
    assume) before building the plan.
    """

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _tune_session(spark)
            return fn(spark, sf_dir)

        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def run_query(
    spark: SparkSession, name: str, sf_dir: str, sink: Callable[[DataFrame], T]
) -> T:
    """Build query ``name`` and return ``sink(df)``, then release what the
    build materialized (``materialize.run_scope``), also if the sink raises."""
    with run_scope():
        return sink(QUERIES[name](spark, sf_dir))


def query_names() -> list[str]:
    return sorted(QUERIES)


# The committed CORRECTNESS_r*.json files live at the repo root.
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _attestation_state() -> dict[str, tuple[int, bool, bool]]:
    """Parse every CORRECTNESS_r*.json at the repo root.

    Returns {query_name: (latest_round_seen, ok, rows_only)} where ok means
    the latest driver row was green (all matches true, or a rows-only check
    that ran without error) and rows_only marks a ``no_oracle`` row — used
    to demote stale rows-only evidence for queries that have since gained a
    full oracle. Missing/unparseable files are skipped — ordering is an
    optimization, never a correctness dependency.
    """
    state: dict[str, tuple[int, bool, bool]] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            rows_only = err == "no_oracle"
            if rows_only:
                ok = row.get("spark_rows") is not None
            else:
                ok = (
                    err is None
                    and bool(row.get("rows_match"))
                    and bool(row.get("schema_match"))
                    and bool(row.get("hash_match"))
                )
            prev = state.get(name)
            if prev is None or rnd >= prev[0]:
                state[name] = (rnd, ok, rows_only)
    return state


def ordered_names() -> list[str]:
    """Registry keys ordered for a budget-capped external verifier.

    The driver attests ~50 queries per round in iteration order, so emit:
    (1) queries whose LAST driver row failed — a fix with no green
    re-attestation is still a standing red signal; (2) queries never
    driver-checked in any round — a query whose only driver row was
    rows-only but which NOW has a full oracle counts as
    never-attested-in-current-form; (3) green queries, stalest attestation
    first. Ties keep registration order. State comes from the committed
    CORRECTNESS_r*.json files, so the rotation advances by itself every
    round; ``tools/attestation_report.py`` prints it.
    """
    state = _attestation_state()

    def key(name: str) -> tuple:
        st = state.get(name)
        if st is not None and not st[1]:  # latest driver row failed
            tier = 0
        elif st is None or (st[2] and name in ORACLES):
            # never attested, or the oracle postdates the rows-only row
            tier = 1
        else:  # green; refresh stalest first
            tier = 2
        rnd = st[0] if st is not None and tier != 1 else 0
        return (tier, rnd)

    return sorted(QUERIES, key=key)  # stable: ties keep registration order


def load_all() -> None:
    """Import every module that registers queries (idempotent).

    Import order IS registration order IS the order an external harness
    iterating ``queries()`` sees. Modules whose queries lacked a driver
    CORRECTNESS row in round 1 (everything after the ~50-query cutoff:
    sources, pipeline, functions, streaming, the back half of operators)
    register FIRST so a budget-capped verification run covers the
    least-verified surface before re-confirming the already-green tier.
    """
    # Imports deferred so `import pythonmapreduce_spark` stays cheap and
    # circular imports are impossible.
    from pythonmapreduce_spark.sources import bucketing, readers, refwire, text_corpus  # noqa: F401
    from pythonmapreduce_spark.pipeline import (  # noqa: F401
        search,
        bpe,
        curation,
        dedup,
        multimodal,
        similarity,
        text_analysis,
    )
    from pythonmapreduce_spark.functions import complex, scalar, udfs  # noqa: F401
    from pythonmapreduce_spark.streaming import (  # noqa: F401
        event_windows,
        stateful,
        stream_jobs,
    )
    from pythonmapreduce_spark.operators import (  # noqa: F401
        graphs,
        sql_features,
        quality,
        timeseries,
        windows,
        reshape,
        asof,
        tpch,
        aggregates,
        joins,
        relational,
    )
