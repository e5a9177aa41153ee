"""Table catalog: explicit schemas + loaders for the engine's tables.

The reference's only "catalog" is a directory of text files read line-by-line
(master.py:25-31) with the (file_name, line) pair as the universal schema.
Here every table gets an explicit StructType (schema policy per SURVEY §1.4)
so scans never rely on inference and column pruning/pushdown are exact.

Tables (FIXTURES.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf_dir.
"""

from __future__ import annotations

import functools
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Explicit schemas, matching the driver-generated parquet exactly.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts unit varies between data generations (TIMESTAMP(NANOS) vs
    # TIMESTAMP(MICROS)); load() sniffs the parquet footer once per file and
    # adapts (see events_read_schema / events_ts_fix). This logical schema is
    # the µs form every query sees either way.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _events_ts_is_nanos(path: str) -> bool:
    """True when events.ts is parquet TIMESTAMP(NANOS).

    Spark's TimestampType is µs-precision, so nanos files must be read as
    raw longs (spark.sql.legacy.parquet.nanosAsLong) and floor-divided to
    µs — the same truncation DuckDB applies casting TIMESTAMP_NS →
    TIMESTAMP. µs/ms and legacy INT96 files map straight onto
    TimestampType. Inspect the parquet PHYSICAL type, not the arrow view:
    pyarrow surfaces INT96 as timestamp[ns] even though Spark reads INT96
    natively. One driver-side footer read per (path, mtime, size) — keyed
    on the stat so a regenerated events.parquet (the documented per-round
    regime) invalidates the cache instead of silently reusing the old
    unit, which would corrupt every time predicate.
    """
    st = os.stat(path)
    return _events_ts_is_nanos_cached(path, st.st_mtime_ns, st.st_size)


@functools.lru_cache(maxsize=64)
def _events_ts_is_nanos_cached(path: str, mtime_ns: int, size: int) -> bool:
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema
    col = next(
        schema.column(i) for i in range(len(schema.names)) if schema.column(i).name == "ts"
    )
    if col.physical_type == "INT96":
        return False
    return "nano" in str(col.logical_type).lower()


def events_read_schema(sf_dir: str) -> T.StructType:
    """The physical read schema for events at this sf_dir (ts as raw longs
    for nanos files, TimestampType for µs files)."""
    schema = SCHEMAS["events"]
    if not _events_ts_is_nanos(table_path(sf_dir, "events")):
        return schema
    return T.StructType(
        [
            T.StructField("ts", T.LongType()) if f.name == "ts" else f
            for f in schema.fields
        ]
    )


def events_ts_fix(df: DataFrame, sf_dir: str) -> DataFrame:
    """Normalize events.ts to a µs TimestampType column (no-op for µs files)."""
    if _events_ts_is_nanos(table_path(sf_dir, "events")):
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def events_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream source over the events table with unit-normalized ts —
    the shared entry for every streaming job."""
    if _events_ts_is_nanos(table_path(sf_dir, "events")):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = (
        spark.readStream.schema(events_read_schema(sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return events_ts_fix(src, sf_dir)


# DataFrame memo for load(): a DataFrame is an immutable logical plan, so
# re-serving the same object skips ~20 ms of py4j reader construction per
# call — across an external verifier's 50-query run (1-4 loads per query)
# that is seconds of pure fixed cost. The memo dict lives ON the session
# object (never a module global keyed by id(spark): a GC'd session's
# address can be reused by a new session, which would silently serve
# plans bound to a dead py4j gateway; and never a module-global
# WeakKeyDictionary: its VALUES — DataFrames — strongly reference the
# key session, so entries would be rooted forever, review r4 second
# pass). session → dict → DataFrame → session is an unrooted cycle the
# gc reclaims once nothing else references the session (PySpark's
# RDD.toDF patch pins only the most recently created one — verified by
# the weakref probe in this change), so a per-round session-recreating
# verifier does not accumulate dead plans. Entries
# are keyed by the parquet file's (mtime_ns, size) as well as
# (sf_dir, name) so a regenerated file (the documented per-round regime,
# and tests that rewrite temp dirs in place) invalidates instead of
# silently reusing the old plan.


_MEMO_ATTACH_LOCK = threading.Lock()


def _session_memo(spark: SparkSession, attr: str) -> dict:
    memo = getattr(spark, attr, None)
    if memo is None:
        # Attach under a lock: two threads racing load() on a fresh session
        # would each build a dict and the second setattr would silently
        # drop the first thread's cached entries (cache-miss only, never
        # wrong results — but the memo exists to kill fixed cost, so keep
        # it). Double-checked: the getattr above is the fast path.
        with _MEMO_ATTACH_LOCK:
            memo = getattr(spark, attr, None)
            if memo is None:
                memo = {}
                setattr(spark, attr, memo)
    return memo


def _table_stat(path: str) -> tuple:
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (0, 0)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with its explicit schema (no inference).

    Parquet scans stay fully prunable: Catalyst pushes filters down to
    row-group level and prunes unread columns from ReadSchema.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMAS)}")
    path = table_path(sf_dir, name)
    if name == "events" and _events_ts_is_nanos(path):
        # re-pin on every call (not just cache misses): the conf is read
        # at scan planning, which happens at each execution of the
        # memoized plan
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    memo = _session_memo(spark, "_pmr_load_memo")
    key = (sf_dir, name, _table_stat(path))
    cached = memo.get(key)
    if cached is not None:
        return cached
    if name == "events":
        df = spark.read.schema(events_read_schema(sf_dir)).parquet(path)
        df = events_ts_fix(df, sf_dir)
    else:
        df = spark.read.schema(SCHEMAS[name]).parquet(path)
    if len(memo) > 512:  # bound growth across many temp sf_dirs
        memo.clear()
    memo[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register tables as temp views for the SQL API path.

    Idempotent per session: re-registering the same (view, sf_dir,
    file-stat) is skipped — temp-view creation is a py4j round-trip per
    table, pure fixed cost when a verifier runs dozens of SQL-path
    queries back to back. A different sf_dir (or a regenerated file)
    under the same view name re-registers. Code outside this module must
    not bind these ten table names to other content (nothing does; ad-hoc
    views use underscore-prefixed names).
    """
    # Temp views registered per session: view name → the (sf_dir, stat) it
    # points at; skips the py4j round-trip when unchanged.
    memo = _session_memo(spark, "_pmr_view_memo")
    for name in tables or TABLES:
        state = (sf_dir, _table_stat(table_path(sf_dir, name)))
        if memo.get(name) == state:
            continue
        load(spark, sf_dir, name).createOrReplaceTempView(name)
        memo[name] = state
