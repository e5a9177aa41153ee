"""Differential-test harness: Spark query vs DuckDB oracle.

Mimics the driver's comparison (row count + column names + order-
insensitive value comparison after sorting columns by name) so dialect
drift is caught locally before a round's CORRECTNESS run. Deliberately
strict: values are normalized to canonical strings (floats via repr of
round(12), timestamps via isoformat) and compared as sorted multisets.
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from pythonmapreduce_spark.catalog import TABLES
from pythonmapreduce_spark.plans import registry


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_value(v: Any) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float) and math.isnan(v):
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        r = round(f, 9)
        if r == int(r):
            return str(int(r))
        return repr(r)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if isinstance(v, pd.Timestamp):
            v = v.to_pydatetime()
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _canon_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    out = [tuple(_norm_value(v) for v in row) for row in df[cols].itertuples(index=False)]
    out.sort()
    return out


def compare(spark_df, oracle_rows: pd.DataFrame, name: str = "query") -> None:
    got = spark_df.toPandas()
    assert sorted(got.columns) == sorted(oracle_rows.columns), (
        f"{name}: column mismatch spark={sorted(got.columns)} oracle={sorted(oracle_rows.columns)}"
    )
    assert len(got) == len(oracle_rows), (
        f"{name}: row count spark={len(got)} oracle={len(oracle_rows)}"
    )
    a, b = _canon_rows(got), _canon_rows(oracle_rows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs (spark vs oracle): {diffs}")


def write_noop(df) -> None:
    """A sink that computes every column of ``df`` (a count lets the
    optimizer drop the expressions it does not need) and keeps nothing."""
    df.write.format("noop").mode("overwrite").save()


def run_compare(spark, sf_dir: str, name: str) -> None:
    con = duckdb_con(sf_dir)
    try:
        oracle_rows = con.sql(registry.ORACLES[name]).df()
    finally:
        con.close()
    registry.run_query(spark, name, sf_dir, lambda df: compare(df, oracle_rows, name=name))
