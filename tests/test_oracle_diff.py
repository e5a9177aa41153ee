"""Primary correctness gate: every oracle-backed query vs DuckDB at sf0.01,
plus rows-only smoke for the approximate/streaming ops — the local mirror
of the driver's CORRECTNESS run."""

from __future__ import annotations

import pytest

from pythonmapreduce_spark.plans import registry
from tests import harness

registry.load_all()

ORACLE_NAMES = sorted(registry.ORACLES)
ROWS_ONLY_NAMES = sorted(set(registry.QUERIES) - set(registry.ORACLES))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(name: str, spark, sf_oracle: str) -> None:
    harness.run_compare(spark, sf_oracle, name)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(name: str, spark, sf_oracle: str) -> None:
    n_cols, n_rows = registry.run_query(
        spark, name, sf_oracle, lambda df: (len(df.columns), df.count())
    )
    assert n_cols > 0 and n_rows >= 0


# The SQL-text queries whose final sort runs on one partition carry
# Spark's COALESCE hint in the text they share with their oracle.
HINTED_ORACLE_NAMES = ("tpch_q4", "tpch_q5", "tpch_q12", "tpch_q13", "group_order_by_all")
_HINT = "/*+ COALESCE(1) */ "


@pytest.mark.parametrize("name", HINTED_ORACLE_NAMES)
def test_duckdb_reads_coalesce_hint_as_comment(name: str, sf_smoke: str) -> None:
    hinted = registry.ORACLES[name]
    assert _HINT in hinted
    con = harness.duckdb_con(sf_smoke)
    rows = con.sql(hinted).fetchall()
    assert rows
    assert rows == con.sql(hinted.replace(_HINT, "")).fetchall()
