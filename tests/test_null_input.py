"""Robustness: every registered query must complete on NULL-riddled input
— ~12% of every nullable non-key column nulled (text, timestamps, measures,
labels). Real lakes carry nulls everywhere the schema allows; an operator
that crashes (rather than null-propagates or filters) on a NULL text,
timestamp, or embedding would take down a 100 TB job on its first dirty
partition.

Key columns (ids used for joins/windows) stay non-null so the sweep tests
null VALUES, not referential breakage — that regime is test_empty_input's
and constraint_check's job. Correctness under nulls is asserted where it is
well-defined (the oracle diff covers tables whose generated data contains
nulls); here the contract is completion.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import SCHEMAS, TABLES, load
from pythonmapreduce_spark.plans import registry
from tests.harness import run_compare, write_noop

registry.load_all()

# Columns that must stay non-null: join/window/identity keys.
_KEEP = {
    "r_regionkey", "n_nationkey", "n_regionkey",
    "c_custkey", "s_suppkey", "p_partkey",
    "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "event_id", "user_id",
    "doc_id", "vec_id",
}

_SRC_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def nully_sf_dir(spark) -> str:
    d = os.path.join(tempfile.gettempdir(), "pmr_nully_sf")
    # write modern µs timestamps (Spark's default INT96 is a legacy format)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    for t in TABLES:
        target = os.path.join(d, f"{t}.parquet")
        if os.path.exists(target):
            continue
        df = load(spark, _SRC_SF, t)
        # deterministic ~12% null injection per non-key column, offset per
        # column so null positions differ across columns
        for i, f_ in enumerate(SCHEMAS[t].fields):
            c = f_.name
            if c in _KEEP:
                continue
            key = F.monotonically_increasing_id() + F.lit(i * 131)
            df = df.withColumn(
                c, F.when(F.pmod(F.xxhash64(key), 8) == 0, None).otherwise(F.col(c))
            )
        tmp = target + ".dir"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.replace(os.path.join(tmp, part), target)
    return d


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_runs_on_null_riddled_input(name: str, spark, nully_sf_dir: str) -> None:
    registry.run_query(spark, name, nully_sf_dir, write_noop)


def test_udf_scalar_null_text_matches_oracle(spark, nully_sf_dir: str) -> None:
    # A NULL text counts NULL tokens, as in the oracle.
    run_compare(spark, nully_sf_dir, "udf_scalar")
