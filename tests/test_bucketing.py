"""Co-located bucketed join: the pre-shuffled layout must remove BOTH
exchanges from a fact⋈fact join, and results must equal the plain join."""

from __future__ import annotations

from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import load
from pythonmapreduce_spark.sources.bucketing import bucketed_join, write_bucketed


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_bucketed_join_is_exchange_free(spark, sf_smoke) -> None:
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        write_bucketed(spark, sf_smoke, "lineitem", "l_orderkey", "li_bucketed")
        write_bucketed(spark, sf_smoke, "orders", "o_orderkey", "ord_bucketed")

        joined = bucketed_join(
            spark, "li_bucketed", "ord_bucketed", F.col("l_orderkey") == F.col("o_orderkey")
        ).select("l_orderkey", "l_extendedprice", "o_totalprice")

        plan = _plan(joined)
        assert "Exchange" not in plan, plan  # layout already co-located

        # identical results to the plain (shuffling) join
        plain = (
            load(spark, sf_smoke, "lineitem")
            .join(
                load(spark, sf_smoke, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select("l_orderkey", "l_extendedprice", "o_totalprice")
        )
        assert joined.count() == plain.count()
        assert joined.exceptAll(plain).count() == 0
        assert plain.exceptAll(joined).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_join_bucketed_answers_each_scale_factor(spark, sf_smoke, sf_oracle) -> None:
    """One session alternating inputs gets each input's answer: the
    bucketed copies are per input, not one pair overwritten by the last
    input written."""
    from pythonmapreduce_spark.plans import registry
    from tests.harness import run_compare

    registry.load_all()
    for sf_dir in (sf_oracle, sf_smoke, sf_oracle):
        run_compare(spark, sf_dir, "join_bucketed")
