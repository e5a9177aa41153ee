"""Deployment-parametric materialization + AQE skew handling.

These gates cover the two cluster behaviors the sandbox can't show
naturally: how iterative bases survive executor loss (materialization
mode) and how AQE splits a skewed join at scale.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pythonmapreduce_spark.plans import registry
from pythonmapreduce_spark.plans.materialize import CONF_KEY, iter_materialize

registry.load_all()


@pytest.fixture
def _restore_conf(spark):
    prev = spark.conf.get(CONF_KEY, "localCheckpoint")
    yield
    spark.conf.set(CONF_KEY, prev)


def _cluster_rows(spark, sf_smoke):
    return sorted(
        (r["doc_id"], r["cluster_id"], r["is_survivor"])
        for r in registry.QUERIES["dedup_clusters"](spark, sf_smoke).collect()
    )


def test_iter_materialize_modes_agree(spark, sf_smoke, _restore_conf) -> None:
    """One conf flips every iterative base; results must be identical
    under all three modes (checkpoint falls back with a warning here —
    no checkpoint dir is configured in the test session)."""
    spark.conf.set(CONF_KEY, "localCheckpoint")
    base = _cluster_rows(spark, sf_smoke)
    assert base, "fixture should produce clusters"

    spark.conf.set(CONF_KEY, "persist")
    assert _cluster_rows(spark, sf_smoke) == base

    spark.conf.set(CONF_KEY, "checkpoint")
    with pytest.warns(UserWarning, match="falling back to localCheckpoint"):
        assert _cluster_rows(spark, sf_smoke) == base


def test_iter_materialize_checkpoint_dir(spark, sf_smoke, _restore_conf, tmp_path) -> None:
    """With a checkpoint dir configured, reliable checkpoint engages (no
    fallback warning) and a graph query still answers correctly."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(CONF_KEY, "checkpoint")
    rows = registry.QUERIES["graph_degree"](spark, sf_smoke).collect()
    assert rows


@pytest.mark.parametrize(
    ("mode", "ckpt_dir"),
    [("localCheckpoint", False), ("persist", False), ("checkpoint", True), ("checkpoint", False)],
    ids=["localCheckpoint", "persist", "checkpoint", "checkpoint_fallback"],
)
def test_iter_materialize_is_eager(spark, _restore_conf, tmp_path, mode, ckpt_dir) -> None:
    """Every mode runs a Spark job before it returns. collocation_pmi reads
    an ``observe()`` metric right after iter_materialize, and
    ``Observation.get`` blocks forever if no action ran on the plan — so the
    job must exist BEFORE the metric is read."""
    from pyspark.sql import Observation

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    prev_dir = jsc.checkpointDir()
    # SparkContext has no public way to unset the checkpoint dir; the
    # fallback case needs it unset, and neither case may leak a dir
    set_dir = getattr(jsc, "checkpointDir_$eq")
    if ckpt_dir:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    else:
        set_dir(spark._jvm.scala.Option.empty())
    group = f"eager_{mode}_{ckpt_dir}"
    spark.conf.set(CONF_KEY, mode)
    sc.setJobGroup(group, "iter_materialize eagerness")
    try:
        obs = Observation()
        df = spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))
        if mode == "checkpoint" and not ckpt_dir:
            with pytest.warns(UserWarning, match="falling back to localCheckpoint"):
                out = iter_materialize(df)
        else:
            out = iter_materialize(df)
        assert list(sc.statusTracker().getJobIdsForGroup(group)), f"{mode}: no job ran"
        assert obs.get["n"] == 10
        out.unpersist()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        set_dir(prev_dir)


def test_iter_materialize_rejects_unknown_mode(spark, _restore_conf) -> None:
    spark.conf.set(CONF_KEY, "bogus")
    with pytest.raises(ValueError, match="bogus"):
        iter_materialize(spark.range(3))


def test_aqe_splits_skewed_join(spark) -> None:
    """The 100 TB reality the sandbox can't show: one hot key must not
    pin a join to one straggler task. With AQE skew-join forced on a
    synthetic 90%-one-key build side, the executed plan must carry the
    skew=true sort-merge-join marker (OptimizeSkewedJoin fired)."""
    sc = spark.conf
    prev = {
        k: sc.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        # thresholds low enough that a ~MB hot partition counts as skewed
        sc.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        sc.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        sc.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        # forbid broadcast so the join stays sort-merge and AQE must split
        sc.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        sc.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        n = 200_000
        skewed = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        dim = spark.range(50_000).select(
            F.col("id").alias("k"),
            F.sha2((F.col("id") + 1).cast("string"), 256).alias("pad2"),
        )
        # the aggregate must CONSUME the wide pad columns, or column
        # pruning drops them before the shuffle and the partitions are
        # too small to register as skewed
        joined = (
            skewed.join(dim, "k")
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("pad") + F.length("pad2")).alias("bytes_seen"),
            )
        )
        [row] = joined.collect()
        assert row["n"] > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                sc.unset(k)
            else:
                sc.set(k, v)


def test_no_sql_cache_survives_any_headline_build(spark, sf_smoke) -> None:
    """Anti-gaming gate (round 12): no query build may leave SQL-cache
    entries behind. Spark's CacheManager matches CANONICALIZED plans, so
    a persist() surviving one build would silently serve the next
    identical build — in the bench that means a warmup feeding the timed
    runs. Every bench query is built (and its materializations executed)
    at the smoke SF; after each, the session's CacheManager must be
    empty. bench.py enforces the same invariant at run time."""
    import bench

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    for name in bench.HEADLINE:
        registry.QUERIES[name](spark, sf_smoke)
        assert cache_mgr.isEmpty(), f"{name} left SQL-cache entries behind"
