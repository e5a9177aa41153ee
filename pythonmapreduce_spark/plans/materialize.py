"""Iteration-base materialization, cluster-parametric.

An iterative operator that runs an action per round (CC/label-propagation
loops, k-core peeling, the checkpointed edge bases they share) must cut
its lineage each round or re-execute the whole upstream plan per
iteration (measured ~8 of dedup_clusters' 9.6 s at sf0.01 without it).
A fixed-depth loop built as ONE plan (pagerank_iter, bfs_distances) does
not: the plan executes once and AQE reuses its exchanges across rounds,
so it materializes nothing. HOW to cut lineage is a deployment decision,
not an algorithm decision:

- ``localCheckpoint`` (default): executor-local blocks, zero
  configuration — right for local[] and sandboxed runs, but blocks die
  with an executor, so on a real cluster a lost node kills the query.
- ``persist``: MEMORY_AND_DISK with lineage kept — recomputable after
  executor loss (at recompute cost), no checkpoint dir needed. The
  conservative cluster default.
- ``checkpoint``: reliable checkpoint to ``sparkContext.checkpointDir``
  (HDFS/object store) — survives executor loss with no recompute;
  requires the deployment to have called ``setCheckpointDir``. Falls
  back to localCheckpoint (with one warning) if none is set, so a
  misconfigured session degrades instead of crashing.

One session conf flips every iterative base at once:
``spark.pythonmapreduce.iterMaterialize = localCheckpoint | persist |
checkpoint``.

Why localCheckpoint (not persist) is the default, measured (round 4,
sf0.1 local[32], full iterative tier under both modes): persist is
faster on shallow loops (pagerank_iter 1.1 s vs 2.0) because cached
columnar batches re-scan cheaper than checkpoint RDDs — but it KEEPS
lineage, and on deep chained loops the growing plan is catastrophic
(graph_cc_bigstar 21.2 s vs 2.8; bfs/hits/dedup_clusters all ~2×
slower). localCheckpoint's flat per-round cost is the only mode whose
time is independent of loop depth, which is what an engine-level
default must guarantee.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

CONF_KEY = "spark.pythonmapreduce.iterMaterialize"
_MODES = ("localCheckpoint", "persist", "checkpoint")

# Plan-evidence hook (round 12): when a list, every iter_materialize call
# appends the FORMATTED PLAN of the subtree it is about to execute.
# Checkpointed subtrees run eagerly at query-build time and appear in the
# final explain only as `Scan ExistingRDD`, so without this the
# plans/r{N} artifacts understate the work (a 0-scan after-plan is not
# free — the scans happened here). tools/dump_round_plans.py sets this
# around each query build and emits the captured passes into the
# artifact; None (the default) adds zero overhead to normal runs.
PLAN_CAPTURE: list[str] | None = None


def _capture_plan(df: DataFrame) -> None:
    if PLAN_CAPTURE is None:
        return
    try:
        jvm = df.sparkSession._jvm
        PLAN_CAPTURE.append(
            jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        )
    except Exception:  # evidence hook — never fail the query for it
        PLAN_CAPTURE.append("PLAN CAPTURE FAILED\n")


def iter_materialize(df: DataFrame) -> DataFrame:
    """Materialize an iteration base per the session's configured mode."""
    _capture_plan(df)
    mode = df.sparkSession.conf.get(CONF_KEY, "localCheckpoint")
    if mode not in _MODES:
        raise ValueError(f"{CONF_KEY}={mode!r}; expected one of {_MODES}")
    if mode == "persist":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()  # force population so the loop reads blocks, not lineage
        return out
    if mode == "checkpoint":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            warnings.warn(
                f"{CONF_KEY}=checkpoint but no sparkContext.setCheckpointDir; "
                "falling back to localCheckpoint",
                stacklevel=2,
            )
        else:
            return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
