"""Iteration-base materialization.

An iterative operator that runs an action per round (star contraction
to a fixpoint, dedup's label propagation, k-core peeling) must cut its
lineage each round or re-execute the whole upstream plan per iteration
(measured ~8 of dedup_clusters' 9.6 s at sf0.01 without it). A
fixed-depth loop built as ONE plan (pagerank_iter, bfs_distances,
graph_cc_rounds, label_propagation_communities) does not: the plan
executes once and AQE reuses its exchanges across rounds, so it
materializes nothing.

Lazy is the default: each call is an eager job at query-build time, so a
base stays in the plan unless its site names one of four reasons, in a
``# Kept (x)`` comment with the figure that decided it (graphs.py's
kept sites state theirs in prose):

- (a) the driver reads a value, or the loop depth depends on the data;
- (b) the lazy form re-runs a Python stage, whose CPU executorCpuTime
  does not count;
- (c) the lazy form re-scans a base table that a scan gate pins;
- (d) the lazy form raises shuffle bytes, or raises executor CPU under
  BASELINE.md's rule.

One rule, decided by what the deployment configured:

- ``sparkContext.setCheckpointDir`` called (the cluster setup, on
  HDFS/object store): reliable ``checkpoint`` — survives executor loss
  with no recompute.
- no checkpoint dir (local[] and sandboxed runs): ``localCheckpoint`` —
  executor-local blocks, zero configuration, but they die with an
  executor.

There is no lineage-keeping (cached) path. Measured round 4, sf0.1
local[32], full iterative tier: cached batches re-scan cheaper on
shallow loops (pagerank_iter 1.1 s vs 2.0), but the kept lineage grows
with loop depth and deep chained loops blow up (graph_cc_bigstar 21.2 s
vs 2.8; bfs/hits/dedup_clusters all ~2× slower). Both checkpoint forms
cost a flat amount per round, independent of loop depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def iter_materialize(df: DataFrame) -> DataFrame:
    """Materialize an iteration base eagerly: reliable checkpoint when the
    session has a checkpoint dir, localCheckpoint otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
