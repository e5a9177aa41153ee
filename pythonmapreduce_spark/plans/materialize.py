"""Iteration-base materialization.

An iterative operator that runs an action per round (star contraction
to a fixpoint, dedup's label propagation, k-core peeling) must cut its
lineage each round or re-execute the whole upstream plan per iteration
(measured ~8 of dedup_clusters' 9.6 s at sf0.01 without it). A
fixed-depth loop built as ONE plan (pagerank_iter, bfs_distances,
hits_hub_authority, graph_cc_rounds, label_propagation_communities) does
not: the plan executes once and AQE reuses its exchanges across rounds,
so it materializes nothing.

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

A base whose global statistics the driver reads (a count, a mean, a
document frequency) goes through ``materialize_observed``: the
statistics are ``observe()`` metrics of the same eager pass, so the plan
needs no 1-row aggregate, no SinglePartition exchange and no broadcast
cross join to carry them back, and the caller folds them in as literals.
A frame whose rows nothing reads after its statistics (k-core's last
round) goes through ``observe_pass`` instead, which materializes nothing.

Lifetime: a run scope (``run_scope``, opened per thread by
``registry.run_query``) holds a release for each base checkpointed
(``iter_materialize``), each broadcast, each memory-sink view and each
scratch directory (``run_scratch``) created while it is open, and calls
them, newest first, as it closes: non-blocking unpersists, a view drop
and a directory removal, never a job, and no log line. Outside a scope
nothing registers; Spark's ContextCleaner frees what a build left once
it is garbage-collected, and always owns the files of a reliable
checkpoint (``unpersist`` frees blocks only), and scratch directories
stay until the process exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, Row

_open = threading.local()


@contextmanager
def run_scope() -> Iterator[list[Callable[[], object]]]:
    """Hold the releases registered on this thread until the block exits,
    then call them; yields the list of releases held so far."""
    outer = getattr(_open, "releases", None)
    _open.releases = releases = []
    try:
        yield releases
    finally:
        _open.releases = outer
        for release in reversed(releases):
            release()


def release_at_run_end(release: Callable[[], object]) -> None:
    """Have this thread's open run scope call ``release`` when it closes;
    no-op when no scope is open."""
    releases = getattr(_open, "releases", None)
    if releases is not None:
        releases.append(release)


_scratch_root: str | None = None


def run_scratch(name: str) -> str:
    """A fresh directory for files one run writes and reads back, removed
    when this thread's run scope closes (at process exit with none open).

    Directories live under ``<tmp>/pmr_spark_io/pid<pid>``; the first call
    in a process has that root removed at exit and removes the roots of
    processes that no longer run."""
    global _scratch_root
    if _scratch_root is None:
        parent = os.path.join(tempfile.gettempdir(), "pmr_spark_io")
        _sweep_dead_roots(parent)
        root = os.path.join(parent, f"pid{os.getpid()}")
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _scratch_root = root
    path = tempfile.mkdtemp(prefix=name, dir=_scratch_root)
    release_at_run_end(lambda: shutil.rmtree(path, ignore_errors=True))
    return path


def _sweep_dead_roots(parent: str) -> None:
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for entry in entries:
        if not (entry.startswith("pid") and entry[3:].isdigit()):
            continue
        try:
            os.kill(int(entry[3:]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        except OSError:
            pass  # EPERM: the pid runs under another user


def iter_materialize(df: DataFrame) -> DataFrame:
    """Materialize an iteration base eagerly: reliable checkpoint when the
    session has a checkpoint dir, localCheckpoint otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        out = df.localCheckpoint(eager=True)
    else:
        out = df.checkpoint(eager=True)
    # SparkContext.unpersistRDD is what RDD.unpersist calls, less the WARN
    # line it logs for every locally checkpointed RDD it frees.
    rdd_id = out._jdf.logicalPlan().rdd().id()
    sc = out.sparkSession.sparkContext._jsc.sc()
    release_at_run_end(lambda: sc.unpersistRDD(rdd_id, False))
    return out


def materialize_observed(
    df: DataFrame, *metrics: Column, where: Column | None = None
) -> tuple[DataFrame, Row]:
    """``iter_materialize`` ``df`` and compute the named aggregate
    ``metrics`` over its rows in that same pass; return the base and the
    metrics as one Row. ``where`` filters the materialized rows after the
    metrics have seen all of them.

    This module is the one place that reads an Observation. ``Observation.get``
    blocks until an action has run the observed plan, and the read here
    follows the eager pass, so a caller cannot read a metric too early.
    A count is 0 and a mean None on an empty base.
    """
    obs = Observation()
    observed = df.observe(obs, *metrics)
    if where is not None:
        observed = observed.where(where)
    out = iter_materialize(observed)
    return out, Row(**obs.get)


def observe_pass(df: DataFrame, *metrics: Column) -> Row:
    """Compute the named aggregate ``metrics`` over ``df``'s rows in one
    pass into the noop sink, which keeps no blocks: for a frame whose
    statistics the driver reads but whose rows nothing reads. Same plan
    as ``materialize_observed``'s pass, less the checkpoint."""
    obs = Observation()
    df.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
    return Row(**obs.get)
