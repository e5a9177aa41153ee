"""Structural plan signatures: what a query's executed plan costs, with no
ids and no call sites.

Under the MapReduce cost model (replication and rounds), a plan's cost is
its exchanges and the joins and scans that feed them. ``signature(df)``
runs ``df`` and counts those in its executed (AQE final) plan, subqueries
included:

- ``exchange <kind> keys=<k> width=<w>``: a shuffle exchange by
  partitioning kind (hash, range, single, roundrobin), key count and
  output column count; partition counts follow the core count and are
  left out;
- ``broadcast width=<w>``: a broadcast exchange;
- ``join <strategy> <type>``;
- ``python <node>``: a node of Spark's Python execution (UDFs,
  pandas and Arrow maps);
- ``scan <table>`` for a catalog table, ``scan <format>`` for any other
  file relation (temp-dir names never appear);
- ``Scan ExistingRDD``, ``ReusedExchange``, ``Expand``, ``Coalesce``,
  ``CartesianProduct`` and ``TakeOrderedAndProject`` by name.

``tools/gen_plans.py`` writes the signatures of the PLANS.md queries to
``plans/signatures.json``; ``tests/test_plan_signatures.py`` recomputes
them and must match it.
"""

from __future__ import annotations

import posixpath
from collections import Counter

from pyspark.sql import DataFrame

from pythonmapreduce_spark.catalog import TABLES

_COUNTED = (
    "Scan ExistingRDD",
    "ReusedExchange",
    "Expand",
    "Coalesce",
    "CartesianProduct",
    "TakeOrderedAndProject",
)
_PYTHON_PACKAGE = "org.apache.spark.sql.execution.python."


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _class(obj) -> str:
    """A JVM object's class name, without the Scala object suffix."""
    return obj.getClass().getSimpleName().rstrip("$")


def executed_nodes(df: DataFrame) -> list:
    """Run ``df`` and return every node of its executed (AQE final) plan and
    of its subqueries, entering query stages; a reused exchange or
    subquery is listed, not entered."""
    df.collect()
    nodes, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        nodes.append(node)
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif not name.startswith("Reused"):
            todo.extend(_seq(node.children()))
            todo.extend(_seq(node.subqueries()))
    return nodes


def _exchange(node) -> str:
    part = node.outputPartitioning()
    kind = _class(part).removesuffix("Partitioning").removesuffix("Partition")
    keys = len(_seq(part.children())) if kind in ("Hash", "Range") else 0
    return f"exchange {kind.lower()} keys={keys} width={node.output().size()}"


def _scan(node) -> str:
    fmt = node.nodeName().split()[1]
    roots = _seq(node.relation().location().rootPaths())
    if len(roots) == 1:
        table, ext = posixpath.splitext(roots[0].getName())
        if ext == f".{fmt}" and table in TABLES:
            return f"scan {table}"
    return f"scan {fmt}"


def _key(node) -> str | None:
    name = node.nodeName()
    if name in _COUNTED:
        return name
    if name == "Exchange":
        return _exchange(node)
    if name == "BroadcastExchange":
        return f"broadcast width={node.output().size()}"
    if name.endswith("Join"):
        return f"join {name} {_class(node.joinType())}"
    if node.getClass().getName().startswith(_PYTHON_PACKAGE):
        return f"python {name}"
    if _class(node) == "FileSourceScanExec":
        return _scan(node)
    return None


def signature(df: DataFrame) -> dict[str, int]:
    """Run ``df`` and count its executed plan's structure (module notes)."""
    counts = Counter(k for k in map(_key, executed_nodes(df)) if k is not None)
    return dict(sorted(counts.items()))


def table_scans(sig: dict[str, int]) -> dict[str, int]:
    """A signature's scan counts per catalog table."""
    return {
        key[5:]: n for key, n in sig.items() if key.startswith("scan ") and key[5:] in TABLES
    }
