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

Two readers look at expressions, not structure: ``growth_aggregates`` (the
aggregate buffers that grow with their group) and ``raw_text_crossings``
(the documents text crossing a shuffle). ``tests/test_plan_audit.py``
runs both with the signature over every registered query's node list.
"""

from __future__ import annotations

import posixpath
from collections import Counter, defaultdict

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


def node_counts(nodes: list) -> dict[str, int]:
    """Count the structure of an executed plan's nodes (module notes)."""
    counts = Counter(k for k in map(_key, nodes) if k is not None)
    return dict(sorted(counts.items()))


def signature(df: DataFrame) -> dict[str, int]:
    """Run ``df`` and count its executed plan's structure (module notes)."""
    return node_counts(executed_nodes(df))


def table_scans(sig: dict[str, int]) -> dict[str, int]:
    """A signature's scan counts per catalog table."""
    return {
        key[5:]: n for key, n in sig.items() if key.startswith("scan ") and key[5:] in TABLES
    }


# Aggregate functions whose buffer holds its whole group until the
# aggregate finalizes, and cannot spill; the fixed-size sketches
# (approx_percentile, HyperLogLog) are not among them.
_GROWTH_AGGREGATES = frozenset({"percentile", "collect_list", "collect_set", "mode", "median"})


def growth_aggregates(nodes: list) -> set[str]:
    """The growth-class functions that an ObjectHashAggregate or a
    SortAggregate node buffers (a SortAggregate hosts the same buffer when
    the object hash aggregate is off or falls back)."""
    names = {
        agg.aggregateFunction().prettyName()
        for node in nodes
        if node.nodeName() in ("ObjectHashAggregate", "SortAggregate")
        for agg in _seq(node.aggregateExpressions())
    }
    return names & _GROWTH_AGGREGATES


def _identity_source(expr) -> int | None:
    """The attribute id that an Alias passes on unchanged: its child is the
    attribute, or casts of it to string or binary."""
    if _class(expr) != "Alias":
        return None
    expr = expr.child()
    while _class(expr) == "Cast" and expr.dataType().typeName() in ("string", "binary"):
        expr = expr.child()
    return expr.exprId().id() if _class(expr) == "AttributeReference" else None


def raw_text_crossings(nodes: list) -> set[str]:
    """Names of the attributes holding raw documents text that a shuffle
    exchange outputs (DEPLOYMENT.md §3: content never crosses an exchange).

    The text is traced by attribute id: from the ``text`` outputs of the
    plan's leaves through identity aliases and casts. A value derived from
    it, such as ``xxhash64(text)``, is not traced, whatever its name."""
    traced: set[int] = set()
    for node in nodes:
        name = node.nodeName()
        wrapper = name == "AdaptiveSparkPlan" or name.endswith("QueryStage")
        if not wrapper and node.children().isEmpty():
            traced |= {a.exprId().id() for a in _seq(node.output()) if a.name() == "text"}
    if not traced:
        return set()
    aliases = defaultdict(list)
    for node in nodes:
        for expr in _seq(node.expressions()):
            source = _identity_source(expr)
            if source is not None:
                aliases[source].append(expr.exprId().id())
    todo = list(traced)
    while todo:
        for target in aliases.pop(todo.pop(), ()):
            if target not in traced:
                traced.add(target)
                todo.append(target)
    return {
        a.name()
        for node in nodes
        if node.nodeName() == "Exchange"
        for a in _seq(node.output())
        if a.exprId().id() in traced
    }
