"""Physical-plan introspection: assert the plan you meant to declare.

DataFusion exposes EXPLAIN / EXPLAIN ANALYZE trees (reference:
datafusion/physical-plan/src/display.rs, explain.rs); Spark's equivalent
is df.explain("formatted") plus the physical node tree behind it.  One
walker, ``plan_nodes``, reads that tree — through the adaptive wrappers and
into subquery plans — and operator counts (the shape ``plans/manifest.json``
pins for every registry entry), pushed filters and the per-operator metrics
of ``explain_analyze`` are built on it.
"""

from __future__ import annotations

import contextlib
import io
import re
import time
from collections import Counter

from pyspark.sql import DataFrame

# The operators a plan's shape is pinned by, named by their physical node
# class without the ``Exec`` suffix ("Exchange" is the shuffle exchange,
# "Scan" any leaf scan).  ``operator_counts`` also counts "PushedFilters".
OPERATORS = (
    "Exchange",
    "BroadcastExchange",
    "ReusedExchange",
    "Scan",
    "Sort",
    "Expand",
    "WindowGroupLimit",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "TakeOrderedAndProject",
)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def plan_nodes(root, initial: bool = False):
    """Yield ``(class name, node)`` for every physical node under ``root``,
    pre-order.  ``AdaptiveSparkPlanExec`` is walked through to its current
    plan (the final one once executed; its initial plan if ``initial``),
    every ``*QueryStageExec`` to the stage's plan, an in-memory scan to the
    plan that fills the cache, and each node to the subquery plans hanging
    off its expressions (``node.subqueries()``), each subquery once although
    several nodes may hold it (a filter and the scan it is pushed into).
    The wrappers themselves are not yielded."""
    stack, seen = [root], set()
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.initialPlan() if initial else n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        yield cls, n
        below = _seq(n.children())
        for sub in _seq(n.subqueries()):
            if sub.hashCode() not in seen:
                seen.add(sub.hashCode())
                below.append(sub)
        if cls == "InMemoryTableScanExec":
            below.append(n.relation().cachedPlan())
        stack.extend(reversed(below))


def _operator(cls: str) -> str | None:
    name = cls.removesuffix("Exec")
    if name == "ShuffleExchange":
        return "Exchange"
    if name.endswith("Scan"):
        return "Scan"
    return name if name in OPERATORS else None


def _pushed(node) -> list[str]:
    """The PushedFilters of a data-source scan, split at top-level commas."""
    opt = node.metadata().get("PushedFilters")
    if not opt.isDefined():
        return []
    out, depth, item = [], 0, ""
    for ch in opt.get().strip()[1:-1] + ",":
        if ch == "," and depth == 0:
            if item.strip():
                out.append(item.strip())
            item = ""
            continue
        depth += (ch in "([") - (ch in ")]")
        item += ch
    return out


def operator_counts(df: DataFrame, initial: bool = False) -> dict[str, int]:
    """Nonzero counts of ``OPERATORS`` in df's physical plan (the current
    adaptive plan, or its initial one), plus the number of pushed filters
    across its scans, keyed in sorted order."""
    counts: Counter = Counter()
    root = df._jdf.queryExecution().executedPlan()
    for cls, n in plan_nodes(root, initial):
        op = _operator(cls)
        if op:
            counts[op] += 1
        if cls in ("FileSourceScanExec", "RowDataSourceScanExec"):
            counts["PushedFilters"] += len(_pushed(n))
    return {k: v for k, v in sorted(counts.items()) if v}


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across all data-source scans."""
    root = df._jdf.queryExecution().executedPlan()
    return [f for cls, n in plan_nodes(root)
            if cls in ("FileSourceScanExec", "RowDataSourceScanExec")
            for f in _pushed(n)]


def scan_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per scan (column-pruning audit)."""
    text = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def _operator_metrics(cls: str, node) -> dict:
    metrics, rows, time_ms, spill = {}, None, 0.0, 0
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        name, m = kv._1(), kv._2()
        v = m.value()
        if not v:
            continue
        metrics[name] = v
        kind = m.metricType()
        if name == "numOutputRows":
            rows = v
        elif kind == "timing":
            time_ms += v
        elif kind == "nsTiming":
            time_ms += v / 1e6
        if "spill" in name.lower() and kind == "size":
            spill += v
    return {"op": cls.removesuffix("Exec"), "rows": rows,
            "time_ms": round(time_ms, 3), "spill_bytes": spill,
            "metrics": metrics}


def explain_analyze(df: DataFrame) -> dict:
    """EXPLAIN ANALYZE equivalent (reference: datafusion/physical-plan/src/
    analyze.rs): execute df's own query execution and report the final
    adaptive plan with its per-operator metrics.

    Returns ``rows`` and ``wall_sec``; ``initial`` and ``final``, the
    ``operator_counts`` of the adaptive plan before and after execution
    (their difference is what AQE changed at runtime: AQEShuffleRead
    coalescing shows in the final plan text, join-strategy flips and
    reused exchanges in the counts); ``operators``, one row per executed
    node (``op``, ``rows``, ``time_ms``, ``spill_bytes`` and every nonzero
    SQLMetric by name); and ``final_plan``, the executed plan's text.
    """
    qe = df._jdf.queryExecution()
    initial = operator_counts(df, initial=True)
    t0 = time.perf_counter()
    n = qe.toRdd().count()
    wall = time.perf_counter() - t0
    root = qe.executedPlan()
    return {
        "rows": n,
        "wall_sec": round(wall, 3),
        "initial": initial,
        "final": operator_counts(df),
        "operators": [_operator_metrics(cls, node)
                      for cls, node in plan_nodes(root)],
        "final_plan": root.toString(),
    }
