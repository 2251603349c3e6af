"""Registries mapping SURVEY.md §2 inventory entries to implementations.

Each entry: name -> (spark, sf_dir) -> DataFrame, plus (usually) a DuckDB
oracle SQL string.  The driver runs both at sf=0.01 and compares row count,
schema and an order-insensitive value hash — so every computed column is
aliased identically on both sides and float aggregates are made
order-deterministic (see helpers.py).

An entry whose plan is SQL text runs it through one function,
``statement(spark, text, views)``: ``views`` names the DataFrame bound to
each view the text reads.  The first call parses and analyzes the text;
later calls wrap the kept analyzed plan in a new Dataset, so each call
still optimizes, plans, executes and fetches afresh and only the parse
and analysis are reused (DataFusion's PREPARE/EXECUTE binds a planned
statement the same way).  A kept plan is valid for the text, the very
DataFrames bound to its views, and one (session, SQL conf) state: the
session's conf map is compared by value on every call (the time zone and
ANSI mode, for one, are resolved at analysis), and any change of session
or conf starts the cache over.  A plan is never kept when it is
non-deterministic (``rand()`` takes its seed at analysis), calls a
temporary function, or resolves a relation other than one of ``views``,
an inline table, a range or its own CTEs.  Pre-statements and one-off
derivations call ``spark.sql`` directly.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from datafusion_spark.catalog import bind_views, conf_generation

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
TAGS: dict[str, tuple[str, ...]] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a query; ``oracle=None`` → rows-only driver check (reserved
    for genuinely non-SQL-expressible operators)."""

    def deco(fn):
        assert name not in QUERIES, f"duplicate query name {name}"
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        TAGS[name] = tuple(tags)
        fn.query_name = name
        return fn

    return deco


@dataclass(frozen=True)
class Plan:
    """The statement an entry executes, as an inspectable value (attached
    to the entry's callable as ``fn.plan``).

    ``final`` is the SQL whose DataFrame the entry returns.  ``inline`` is
    the oracle's Spark spelling — the text the entry would run without its
    rewrites; an entry with ``final != inline`` must return the same rows
    as ``inline`` (pinned in tests/test_plans.py)."""

    final: str
    inline: str


# Outcomes of statement() calls: "hit" (a kept plan reused), "miss" (text
# analyzed and its plan kept) and "uncached" (analyzed, not keepable).
STATEMENT_CALLS: Counter = Counter()

# Leaf nodes a kept plan may hold outside its views: inline tables, ranges,
# SELECT without FROM and references to its own CTEs.
_OWN_LEAVES = ("LocalRelation ", "Range (", "OneRowRelation", "CTERelationRef ")
# A temp view as the analyzed tree prints it (a persistent or global one is
# printed with its qualifier).
_TEMP_VIEW = re.compile(r"View \(`([^`]+)`, ")


@dataclass
class _Statements:
    """The analyzed plans kept for one session under one SQL conf map
    (conf generation ``gen``): text -> (the views it was analyzed over, its
    plan)."""

    session: object
    catalog: object
    of_rows: object
    gen: int = -1
    plans: dict = field(default_factory=dict)


_KEPT: _Statements | None = None


def _kept(spark: SparkSession) -> _Statements:
    """The session's kept plans, emptied when the session or its conf map
    changed since the last call (catalog.conf_generation).  Two gateway
    commands per call."""
    global _KEPT
    js = spark._jsparkSession
    if _KEPT is None or _KEPT.session is not js:
        _KEPT = _Statements(js, js.sessionState().catalog(),
                            spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows)
    gen = conf_generation(spark)
    if _KEPT.gen != gen:
        _KEPT.plans.clear()
        _KEPT.gen = gen
    return _KEPT


def _reads_only(tree: str, views) -> bool:
    """Whether the analyzed plan printed as ``tree`` reads nothing but the
    temp views ``views`` (lower-cased names), inline tables, ranges and its
    own CTEs: every leaf outside a temp view must be one of
    ``_OWN_LEAVES``, and every temp view one of ``views``."""
    lines = tree.splitlines()
    depths = [len(line) - len(line.lstrip(" :+-")) for line in lines]
    inside = None  # depth of the temp view being skipped
    for i, (depth, line) in enumerate(zip(depths, lines)):
        if inside is not None and depth > inside:
            continue
        inside = None
        node = line[depth:]
        view = _TEMP_VIEW.match(node)
        if view:
            if view.group(1).lower() not in views:
                return False
            inside = depth
        elif (i + 1 == len(lines) or depths[i + 1] <= depth) \
                and not node.startswith(_OWN_LEAVES):
            return False
    return True


def _keepable(kept: _Statements, text: str, views, analyzed) -> bool:
    if not analyzed.deterministic():
        return False
    temp_fns = kept.catalog.listTemporaryFunctions().mkString("\n")
    if any(re.search(rf"\b{re.escape(f)}\s*\(", text, re.I)
           for f in temp_fns.split("\n") if f):
        return False
    # maxFields = 1 prints one entry of each node's field lists: node names,
    # view names and the tree's shape, all _reads_only reads, stay.  A
    # gateway reply over ~8,000 chars stalls ~44 ms; 68 of the 103 full
    # TPC-DS trees exceed that, 9 of the short ones do.
    tree = analyzed.treeString(False, False, 1, False, False)
    return _reads_only(tree, {n.lower() for n in views})


def statement(spark: SparkSession, text: str, views: dict[str, DataFrame]) -> DataFrame:
    """The DataFrame of SQL ``text`` over temp views ``views`` (name ->
    DataFrame; each name is re-bound only when its DataFrame changed).
    The first call analyzes ``text``; a later call over the very same
    DataFrames, in the same session under the same conf map, reuses that
    analyzed plan in a new Dataset: 3 gateway commands, where parsing and
    analysis cost 10-30 ms.  A kept plan holds its DataFrames, so no new
    DataFrame can pass for one of them.  See the module docstring for what
    is never kept."""
    bind_views(spark, views)
    kept = _kept(spark)
    hit = kept.plans.get(text)
    if hit is not None and hit[0].keys() == views.keys() \
            and all(hit[0][n] is df for n, df in views.items()):
        STATEMENT_CALLS["hit"] += 1
        return DataFrame(kept.of_rows(kept.session, hit[1]), spark)
    df = spark.sql(text)
    analyzed = df._jdf.queryExecution().analyzed()
    if _keepable(kept, text, views, analyzed):
        kept.plans[text] = (dict(views), analyzed)
        STATEMENT_CALLS["miss"] += 1
    else:
        kept.plans.pop(text, None)
        STATEMENT_CALLS["uncached"] += 1
    return df
