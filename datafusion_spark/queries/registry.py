"""Registries mapping SURVEY.md §2 inventory entries to implementations.

Each entry: name -> (spark, sf_dir) -> DataFrame, plus (usually) a DuckDB
oracle SQL string.  The driver runs both at sf=0.01 and compares row count,
schema and an order-insensitive value hash — so every computed column is
aliased identically on both sides and float aggregates are made
order-deterministic (see helpers.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

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
    """The statements an entry executes, as an inspectable value
    (attached to the entry's callable as ``fn.plan``).

    ``pre`` are ``(view, sql)`` pairs run in order before the entry returns:
    each result is written to scratch and read back as temp view ``view``.
    ``final`` is the SQL whose DataFrame the entry returns.  ``inline`` is
    the oracle's Spark spelling — the text the entry would run without its
    rewrites; an entry with ``pre`` or ``final != inline`` must return the
    same rows as ``inline`` (pinned in tests/test_plans.py)."""

    pre: tuple[tuple[str, str], ...]
    final: str
    inline: str
