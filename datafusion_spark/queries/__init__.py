"""Query/operator inventory registry.

Every implemented operator from SURVEY.md §2 registers itself here with:
  - a callable ``(spark, sf_dir) -> DataFrame`` (the Spark-native plan)
  - optionally a DuckDB-compatible ANSI-SQL oracle string (the correctness
    gate compares row count + schema + order-insensitive value hash)

Import this package to populate the registries; ``__spark_entry__.py`` at
the repo root re-exports them for the driver.
"""

from __future__ import annotations

import glob
import importlib
import json
import os

from datafusion_spark.queries.registry import ORACLES, QUERIES, TAGS, query

_MODULES = [
    "tpch",
    "tpch_official",
    "relational",
    "window",
    "window_h2o",
    "functions_scalar",
    "functions_encoding",
    "functions_agg",
    "nested",
    "events",
    "clickbench",
    "clickbench_full",
    "clickbench_extended",
    "job_suite",
    "pipeline_dedup",
    "pipeline_similarity",
    "pipeline_text",
    "pipeline_multimodal",
    "sources_io",
    "recursive_cte",
    "recursive_sql",
    "catalog_meta",
    "udf_ops",
    "functions_extended",
    "advanced_ops",
    "functions_spark_compat",
    "functions_edge",
    "compat_sql",
    "tpcds_planning",
    "tpcds_exec",
]


def _load_all() -> None:
    for mod in _MODULES:
        try:
            importlib.import_module(f"datafusion_spark.queries.{mod}")
        except ModuleNotFoundError as e:
            # Module not written yet (incremental build); only swallow our own.
            if f"queries.{mod}" not in str(e):
                raise


def _driver_latest() -> dict[str, bool]:
    """Latest driver verdict per entry (True = green, False = FAIL).

    Read from the ``CORRECTNESS_r*.json`` files the driver leaves at the repo
    root; latest round wins per entry, and only a passing record
    (``hash_match`` true, or rows+schema for oracle-less rows-only entries)
    counts — an entry that FAILED its latest check re-enters the front of the
    prefix so the fix gets re-verified next round.  Missing/corrupt files
    degrade to "never verified" (empty set) — ordering is a
    verification-coverage optimisation, never a correctness one.
    """
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                records = json.load(f)
        except (OSError, ValueError):
            continue
        for name, rec in records.items():
            if isinstance(rec, dict):
                ok = bool(
                    rec.get("hash_match")
                    or (rec.get("hash_match") is None and rec.get("rows_match"))
                )
            else:
                ok = True  # unknown record shape: don't churn the prefix
            latest[name] = ok
    return latest


def _verified_of(latest: dict[str, bool]) -> set[str]:
    return {name for name, ok in latest.items() if ok}


def _failed_of(latest: dict[str, bool]) -> set[str]:
    """Entries whose LATEST driver record is a failure.

    These are pinned at ABSOLUTE registry positions 0..k (before any
    interleave) so a fix always gets re-verified in the very next driver
    round.  This is the invariant the r6 verdict demanded: in r6 the two
    r5-FAIL re-entries were placed in the prefix by hand but later
    insertions pushed them to positions 50/78, one slot past the driver's
    50-entry window — the fails stayed red for a whole round despite being
    fixed.  Deriving the pin set from CORRECTNESS_r*.json (instead of a
    hand list) makes the ordering self-healing.
    """
    return {name for name, ok in latest.items() if not ok}


def _interleave_families() -> None:
    """Reorder the registries in three tiers — latest-FAIL entries (see
    _failed_of), then unverified oracle-checkable entries, then the rest —
    round-robin across modules (families) within each tier.  The tiers are
    derived from CORRECTNESS_r*.json alone; no entry is pinned by hand.

    The driver's correctness sweep walks the registry in insertion order and
    truncates at a 50-entry budget.  Two goals:

    1. Every prefix covers every operator family (round-robin interleave).
    2. The 50-entry prefix lands on entries that have NEVER had a driver
       hash-check row in a previous round (read from CORRECTNESS_r*.json),
       and never on ``oracle=None`` rows the driver can only row-count —
       so cumulative hard-signal coverage grows ~50 entries per round.
    """
    latest = _driver_latest()
    verified = _verified_of(latest)
    failed = _failed_of(latest)

    def tier(name: str) -> int:
        if name in failed:
            return -1  # latest driver record is FAIL: always re-check first
        if name not in ORACLES or name in verified:
            return 1
        return 0

    by_mod: dict[str, list[str]] = {m: [] for m in _MODULES}
    for name, fn in QUERIES.items():
        by_mod.setdefault(fn.__module__.rsplit(".", 1)[-1], []).append(name)
    # Keep registration order for known modules; append any module not listed
    # in _MODULES so its entries can never silently vanish from the registry.
    extra = [m for m in by_mod if m not in _MODULES and by_mod[m]]
    mods = [m for m in _MODULES if by_mod.get(m)] + sorted(extra)
    order: list[str] = []
    for t in (-1, 0, 1):
        cols = [[n for n in by_mod[m] if tier(n) == t] for m in mods]
        cols = [c for c in cols if c]
        # Proportional (fair-share) interleave: entry i of an n-entry family
        # sorts at fraction (i+1)/n, so a family with 2× the unverified
        # backlog contributes 2× the prefix slots — big blocks (job_suite
        # ~100 unverified, clickbench_full ~37) drain proportionally faster
        # while every family still appears in each prefix.  Module position
        # breaks ties so the order stays deterministic.
        keyed = [
            ((i + 1) / len(c), j, n)
            for j, c in enumerate(cols)
            for i, n in enumerate(c)
        ]
        order.extend(n for _, _, n in sorted(keyed))
    if len(order) != len(QUERIES):
        raise RuntimeError(
            f"registry reorder dropped entries: {len(order)} != {len(QUERIES)}"
        )
    for reg in (QUERIES, ORACLES, TAGS):
        snap = dict(reg)
        reg.clear()
        reg.update({n: snap[n] for n in order if n in snap})


_load_all()
_interleave_families()

__all__ = ["QUERIES", "ORACLES", "TAGS", "query"]
