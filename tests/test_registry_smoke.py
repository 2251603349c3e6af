"""Every registered query runs at sf0.001 under the default session,
returns a stable schema and plans exactly the operator counts
plans/manifest.json records for it (those under conftest.AT_SCALE_SPLITS,
the split sizing of tables at scale).

This is the cheap half of the correctness gate (the driver's entry()
smoke); the oracle comparison lives in test_oracle_parity.py.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from datafusion_spark.plans import operator_counts
from datafusion_spark.queries import ORACLES, QUERIES, TAGS
from tests.conftest import AT_SCALE_SPLITS, SF_ORACLE, SF_SMALL
from tools.capture_plans import load_manifest
from tools.measure import confs_applied


def test_registry_nonempty():
    assert len(QUERIES) >= 80
    # every oracle belongs to a registered query
    assert set(ORACLES) <= set(QUERIES)


@pytest.fixture(scope="module")
def manifest():
    return load_manifest()


def test_manifest_covers_registry(manifest):
    assert set(manifest) == set(QUERIES), (
        "plans/manifest.json is out of step with the registry: "
        f"missing {sorted(set(QUERIES) - set(manifest))}, "
        f"stale {sorted(set(manifest) - set(QUERIES))}; "
        "regenerate with python tools/capture_plans.py")


def _counts_diff(name: str, want: dict | None, got: dict) -> str:
    """The manifest fields that differ, as ``old -> new``."""
    want = want or {}
    fields = [f"{k} {want.get(k, 0)} -> {got.get(k, 0)}"
              for k in sorted(set(want) | set(got)) if want.get(k, 0) != got.get(k, 0)]
    return (f"{name}: plan differs from plans/manifest.json\n  " + ", ".join(fields)
            + f"\n  if intended: python tools/capture_plans.py {name}")


def test_sf_literal_oracles_are_sf_pinned():
    """An oracle text that names one scale factor's files compares against
    the wrong data at any other SF, so it must carry the matching
    ``sf-pinned:`` tag (oracle_check then skips it elsewhere)."""
    sf_dir = re.compile(re.escape(os.path.dirname(SF_ORACLE)) + r"/sf[\d.]+")
    unpinned = {
        name: dirs for name, sql in ORACLES.items()
        if (dirs := {f"sf-pinned:{d}" for d in sf_dir.findall(sql)})
        - set(TAGS[name])
    }
    assert not unpinned, unpinned


def _contains_list_or_map(dt: DataType) -> bool:
    """True when the type materialises as an unhashable pandas cell.

    The driver's correctness harness canonicalises results with pandas
    ``sort_values`` → ``factorize``; ARRAY cells arrive as Python lists and
    MAP cells as dicts — both unhashable, so the driver ERRs on the whole
    entry (observed: ``fn_edge_array_minmax_ops``, r5).  STRUCTs arrive as
    ``Row`` (a tuple subclass — hashable) unless a field is itself a
    list/map, hence the recursion.
    """
    if isinstance(dt, (ArrayType, MapType)):
        return True
    if isinstance(dt, StructType):
        return any(_contains_list_or_map(f.dataType) for f in dt.fields)
    return False


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, manifest, name):
    df = QUERIES[name](spark, SF_SMALL)
    # Driver-harness contract: oracle-checked entries must not expose
    # ARRAY/MAP-typed output columns — render them to text (array_join /
    # to_json) on BOTH engine sides instead.  This lint encodes the
    # contract locally so the class of failure can't recur one round late.
    if name in ORACLES:
        bad = [f.name for f in df.schema.fields if _contains_list_or_map(f.dataType)]
        assert not bad, (
            f"{name}: oracle-checked entry returns ARRAY/MAP column(s) {bad}; "
            "the driver's pandas canonicalizer cannot hash list/dict cells — "
            "render to text on both sides (house rule)"
        )
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0
    # stable schema: re-planning yields identical columns, under the
    # at-scale split sizing too
    with confs_applied(spark, AT_SCALE_SPLITS):
        df2 = QUERIES[name](spark, SF_SMALL)
        assert df.columns == df2.columns
        # plan shape at scale, warm: exact operator counts
        counts = operator_counts(df2)
    assert counts == manifest.get(name), _counts_diff(
        name, manifest.get(name), counts)


def test_failed_entries_pinned_first():
    """Registry-ordering invariant (r6 verdict): any entry whose LATEST
    driver CORRECTNESS record is a FAIL must sort before every non-FAIL
    entry, so the driver's 50-entry prefix always re-verifies fixes.

    In r6 the two r5-FAIL re-entries were prefix-placed by hand and later
    insertions pushed them to positions 50/78 — red for a whole round
    despite verified fixes.  The ordering now derives the pin set from
    CORRECTNESS_r*.json itself; this test locks that in.
    """
    from datafusion_spark.queries import _driver_latest, _failed_of

    failed = _failed_of(_driver_latest()) & set(QUERIES)
    if not failed:
        pytest.skip("no latest-FAIL entries on the scoreboard")
    names = list(QUERIES)
    worst_failed = max(names.index(n) for n in failed)
    assert worst_failed < len(failed), (
        f"latest-FAIL entries {sorted(failed)} must occupy the first "
        f"{len(failed)} registry positions; found one at {worst_failed}"
    )
