"""Write plans/manifest.json: the operator counts of every registry entry.

Usage:
    python tools/capture_plans.py            # every entry
    python tools/capture_plans.py name...    # only these; other lines kept

The manifest has one line per entry, keys sorted.  Each line lists the
nonzero ``operator_counts`` of the plan of the DataFrame the entry returns
(the plan before execution: an adaptive plan's initial one).  So a count
bounds the initial plan, not what runs: adaptive execution may reuse an
exchange at run time, but the initial plan holds every copy, each counted,
and no ``ReusedExchange`` (tpcds_q14 counts 49 exchanges; its executed
plan at sf0.1 runs 14 and reuses 13).  Counts
are taken warm, in the state tests/test_registry_smoke.py::test_query_runs
compares them in: invoke, collect, invoke again, count — on the tier-1
session (local[4], 4 shuffle partitions) at SF_SMALL, under the split
sizing that cuts every SF_SMALL table into 2 to 4 splits as at scale
(tests/conftest.py AT_SCALE_SPLITS: a table of one split plans no
exchange).  A plan change is a
one-line diff of the entry whose plan changed; review it before
committing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(ROOT, "plans", "manifest.json")


def load_manifest() -> dict:
    if not os.path.exists(MANIFEST):
        return {}
    with open(MANIFEST) as f:
        return json.load(f)


def write_manifest(manifest: dict) -> None:
    lines = [f"{json.dumps(name)}: {json.dumps(counts, sort_keys=True)}"
             for name, counts in sorted(manifest.items())]
    with open(MANIFEST, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="registry entries (default: all)")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from datafusion_spark import get_spark
    from datafusion_spark.plans import operator_counts
    from datafusion_spark.queries import QUERIES
    from tests.conftest import AT_SCALE_SPLITS, SESSION, SF_SMALL
    from tools.measure import confs_applied

    names = args.names or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"not registered: {' '.join(unknown)}")
    spark = get_spark("capture-plans", **SESSION)
    spark.sparkContext.setLogLevel("ERROR")
    manifest = {k: v for k, v in load_manifest().items() if k in QUERIES}
    failed = 0
    with confs_applied(spark, AT_SCALE_SPLITS):
        for name in names:
            fn = QUERIES[name]
            try:
                fn(spark, SF_SMALL).collect()
                manifest[name] = operator_counts(fn(spark, SF_SMALL))
            except Exception as e:  # noqa: BLE001 - keep the old line, report
                failed += 1
                print(f"FAIL {name}: {str(e).splitlines()[0][:160]}", file=sys.stderr)
    write_manifest(manifest)
    print(f"wrote {MANIFEST}: {len(names) - failed} of {len(names)} captured",
          file=sys.stderr)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
