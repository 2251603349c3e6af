"""Fact-broadcast audit: flag plans that BROADCAST a fact-derived subtree.

The q72 class of scale hazard (found r7): the static size estimate of a
pre-joined / pre-aggregated fact subquery can fall under the broadcast
threshold even though the real data is fact-sized — at sf1 the resulting
broadcast OOMed an 8 GB driver, and on a cluster it would OOM every
executor.  A fact side must never be broadcast regardless of what the
estimator says.

This tool walks the STATIC plan (no execution) of every matching registry
entry at the given SF dir and reports each broadcast-join build side whose
subtree reaches a fact scan (lineitem.parquet, or one of the six TPC-DS
fact tables stored under spark-warehouse/derived_tpcds/; dimensions derive
from part/customer/calendar) without passing a cardinality reducer.  Run at the LARGEST
available SF: at tiny SFs facts are legitimately broadcastable, so only
the big-SF plan shows the misestimate.

r8 re-run (with buildSide read from the node and subquery fragments
walked): 3 flags over the 104-entry TPC-DS surface at sf1 — q14/q14b
(INTERSECT set-bounded item triples, safe class 3 below; q14b is new
coverage from the subquery walk) and q95 (pruned raw fact scan near
threshold, self-correcting class 2).  No new true hazards.

Adjudicating a flag (r7 taxonomy):
  * build subtree contains a JOIN OUTPUT over facts with no reducer
    (q72's inventory x date_dim): TRUE HAZARD — join-output estimates
    are guesses that do NOT grow with data, so the broadcast never
    flips to a shuffle at scale.  Fix with a MERGE hint.
  * build is a PRUNED RAW FACT SCAN near the threshold (q95's
    channel-filtered lineitem projection at sf1): self-correcting —
    the file-size estimate scales linearly with data, so the planner
    flips to a shuffle join one SF later.  No action.
  * build is SET-SEMANTICS BOUNDED (q14's INTERSECTed item triples
    joined back to item, <= |item| rows by construction): safe even
    when the scan path shows no physical aggregate.  No action.

    python tools/broadcast_audit.py --sf /root/repo/.scale/sf1 --prefix tpcds_
"""

from __future__ import annotations

import argparse
import os
import re
import sys

# A scan is a fact scan when its input paths name lineitem's file or a
# stored TPC-DS fact table's directory.
_FACT_SCAN = re.compile(
    r"lineitem\.parquet|derived_tpcds/\S*/(?:store|web|catalog)_(?:sales|returns)\b")


def _scan_paths(node) -> str:
    """The scan's plan line and its full input paths (the plan line cuts
    long paths short)."""
    try:
        paths = node.relation().location().rootPaths().mkString(" ")
    except Exception:  # noqa: BLE001 - not a file scan
        paths = ""
    return f"{node.toString()} {paths}"


# Operators whose OUTPUT cardinality is decoupled from their input size:
# anything below one of these is reduced (grouped / deduped / truncated)
# before reaching the broadcast, so a fact scan under it is legitimate
# (q14's INTERSECTed item triples, q88's 1-row scalar aggregates).
_REDUCERS = (
    "HashAggregateExec",
    "SortAggregateExec",
    "ObjectHashAggregateExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "TakeOrderedAndProjectExec",
)


def _subtree_scans_fact(node) -> bool:
    """True if a fact scan is reachable WITHOUT passing a reducer — i.e.
    the broadcast payload's row count scales with the fact table."""
    stack = [node]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls in _REDUCERS:
            continue  # everything below is cardinality-reduced
        if "ScanExec" in cls and _FACT_SCAN.search(_scan_paths(n)):
            return True
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return False


def audit(df):
    """Return list of flagged fact-side-broadcast join descriptions in
    df's static plan.

    The static plan (pre-AQE, pre-EnsureRequirements) carries no
    BroadcastExchange nodes yet — the signal is the JOIN operator's
    declared build side: BroadcastHashJoin/BroadcastNestedLoopJoin with
    BuildLeft/BuildRight naming which child will be broadcast."""
    from datafusion_spark.plans import plan_nodes

    root = df._jdf.queryExecution().sparkPlan()
    flagged = []
    for cls, n in plan_nodes(root):
        if cls in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
            # Read the build side from the node itself, not the toString
            # head line (which truncates and could silently pick the wrong
            # child if the format ever changes).
            build = 0 if "BuildLeft" in n.buildSide().toString() else 1
            side = n.children().apply(build)
            if _subtree_scans_fact(side):
                flagged.append(n.toString().splitlines()[0][:160])
    return flagged


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/repo/.scale/sf1")
    ap.add_argument("--prefix", default="tpcds_")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from datafusion_spark import get_spark
    from datafusion_spark.queries import QUERIES

    spark = get_spark("broadcast_audit")
    spark.sparkContext.setLogLevel("ERROR")
    names = args.names or [n for n in QUERIES if n.startswith(args.prefix)]
    bad = 0
    for name in sorted(names):
        try:
            df = QUERIES[name](spark, args.sf)
            hits = audit(df)
        except Exception as e:  # noqa: BLE001 - report and continue the sweep
            print(f"ERR  {name}: {str(e).splitlines()[0][:120]}")
            bad += 1
            continue
        if hits:
            bad += 1
            print(f"FLAG {name}: {len(hits)} fact-side broadcast(s)")
            for h in hits:
                print(f"       {h}")
        else:
            print(f"ok   {name}")
    print(f"\n{bad} flagged/errored of {len(names)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
