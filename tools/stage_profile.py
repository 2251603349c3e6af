"""Stage/job timeline profile for one query execution (r13, guide §1.1/§7.1).

Runs each named query once (fresh build + collect), then dumps the job and
stage timeline from the local Spark UI REST API: per-job name/duration and
per-stage submission→completion windows, so overlap (e.g. whether AQE's
broadcast builds run concurrently or serially) is visible without the UI.

Usage:
    python tools/stage_profile.py [--sf DIR] [--warm N] name...
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _epoch(ts: str) -> float:
    """Epoch seconds of a Spark REST timestamp such as
    ``2026-01-01T12:34:56.789GMT`` (a fraction of any length, or none)."""
    frac = re.search(r"\.(\d+)", ts)
    return (time.mktime(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S"))
            + (float("0." + frac.group(1)) if frac else 0.0))


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.load(r)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", type=int, default=1,
                    help="untimed warm executions before the profiled one")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from datafusion_spark.queries import QUERIES
    from datafusion_spark.session import _DEF_CPUS, tune

    # same tuned session as get_spark, but with the UI (REST API) enabled
    spark = (tune(SparkSession.builder.appName("stage-profile")
                  .master(f"local[{_DEF_CPUS}]"))
             .config("spark.ui.enabled", "true").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    base = f"http://localhost:{spark.sparkContext.uiWebUrl.rsplit(':', 1)[1]}"
    app = spark.sparkContext.applicationId

    for name in args.names:
        if name not in QUERIES:
            print(f"skip {name}", flush=True)
            continue
        for _ in range(args.warm):
            QUERIES[name](spark, args.sf).collect()
        jobs_before = {j["jobId"] for j in _api(base, f"/api/v1/applications/{app}/jobs?status=succeeded")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        rows = QUERIES[name](spark, args.sf).collect()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        _ = len(rows)
        jobs = [j for j in _api(base, f"/api/v1/applications/{app}/jobs?status=succeeded")
                if j["jobId"] not in jobs_before]
        stages = {s["stageId"]: s for s in _api(base, f"/api/v1/applications/{app}/stages?status=complete")}
        jobs.sort(key=lambda j: j["submissionTime"])
        t_origin = None
        print(f"\n=== {name}  wall={wall:.3f}s  jobs={len(jobs)} ===", flush=True)
        for j in jobs:
            sub = _epoch(j["submissionTime"])
            end = _epoch(j["completionTime"])
            if t_origin is None:
                t_origin = sub
            jname = (j.get("name") or "")[:90]
            print(f"job {j['jobId']:4d} [{sub - t_origin:7.3f} -> {end - t_origin:7.3f}] "
                  f"({end - sub:6.3f}s, {j['numTasks']:4d} tasks) {jname}", flush=True)
            for sid in sorted(j["stageIds"]):
                s = stages.get(sid)
                if not s or not s.get("submissionTime"):
                    continue
                ssub = _epoch(s["submissionTime"])
                send = _epoch(s["completionTime"])
                sname = (s.get("name") or "")[:70]
                print(f"    stage {sid:4d} [{ssub - t_origin:7.3f} -> {send - t_origin:7.3f}] "
                      f"({send - ssub:6.3f}s, {s['numTasks']:4d}t, "
                      f"in={s.get('inputBytes', 0) >> 20}MB shw={s.get('shuffleWriteBytes', 0) >> 20}MB "
                      f"shr={s.get('shuffleReadBytes', 0) >> 20}MB) {sname}", flush=True)


if __name__ == "__main__":
    main()
