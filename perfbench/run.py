"""Benchmark for datafusion_spark: one closed-loop client over the registry.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 20 --trace 0

Drives the public surface ``get_spark()`` -> ``QUERIES[name](spark, dir)``
-> ``.collect()`` from this process, on Spark ``local[<cores>]``.  Each query
is sent only after the previous result is fetched.  A run:

1. generates the workload's tables from a fixed data seed (cached under
   ``.perfbench/data``) and copies them to a data dir whose basename is new
   for this run, so persisted artifacts keyed by it are built inside set-up;
2. starts the session and makes one cold pass, which builds every
   persisted artifact (``setup_s``);
3. untimed, runs each entry through the oracle gate
   (``tools/oracle_check.run_entry``), which also warms the JIT as a plain
   pass would;
4. times whole passes, at least the workload's minimum, each in an order
   drawn from ``--seed``, until ``--seconds`` have passed, and checks that
   every timed execution returned the oracle's row count.  Between passes
   it times a fixed reference job (``Kernel``); the bounded latency and
   throughput metrics are in units of that job's median time, so they
   follow the program and not the host's speed of the moment;
5. with ``--trace 1``, replays the first pass with every layer timed and
   writes the span ledger under ``.perfbench/ledgers`` (the per-layer
   metrics);
6. stops Spark and its JVM and deletes everything the run created.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit, as BENCHMARK.json
declares them).  The exit code is 1 when any timed query raised or its
entry failed the oracle gate, or, with ``--trace 1``, when the layers of
some traced query explain less than 95% of its wall.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
DATA_SEED = 42  # the tables are fixed; --seed only orders the queries
MB = 1024 * 1024

# Workload -> (scale factor, minimum timed passes, registry entries in one
# pass).  A run times whole passes until ``--seconds`` have passed, and at
# least the minimum; the tail percentile is fixed by the minimum sample
# count, so it is the same in every run.  Each pass costs run time, and a
# full comparison of 48 runs must fit in 3420 s.  NOTES.md gives the
# reasons for each set.
WORKLOADS: dict[str, tuple[float, int, list[str]]] = {
    # Execution-heavy: scans, filters, aggregates and joins (inner and
    # outer) over 600k lineitem rows.  Four queries keep the cold pass and
    # the oracle gate short; ten passes give the 40 samples of a p75.
    "tpch": (0.1, 10, [f"tpch_q{i}" for i in (1, 6, 12, 13)]),
    # Fixed-cost bound: little data, so plan construction, Catalyst and job
    # orchestration set each query's latency.  Six passes give the 60
    # samples of a p75.  JOB's many-way join carries the Catalyst cost, the
    # compat entries go through translate_sql, and the zstd round-trip
    # writes parquet before its query, so pre-statement jobs and writes are
    # measured too.
    "interactive": (0.01, 6, [
        *(f"cb_q{i:02d}" for i in (0, 3, 14, 15, 19, 31)),
        "job_1a", "compat_sql_strings", "compat_sql_datetime",
        "source_parquet_zstd_roundtrip",
    ]),
}
# Kernel executions in each gap between passes; all but the first are
# timed, the first absorbs what the pass left behind (see ``Kernel``).
KERNEL_RUNS = 3


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, *p)) for p in (
        ("datafusion_spark", "__init__.py"), ("tools", "oracle_check.py")))


def _tree_sizes(roots) -> dict[str, int]:
    sizes = {}
    for top in roots:
        if os.path.isfile(top):
            sizes[top] = os.lstat(top).st_size
        for d, _, files in os.walk(top):
            for f in files:
                p = os.path.join(d, f)
                try:
                    sizes[p] = os.lstat(p).st_size
                except OSError:
                    pass
    return sizes


def _grown_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(max(0, size - before.get(p, 0)) for p, size in after.items())


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, total) ticks of all CPUs so far.  Steal is time the
    hypervisor gave this machine's CPUs to other guests; timings here
    follow it closely, so the summary line reports it."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _table_data(sf: float) -> str:
    """Generated tables for ``sf``, made once per checkout and reused."""
    import datagen

    path = os.path.join(SCRATCH, "data", f"sf{sf}-seed{DATA_SEED}")
    if not os.path.isdir(path):
        part = f"{path}.part{os.getpid()}"
        datagen.write(part, sf, DATA_SEED)
        os.rename(part, path)
    return path


class Run:
    """Scratch owned by one run: data copy, temp dir and Spark local dirs,
    plus the persisted artifacts the program keys by the data dir's
    basename under ``spark-warehouse/``.  ``close()`` deletes all of it and
    leaves every other path alone."""

    def __init__(self, sf: float) -> None:
        self.tag = f"pb{os.getpid()}x{time.time_ns()}"
        self.dir = os.path.join(SCRATCH, "runs", self.tag)
        self.tmp = os.path.join(self.dir, "tmp")
        self.local = os.path.join(self.dir, "local")
        self.data = os.path.join(self.dir, f"{self.tag}_sf{sf}")
        # The program writes artifacts under the checkout's spark-warehouse;
        # Spark's own warehouse dir is relative to the working directory.
        self.warehouses = sorted({os.path.join(ROOT, "spark-warehouse"),
                                  os.path.abspath("spark-warehouse")})
        self._dirs_before = {d for w in self.warehouses for d, _, _ in os.walk(w)}
        os.makedirs(self.tmp)
        os.makedirs(self.local)
        shutil.copytree(_table_data(sf), self.data)

    def _owned_artifacts(self) -> list[str]:
        """Top-most paths under the warehouses whose name holds the tag."""
        found = []
        for w in self.warehouses:
            for d, subdirs, files in os.walk(w):
                found += [os.path.join(d, n) for n in subdirs + files if self.tag in n]
                subdirs[:] = [s for s in subdirs if self.tag not in s]
        return found

    def scratch_sizes(self) -> dict[str, int]:
        """Sizes of every file the run owns outside its data copy."""
        return _tree_sizes([self.tmp, self.local, *self._owned_artifacts()])

    def close(self) -> None:
        for path in self._owned_artifacts():
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
            # Parents created during the run go too, once empty.
            parent = os.path.dirname(path)
            while parent not in self._dirs_before and not os.listdir(parent):
                os.rmdir(parent)
                parent = os.path.dirname(parent)
        shutil.rmtree(self.dir, ignore_errors=True)
        runs = os.path.dirname(self.dir)
        if not os.listdir(runs):
            os.rmdir(runs)


def _configure_env(run: Run) -> None:
    """Point every scratch writer at this run's dirs and quiet Spark's
    console before the program or the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = run.local
    os.environ["TMPDIR"] = run.tmp
    tempfile.tempdir = run.tmp
    java_opts = f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.log.level=ERROR "
        f"--driver-java-options '{java_opts}' pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Sample:
    __slots__ = ("name", "latency", "rows", "error")

    def __init__(self, name, latency, rows, error):
        self.name, self.latency, self.rows, self.error = name, latency, rows, error


def _execute(spark, queries, name: str, data: str) -> Sample:
    """One query as a user sends it: fresh build, execute, fetch."""
    t0 = time.perf_counter()
    try:
        rows = len(queries[name](spark, data).collect())
    except Exception as e:  # noqa: BLE001 - a failed query is a counted outcome
        return Sample(name, time.perf_counter() - t0, None, f"{type(e).__name__}: {e}")
    return Sample(name, time.perf_counter() - t0, rows, None)


class Kernel:
    """Host-speed reference: a fixed two-stage Spark job (a hash aggregate
    of generated rows into ``KEYS`` groups, no I/O) in a session of its
    own, so the program's SQL settings do not reach it.  On a shared host
    the speed of every Spark job drifts together by tens of percent within
    minutes; the bounded latency and throughput figures are taken in units
    of this job's median time over the same timed passes."""

    ROWS = 30_000
    KEYS = 997

    def __init__(self, spark, cores: int) -> None:
        self.session = spark.newSession()
        self.session.conf.set("spark.sql.shuffle.partitions", str(cores))
        self.session.conf.set("spark.sql.adaptive.enabled", "true")
        self.cores = cores

    def sample(self) -> list[float]:
        """Times of all but the first of ``KERNEL_RUNS`` executions."""
        secs = []
        for _ in range(KERNEL_RUNS):
            t0 = time.perf_counter()
            rows = (self.session.range(0, self.ROWS, 1, self.cores)
                    .selectExpr(f"id % {self.KEYS} AS k", "hash(id) AS h")
                    .groupBy("k").sum("h").collect())
            secs.append(time.perf_counter() - t0)
            if len(rows) != self.KEYS:
                raise RuntimeError(f"kernel returned {len(rows)} rows, not {self.KEYS}")
        return secs[1:]


def _timed_passes(spark, queries, names, data, seconds, min_passes, rng, kernel):
    """Whole passes, at least ``min_passes``, until ``seconds`` have
    elapsed; each pass in a new order, with a kernel sample before the
    first pass and after every pass.  Returns (samples, pass orders, pass
    walls, kernel samples)."""
    samples, orders, walls, kernels = [], [], [], kernel.sample()
    t0 = time.perf_counter()
    while True:
        order = rng.sample(names, len(names))
        orders.append(order)
        ticks, t_pass = _cpu_ticks(), time.perf_counter()
        samples.extend(_execute(spark, queries, name, data) for name in order)
        walls.append(time.perf_counter() - t_pass)
        stolen, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
        kernels += kernel.sample()
        _log(f"pass {walls[-1]:.3f}s steal {stolen / max(1, total):.2f} "
             f"kernel {' '.join(f'{k:.3f}' for k in kernels[1 - KERNEL_RUNS:])}: "
             + " ".join(f"{x.name}={x.latency:.3f}" for x in samples[-len(order):]))
        if len(orders) >= min_passes and time.perf_counter() - t0 >= seconds:
            return samples, orders, walls, kernels


def _check_rows(spark, names, data) -> dict[str, tuple[str, int | None]]:
    """Per query name: the oracle gate's verdict (empty string when the rows
    match) and the oracle's row count, which every timed sample must return
    too."""
    from datafusion_spark.queries import ORACLES
    from tools.oracle_check import duck_connection, run_entry

    con = duck_connection(data)
    verdict = {}
    try:
        for name in names:
            status, detail = run_entry(spark, con, name, data)
            if status == "fail":
                verdict[name] = (detail, None)
            elif name not in ORACLES:
                verdict[name] = ("no oracle registered", None)
            else:
                verdict[name] = ("", len(con.execute(ORACLES[name]).fetchall()))
    finally:
        con.close()
    return verdict


def _traced_pass(spark, queries, order, data):
    """Replay ``order`` with every layer timed.  Returns the ledger, the raw
    per-layer totals and the pass wall."""
    from ledger import Ledger, merge_intervals, union_length
    from probes import Instrument, StatusStore, catalyst_phases, plan_exchanges

    sc = spark.sparkContext
    status = StatusStore(spark)
    ledger = Ledger()
    inst = Instrument(ledger)
    tot: dict[str, float] = {}

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + v

    inst.install()
    t_pass = time.perf_counter()
    try:
        for qid, name in enumerate(order):
            inst.qid = qid
            t_translate = inst.translate_s
            sc.setJobGroup(f"pb-{qid}-build", "perfbench build")
            root = ledger.open("harness", time.time(), qid)
            build = ledger.open("queries.build", time.time(), qid)
            inst.active = True
            try:
                df = queries[name](spark, data)
            finally:
                inst.active = False
                ledger.close(build, time.time())
            cat = ledger.open("catalyst", time.time(), qid)
            # Planning starts no jobs, so the execution's group is set here,
            # where its py4j call (under a millisecond) is not time that no
            # layer explains.
            sc.setJobGroup(f"pb-{qid}-exec", "perfbench exec")
            df._jdf.queryExecution().executedPlan()
            t_c0 = time.time()
            ledger.close(cat, t_c0)
            rows = df.collect()
            t_c1 = time.time()
            ledger.close(root, t_c1)
            sc.setLocalProperty("spark.jobGroup.id", None)

            status.drain()
            build_jobs = status.jobs(f"pb-{qid}-build")
            exec_jobs = status.jobs(f"pb-{qid}-exec")
            b_span = ledger.spans[build]
            for a, b in merge_intervals((j["start"], j["end"]) for j in build_jobs
                                        if j["start"] and j["end"]):
                parent = ledger.innermost(build, a)
                p = ledger.spans[parent]
                layer = p.name if p.name in ("catalog", "compat") else "queries.prestmt"
                ledger.add(layer, max(a, p.start), min(b, p.end), parent, qid)
            ends = [j["end"] for j in exec_jobs if j["end"]]
            last = min(max(ends), t_c1) if ends else t_c0
            last = max(last, t_c0)
            ledger.add("exec", t_c0, last, root, qid)
            ledger.add("fetch", last, t_c1, root, qid)

            stages = [s for j in build_jobs + exec_jobs for s in j["stages"]]
            exec_stage_iv = [(s["start"], s["end"]) for j in exec_jobs
                             for s in j["stages"] if s["start"] and s["end"]]
            busy = union_length((s["start"], s["end"]) for s in stages
                                if s["start"] and s["end"])
            add("queries.build_s", b_span.end - b_span.start)
            add("queries.build_jobs", len(build_jobs))
            add("compat.translate_s", inst.translate_s - t_translate)
            add("exec.jobs", len(build_jobs) + len(exec_jobs))
            add("exec.stages", len(stages))
            add("exec.idle_s", (last - t_c0) - union_length(exec_stage_iv, t_c0, last))
            add("exec.busy_s", busy)
            for key in ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s"):
                add(f"exec.{key}", sum(s[key] for s in stages))
            for key in ("input", "output", "shuffle_read", "shuffle_write", "spill"):
                add(f"exec.{key}_mb", sum(s[f"{key}_b"] for s in stages) / MB)
            for phase, secs in catalyst_phases(df).items():
                add(f"catalyst.{phase}_s", secs)
            shuffles, broadcasts = plan_exchanges(df)
            add("catalyst.exchanges", shuffles)
            add("catalyst.broadcasts", broadcasts)
            add("fetch.rows", len(rows))
    finally:
        inst.restore()
    wall = time.perf_counter() - t_pass
    tot["catalog.loads"] = inst.catalog_calls
    tot["catalog.miss_ratio"] = inst.catalog_misses / max(1, inst.catalog_calls)
    tot["compat.translate_calls"] = inst.translate_calls
    return ledger, tot, wall


def _layer_metrics(ledger, tot: dict, traced_wall: float, untraced_pass: float):
    from ledger import worst_unattributed_share

    per_q = ledger.per_query()
    layer_self = {}
    for q in per_q.values():
        for layer, t in q.items():
            layer_self[layer] = layer_self.get(layer, 0.0) + t
    busy = tot.pop("exec.busy_s")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m = dict(tot)
    m.update({
        "queries.self_s": layer_self.get("queries.build", 0.0),
        "queries.prestmt_s": layer_self.get("queries.prestmt", 0.0),
        "catalog.load_s": layer_self.get("catalog", 0.0),
        "compat.self_s": layer_self.get("compat", 0.0),
        "catalyst.self_s": layer_self.get("catalyst", 0.0),
        "exec.self_s": layer_self.get("exec", 0.0),
        "fetch.s": layer_self.get("fetch", 0.0),
        "exec.cpu_ratio": tot["exec.cpu_s"] / tot["exec.run_s"] if tot["exec.run_s"] else 0.0,
        "exec.core_util": tot["exec.run_s"] / (busy * cores) if busy else 0.0,
        "trace.overhead_ratio": traced_wall / untraced_pass,
        "trace.unattributed_s": layer_self.get("harness", 0.0),
        "trace.max_unattributed_share": worst_unattributed_share(per_q),
    })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    if not _program_present():
        print("perfbench: datafusion_spark or tools/oracle_check.py not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"]
                for m in spec["per_layer" if args.trace else "end_to_end"]}

    sf, min_passes, names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    # A terminated run still stops its JVM and deletes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(sf)
    spark = None
    try:
        _configure_env(run)
        t0 = time.perf_counter()
        from datafusion_spark import get_spark
        from datafusion_spark.queries import QUERIES

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid

        # Set-up: the cold pass builds every persisted artifact keyed by
        # this run's data dir.
        cold = {name: _execute(spark, QUERIES, name, run.data).latency
                for name in rng.sample(names, len(names))}
        setup_s = time.perf_counter() - t0
        _log(f"set-up done: session {session_s:.2f}s, total {setup_s:.2f}s; cold pass: "
             + " ".join(f"{n}={t:.3f}" for n, t in cold.items()))
        # Untimed: the oracle gate executes every entry once more, which
        # also serves as the warm pass before timing.
        verdict = _check_rows(spark, names, run.data)
        kernel = Kernel(spark, int(os.environ["SPARK_GRAFT_CPUS"]))
        _log("oracle gate done")

        scratch_before = run.scratch_sizes()
        ticks_before = _cpu_ticks()
        samples, orders, walls, kernels = _timed_passes(
            spark, QUERIES, names, run.data, args.seconds, min_passes, rng, kernel)
        stolen, total = (b - a for a, b in zip(ticks_before, _cpu_ticks()))
        scratch_left = _grown_bytes(scratch_before, run.scratch_sizes())
        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        wall = sum(walls)
        _log(f"timed passes done: {len(orders)} passes, {wall:.2f}s")

        if args.trace:
            ledger, tot, traced_wall = _traced_pass(spark, QUERIES, orders[0], run.data)
            layer = _layer_metrics(ledger, tot, traced_wall, statistics.median(walls))
            layer["session.start_s"] = session_s
            # What a first call costs beyond a warm one: artifact builds,
            # code generation and class loading, JIT.
            layer["queries.first_touch_s"] = sum(cold.values()) - sum(
                s.latency for s in samples[:len(names)])
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            run.close()
            _log("stopped and cleaned up")

    def problem(s: Sample) -> str:
        if s.error:
            return s.error
        gate, rows = verdict[s.name]
        if gate:
            return gate
        return "" if s.rows == rows else f"{s.rows} rows, oracle has {rows}"

    problems = [(s.name, problem(s)) for s in samples]
    failed = sum(1 for _, p in problems if p)
    from ledger import COVERAGE_MIN, percentile, tail_percentile

    n = len(names)
    lat = [s.latency for s in samples if not s.error]
    tail_p = tail_percentile(min_passes * n)
    qps = len(lat) / wall
    p50 = statistics.median(lat) if lat else float("nan")
    tail = percentile(lat, tail_p) if lat else float("nan")
    kernel_s = statistics.median(kernels)
    # Every figure of a run, printed in both modes.  BENCHMARK.json bounds
    # set-up and the kernel-relative figures; the wall-clock ones follow the
    # host, failed_ratio and scratch_left_mb read 0 on a correct run and
    # peak RSS follows GC timing, so those are listed with the per-layer
    # metrics, which have no bound.
    units = {"setup_s": "s", "throughput_per_kernel": "queries/kernel",
             "query_p50_kernels": "kernels", "query_tail_kernels": "kernels",
             "throughput_qps": "queries/s", "query_p50_s": "s", "query_tail_s": "s",
             "kernel_s": "s", "failed_ratio": "ratio", "peak_rss_mb": "MB",
             "scratch_left_mb": "MB"}
    metrics = {
        "setup_s": setup_s,
        # Host-relative: the wall-clock figures below in units of the
        # kernel's median time over the same passes.
        "throughput_per_kernel": qps * kernel_s,
        "query_p50_kernels": p50 / kernel_s,
        "query_tail_kernels": tail / kernel_s,
        "throughput_qps": qps,
        "query_p50_s": p50,
        "query_tail_s": tail,
        "failed_ratio": failed / len(samples),
        "peak_rss_mb": rss_mb,
        "scratch_left_mb": scratch_left / MB,
        "kernel_s": kernel_s,
    }
    if args.trace:
        metrics.update(layer)
    units.update(declared)

    print(f"perfbench workload={args.workload} seed={args.seed} sf={sf} "
          f"passes={len(orders)} queries/pass={n} samples={len(samples)} "
          f"tail=p{tail_p:g} timed_wall_s={wall:.3f} host_steal={stolen / max(1, total):.3f}")
    for name, p in problems:
        if p:
            print(f"FAIL {name}: {p}")
    covered = True
    if args.trace:
        worst = metrics["trace.max_unattributed_share"]
        covered = worst <= 1 - COVERAGE_MIN
        print(f"ledger: layers cover {100 * (1 - worst):.1f}% of the traced wall "
              f"of the worst query (must be >= {100 * COVERAGE_MIN:g}%: "
              f"{'ok' if covered else 'FAILED'})")
        os.makedirs(os.path.join(SCRATCH, "ledgers"), exist_ok=True)
        path = os.path.join(SCRATCH, "ledgers",
                            f"{args.workload}-seed{args.seed}-{time.time_ns()}.json")
        ledger.dump(path, {"workload": args.workload, "seed": args.seed,
                           "order": orders[0], "metrics": metrics})
        print(f"ledger written to {os.path.relpath(path, ROOT)}")
    missing = declared.keys() - metrics.keys()
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    for name, unit in units.items():
        print(f"metric {name} = {metrics[name]:.6g} {unit}")
    out = {name: {"value": metrics[name], "unit": unit} for name, unit in declared.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(samples),
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 and covered else 1


if __name__ == "__main__":
    sys.exit(main())
