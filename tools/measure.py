"""One measuring harness for registry entries (recipes: README, "Measuring").

Every timed run is a fresh build plus execution (a cached DataFrame would
reuse its shuffle outputs): ``build_s`` is the ``QUERIES[name](spark, sf)``
call, pre-statements included, ``build_calls`` the Py4J gateway commands
it sent, and ``exec_s`` the sink.  Each entry reports the min over
``--runs``, so first-touch work (ANN/BM25 artifacts or the TPC-DS star
built on a new SF directory) drops out at ``--runs`` >= 2.  An entry run
through ``registry.statement`` analyzes its text on the first run only, so
that min is a cached build (a lookup of the kept analyzed plan); each
per-entry line also prints the first run's ``build_s``, the uncached one
(under ``--ab`` the arms alternate the conf, so no run is cached).  The
floor, CPU and I/O kernels, which ``bench.py`` imports, bracket the
invocation; the floor is re-sampled every 10 entries.  Progress to
stderr, one JSON line to stdout.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_log = functools.partial(print, file=sys.stderr, flush=True)


def _best(job, runs_n: int) -> float:
    runs = []
    for _ in range(runs_n):
        t0 = time.perf_counter()
        job()
        runs.append(time.perf_counter() - t0)
    return min(runs)


def floor_kernel(spark, runs_n: int = 5) -> float:
    """Fixed per-query floor: a minimal two-stage job (scheduling, AQE
    orchestration, codegen; independent of data volume), min of ``runs_n``."""
    return _best(lambda: spark.range(1000).groupBy(
        (F.col("id") % 7).alias("k")).agg(F.sum("id").alias("s")).collect(),
        runs_n)


def cpu_kernel(spark, runs_n: int = 2) -> float:
    """Host CPU phase: a fixed-size, zero-I/O hash aggregate (~1 s
    unloaded), min of ``runs_n``.  Host fast/slow phases scale every
    CPU-bound query alike, so cross-run comparisons divide by this
    (tools/bench_compare.py --calibrate)."""
    return _best(lambda: spark.range(0, 30_000_000, 1, 8).select(
        ((F.col("id") * 2654435761) % 1000003).alias("k"),
        (F.col("id") % 97).alias("v"),
    ).groupBy("k").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    ).agg(F.sum("s"), F.max("n")).collect(), runs_n)


def io_kernel(spark, dest: str, runs_n: int = 1) -> float:
    """Host I/O phase: a fixed-size parquet write + read-back (~20 MB) at
    ``dest``, min of ``runs_n``; write-bound entries (materializations,
    BM25/IVF compactions) track this, not the CPU kernel."""
    def job() -> None:
        spark.range(0, 2_000_000, 1, 8).select(
            F.col("id"),
            (F.col("id") % 1000).alias("k"),
            ((F.col("id") * 2654435761) % 1000003).alias("v"),
        ).write.mode("overwrite").parquet(dest)
        spark.read.parquet(dest).agg(F.sum("v")).collect()
    return _best(job, runs_n)


@contextlib.contextmanager
def confs_applied(spark, confs: dict[str, str]):
    """Set ``confs`` on the session for the block, then put every key back
    as it was: its old value, or unset if it had none."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextlib.contextmanager
def gateway_commands():
    """Count the Py4J commands this process sends to the JVM inside the
    block (``counter[0]``).  Memory-delete commands, which Python's garbage
    collector sends for dropped JVM references at arbitrary times, are not
    counted."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    delete = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    counter = [0]

    def counting(conn, command):
        if not command.startswith(delete):
            counter[0] += 1
        return send(conn, command)

    ClientServerConnection.send_command = counting
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = send


def timed_run(spark, name: str, sf: str, sink: str, group: str) -> dict:
    """One fresh build + sink of ``name``.  Its jobs run under job group
    ``group`` (set and cleared outside the timed window); ``start``/``end``
    are the run's epoch window in whole milliseconds, outward-rounded, so
    the status store's millisecond times compare exactly.  ``build_calls``
    is the number of gateway commands the build sent."""
    from datafusion_spark.queries import QUERIES

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        start = time.time()
        t0 = time.perf_counter()
        with gateway_commands() as calls:
            df = QUERIES[name](spark, sf)
        t1 = time.perf_counter()
        if sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        t2 = time.perf_counter()
        end = time.time()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {"wall_s": round(t2 - t0, 4), "build_s": round(t1 - t0, 4),
            "exec_s": round(t2 - t1, 4), "build_calls": calls[0],
            "start": int(start * 1000) / 1000,
            "end": -int(-end * 1000) / 1000}


def _seconds(opt) -> float | None:
    """Epoch seconds from a Scala ``Option[java.util.Date]``."""
    return opt.get().getTime() / 1000 if opt.isDefined() else None


def stage_records(spark, group: str) -> list[dict]:
    """The jobs of job group ``group`` with their stages, from Spark's
    status store (works with ``spark.ui.enabled=false``), ordered by
    submission.  Stages that never ran (skipped: their shuffle output was
    reused) are left out."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # apply every queued listener event, so a finished job has its end
    # time and stage metrics
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        stages = []
        it = job.stageIds().iterator()
        while it.hasNext():
            sd = store.lastStageAttempt(it.next())
            if not sd.submissionTime().isDefined():
                continue
            stages.append({
                "id": sd.stageId(), "name": sd.name(),
                "status": sd.status().toString(), "tasks": sd.numTasks(),
                "start": _seconds(sd.submissionTime()),
                "end": _seconds(sd.completionTime()),
                "input_b": sd.inputBytes(),
                "shuffle_read_b": sd.shuffleReadBytes(),
                "shuffle_write_b": sd.shuffleWriteBytes(),
            })
        jobs.append({
            "id": jid, "name": job.name(), "status": job.status().toString(),
            "tasks": job.numTasks(), "start": _seconds(job.submissionTime()),
            "end": _seconds(job.completionTime()),
            "stages": sorted(stages, key=lambda s: s["id"]),
        })
    return sorted(jobs, key=lambda j: (j["start"], j["id"]))


def measure_entry(spark, name: str, sf: str, runs: int = 3,
                  sink: str = "collect", conf: dict[str, str] | None = None,
                  ab: dict[str, str] | None = None,
                  stages: bool = False) -> dict[str, dict]:
    """``runs`` fresh runs of ``name`` per arm, interleaved A,B,A,B,… when
    ``ab`` is given (arm B adds those confs), so host drift hits both arms
    alike; ``conf`` applies to every run and each run restores every conf.
    Returns ``{arm: record}``; ``stages`` adds the last run's ``jobs``."""
    arms = {"A": conf or {}}
    if ab:
        arms["B"] = {**arms["A"], **ab}
    samples: dict[str, list[dict]] = {arm: [] for arm in arms}
    groups: dict[str, str] = {}
    for _ in range(runs):
        for arm, confs in arms.items():
            groups[arm] = f"measure-{uuid.uuid4().hex}"
            with confs_applied(spark, confs):
                samples[arm].append(timed_run(spark, name, sf, sink, groups[arm]))
    out = {}
    for arm, runs_ in samples.items():
        out[arm] = {k: min(s[k] for s in runs_)
                    for k in ("wall_s", "build_s", "exec_s", "build_calls")}
        out[arm]["samples"] = runs_
        if stages:
            out[arm]["jobs"] = stage_records(spark, groups[arm])
    return out


def _print_timeline(rec: dict) -> None:
    """Windows relative to the last run's start."""
    origin = rec["samples"][-1]["start"]

    def window(x: dict) -> str:
        a, b = (float("nan") if t is None else t - origin
                for t in (x["start"], x["end"]))
        return f"[{a:7.3f} -> {b:7.3f}] ({b - a:6.3f}s"

    for j in rec["jobs"]:
        _log(f"job {j['id']:4d} {window(j)}, {j['tasks']:4d} tasks, "
             f"{j['status']}) {j['name'][:90]}")
        for s in j["stages"]:
            _log(f"    stage {s['id']:4d} {window(s)}, {s['tasks']:4d}t, "
                 f"in={s['input_b'] >> 20}MB shw={s['shuffle_write_b'] >> 20}MB "
                 f"shr={s['shuffle_read_b'] >> 20}MB, {s['status']}) "
                 f"{s['name'][:70]}")


def _kv(item: str) -> tuple[str, str]:
    k, sep, v = item.partition("=")
    if not (k and sep):
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {item!r}")
    return k, v


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="+", help="registry entries, in run order")
    ap.add_argument("--sf", action="append", default=[], metavar="DIR",
                    help="scale-factor directory, repeatable "
                         "(default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--runs", type=int, default=3,
                    help="fresh runs per entry, SF and arm; the min counts")
    ap.add_argument("--sink", choices=("collect", "noop"), default="collect",
                    help="noop = distributed execution without the fetch")
    ap.add_argument("--conf", action="append", default=[], type=_kv,
                    metavar="K=V", help="Spark conf for every timed run")
    ap.add_argument("--ab", action="append", default=[], type=_kv,
                    metavar="K=V", help="conf of an interleaved B arm")
    ap.add_argument("--stages", action="store_true",
                    help="print each arm's last-run jobs and stages")
    args = ap.parse_args()
    conf, ab = dict(args.conf), dict(args.ab)

    from datafusion_spark import get_spark
    from datafusion_spark.catalog import DEFAULT_SF_DIR
    from datafusion_spark.queries import QUERIES

    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        ap.error(f"not registered: {' '.join(unknown)}")
    sfs = args.sf or [DEFAULT_SF_DIR]
    labels = [os.path.basename(os.path.normpath(sf)) for sf in sfs]
    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    for sf in sfs:  # JVM + parquet footers hot before anything is timed
        spark.read.parquet(os.path.join(sf, "lineitem.parquet")).count()
    io_dir = tempfile.mkdtemp(prefix="dfspark_measure_io_")

    def kernels() -> dict[str, float]:
        k = {"floor_s": floor_kernel(spark), "cpu_s": cpu_kernel(spark),
             "io_s": io_kernel(spark, os.path.join(io_dir, "io_kernel"))}
        k = {n: round(v, 3) for n, v in k.items()}
        _log(f"kernels: {json.dumps(k)}")
        return k

    try:
        bracket = {"start": kernels()}
        floors = [bracket["start"]["floor_s"]]
        results = []
        for i, name in enumerate(args.names):
            if i and i % 10 == 0:
                floors.append(round(floor_kernel(spark), 3))
            for sf, label in zip(sfs, labels):
                arms = measure_entry(spark, name, sf, args.runs, args.sink,
                                     conf, ab, args.stages)
                for arm, rec in arms.items():
                    rec.update(name=name, sf=sf, arm=arm, floor_s=floors[-1],
                               minus_floor_s=round(max(0.0, rec["wall_s"] - floors[-1]), 4))
                    results.append(rec)
                    _log(f"{name:32s} {label:8s} {arm}: wall={rec['wall_s']:.3f}"
                         f" build={rec['build_s']:.3f}"
                         f" (first {rec['samples'][0]['build_s']:.3f},"
                         f" {rec['build_calls']} calls)"
                         f" exec={rec['exec_s']:.3f}"
                         f" floor={rec['floor_s']:.3f} walls="
                         f"{[s['wall_s'] for s in rec['samples']]}")
                    if args.stages:
                        _log(f"=== {name} {label} {arm}  jobs={len(rec['jobs'])} "
                             f"stages={sum(len(j['stages']) for j in rec['jobs'])}")
                        _print_timeline(rec)
            for arm in arms:
                w = [r["wall_s"] for r in results
                     if r["name"] == name and r["arm"] == arm]
                if len(w) > 1:
                    _log(f"{name:32s} {arm}: growth {labels[0]}->{labels[-1]} "
                         f"{w[-1] / w[0]:.2f}x")
        floors.append(round(floor_kernel(spark), 3))
        bracket["end"] = kernels()
    finally:
        shutil.rmtree(io_dir, ignore_errors=True)
    totals = {}
    for arm in arms:
        rs = [r for r in results if r["arm"] == arm]
        totals[arm] = {"n": len(rs), "wall_s": round(sum(r["wall_s"] for r in rs), 3),
                       "minus_floor_s": round(sum(r["minus_floor_s"] for r in rs), 3)}
    _log(f"totals: {json.dumps(totals)}")
    print(json.dumps({
        "cpus": spark.sparkContext.defaultParallelism, "sink": args.sink,
        "runs": args.runs, "conf": conf, "ab": ab or None, "kernels": bracket,
        "floor_samples": floors, "results": results, "totals": totals}))


if __name__ == "__main__":
    main()
