"""Readers and wrappers the traced run uses to see inside each layer.

Everything here observes the program from outside: Spark's status store and
query-execution tracker are read over py4j, and the catalog and compat
layers are timed by wrapping their public functions for the duration of the
traced pass.  Nothing in ``datafusion_spark`` is edited.
"""

from __future__ import annotations

import functools
import re
import sys
import time

from ledger import Ledger

# Public functions the traced pass times, by layer.
CATALOG_FNS = ("load_table", "cached_parquet", "register_views")
COMPAT_FNS = ("translate_sql",)


def _ms(opt) -> float | None:
    """Epoch seconds from a Scala ``Option[java.util.Date]``."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Job and stage records for one Spark job group, from the status store
    (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has applied every queued event, so a
        job that just finished has its end time and stage metrics."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            stages = []
            it = job.stageIds().iterator()
            while it.hasNext():
                sd = self._store.lastStageAttempt(it.next())
                stages.append({
                    "status": sd.status().toString(),
                    "tasks": sd.numTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "input_b": sd.inputBytes(),
                    "output_b": sd.outputBytes(),
                    "shuffle_read_b": sd.shuffleReadBytes(),
                    "shuffle_write_b": sd.shuffleWriteBytes(),
                    "spill_b": sd.diskBytesSpilled(),
                    "start": _ms(sd.submissionTime()),
                    "end": _ms(sd.completionTime()),
                })
            out.append({"id": jid, "start": _ms(job.submissionTime()),
                        "end": _ms(job.completionTime()), "stages": stages})
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in analysis, optimization and planning, from the
    query execution's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


_SHUFFLE = re.compile(r"\bExchange\b")
_BROADCAST = re.compile(r"\bBroadcastExchange\b")


def plan_exchanges(df) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) in the final adaptive plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    text = plan.treeString()
    return len(_SHUFFLE.findall(text)), len(_BROADCAST.findall(text))


class Instrument:
    """Times every call into the catalog and compat layers while active.

    The wrapped functions replace the originals in every loaded
    ``datafusion_spark`` module that bound them by name, and
    ``SessionContext.sql`` on its class; ``restore()`` puts them back.
    Calls are recorded as spans of the current query in ``ledger``.
    """

    def __init__(self, ledger: Ledger) -> None:
        self.ledger = ledger
        self.qid = -1
        self.active = False
        self.catalog_calls = 0
        self.catalog_misses = 0
        self.translate_calls = 0
        self.translate_s = 0.0
        self._seen: dict[int, object] = {}
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        from datafusion_spark import catalog
        from datafusion_spark.compat import context, dialect

        targets = [(getattr(catalog, n), "catalog") for n in CATALOG_FNS]
        targets += [(getattr(dialect, n), "compat") for n in COMPAT_FNS]
        for fn, layer in targets:
            wrapped = self._wrap(fn, layer)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("datafusion_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._patched.append((mod, attr, fn))
                        setattr(mod, attr, wrapped)
        original = context.SessionContext.sql
        self._patched.append((context.SessionContext, "sql", original))
        context.SessionContext.sql = self._wrap(original, "compat")

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        name = fn.__name__

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            start = time.time()
            idx = self.ledger.open(layer, start, self.qid)
            try:
                result = fn(*args, **kwargs)
            finally:
                end = time.time()
                self.ledger.close(idx, end)
            if name == "translate_sql":
                self.translate_calls += 1
                self.translate_s += end - start
            elif name in ("load_table", "cached_parquet"):
                self.catalog_calls += 1
                if id(result) not in self._seen:
                    self.catalog_misses += 1
                    self._seen[id(result)] = result  # keep alive: ids stay unique
            return result

        return timed
