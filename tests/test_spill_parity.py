"""Memory-pressure (spill) parity mirrors.

Reference: datafusion/sqllogictest/test_files/{aggregate_memory_spill.slt,
sort_merge_join_spill.slt, nested_loop_join_spill.slt,
ordered_aggregate_spill.slt}: each family runs a query under a tight
``datafusion.runtime.memory_limit``, asserts the answer is unchanged, and
pins a ``spill_count`` metric via EXPLAIN ANALYZE — the contract that the
memory-safety path produces bit-identical results.

Spark spells the same contract through per-operator spill thresholds
(runtime-settable SQLConf, no JVM restart): the operator buffers rows in an
ExternalAppendOnlyUnsafeRowArray / hash map and switches to the disk-backed
path once the buffer exceeds the threshold.  Setting the threshold below
the test's group/partition size deterministically forces the spill path —
the same lever the reference pulls with ``memory_limit = '1M'``.  At 100 TB
these paths are not edge cases: any skewed window partition, fat SMJ key
group, or high-cardinality aggregate WILL cross executor memory, and a
wrong answer under spill is silent data corruption.

Where Spark exposes a node-level SQLMetric for the spill we pin it
(WindowExec ``spillSize``, ObjectHashAggregateExec ``numTasksFallBacked``
— the analog of the reference's ``spill_count=7`` pins); SortMergeJoinExec
and CartesianProductExec buffer spills surface only in task metrics, so
those cases pin value parity with the threshold provably below the
buffered group size (the switch to the spill path is a deterministic
row-count comparison, not a heuristic).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Window
from pyspark.sql import functions as F

from datafusion_spark.plans import explain_analyze


@contextmanager
def _confs(spark, **kv):
    """Set SQLConfs for the block, then restore each one's prior value
    (unsetting would drop a session-built value to Spark's default)."""
    saved = {k: spark.conf.get(k, None) for k in kv}
    try:
        for k, v in kv.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _metrics(df, op, substring):
    """Nonzero SQLMetrics of ``op`` nodes whose name contains ``substring``,
    from ``explain_analyze``."""
    return {k: v for o in explain_analyze(df)["operators"] if o["op"] == op
            for k, v in o["metrics"].items() if substring in k.lower()}


def test_confs_restores_prior_value(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    with _confs(spark, **{key: -1}):
        assert spark.conf.get(key) == "-1"
    assert spark.conf.get(key) == prior


def test_window_buffer_spill_parity(spark):
    """ordered_aggregate_spill.slt / aggregate_memory_spill.slt analog for
    the window buffer: a running frame over partitions far larger than the
    in-memory threshold must spill (WindowExec spillSize > 0) and return
    exactly the un-throttled answer."""

    def build():
        df = spark.range(6000).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("v")
        )
        w = (
            Window.partitionBy("g")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            df.select("g", F.sum("v").over(w).alias("s"))
            .groupBy("g")
            .agg(F.count("*").alias("n"), F.sum("s").alias("t"))
            .orderBy("g")
        )

    base = build().collect()
    with _confs(
        spark,
        **{
            "spark.sql.windowExec.buffer.spill.threshold": 256,
            "spark.sql.windowExec.buffer.in.memory.threshold": 256,
        },
    ):
        df = build()
        throttled = df.collect()
        spills = _metrics(df, "Window", "spill")
    assert throttled == base
    assert spills, (
        "window buffer never spilled despite threshold 256 < 2000-row "
        f"partitions: {spills}"
    )


def test_object_hash_agg_fallback_parity(spark):
    """aggregate_memory_spill.slt mirror: high-cardinality GROUP BY with a
    typed-imperative aggregate under a tiny fallback threshold degrades to
    the sort-based path (numTasksFallBacked > 0 — the reference pins
    spill_count the same way) with identical results.  Key scrambled with
    (v*7) % N exactly like the reference so the input is NOT
    group-ordered and the hash map really grows."""

    def build():
        df = spark.range(1, 50001).select(
            ((F.col("id") * 7) % 50000).alias("k"), F.col("id").alias("v")
        )
        g = df.groupBy("k").agg(F.percentile_approx("v", 0.5).alias("m"))
        return g.groupBy().agg(
            F.count("*").alias("n"), F.sum("m").alias("t")
        )

    base = build().collect()
    with _confs(
        spark, **{"spark.sql.objectHashAggregate.sortBased.fallbackThreshold": 128}
    ):
        df = build()
        throttled = df.collect()
        fallbacks = _metrics(df, "ObjectHashAggregate", "fallback")
    assert throttled == base
    assert fallbacks, (
        f"aggregate never fell back to the sort-based path: {fallbacks}"
    )


def test_sort_merge_join_buffer_spill_parity(spark):
    """sort_merge_join_spill.slt mirror: one 2,000-row key group with a
    512-byte payload (the reference's ``wide`` view verbatim in shape)
    joined under a buffer threshold of 200 rows — the buffered side
    provably exceeds the in-memory threshold, so the
    ExternalAppendOnlyUnsafeRowArray runs its disk-backed path; results
    must match the unlimited-memory run."""

    def build():
        left = spark.range(2000).select(
            F.lit(2).cast("long").alias("k"),
            F.col("id").alias("v"),
            F.lpad(F.col("id").cast("string"), 512, "x").alias("p"),
        )
        right = spark.range(1, 4).select(
            F.col("id").alias("k"), F.lit(500).alias("x")
        )
        j = right.join(left.hint("merge"), "k")
        return (
            j.groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
            .orderBy("k")
        )

    base = build().collect()
    with _confs(
        spark,
        **{
            "spark.sql.sortMergeJoinExec.buffer.spill.threshold": 200,
            "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold": 200,
        },
    ):
        throttled = build().collect()
    assert throttled == base
    # The reference pins count(*)=2000 per matching probe row.
    assert [r["n"] for r in base] == [2000]


def test_cartesian_buffer_spill_parity(spark):
    """nested_loop_join_spill.slt mirror: the reference's exact query —
    a non-equijoin (v1 + v2 > 0) between a long stream and a 1-row side
    under a memory limit, answer pinned to count/min/max of the stream.
    Spark plans CartesianProduct/BNLJ here; its row buffer crosses the
    1,024-row spill threshold deterministically."""

    def build():
        t1 = spark.range(1, 20001).select(F.col("id").alias("v1"))
        t2 = spark.range(1, 2).select(F.col("id").alias("v2"))
        j = t1.join(t2, (F.col("v1") + F.col("v2")) > 0)
        return j.groupBy().agg(
            F.count("*").alias("cnt"),
            F.min("v1").alias("mn"),
            F.max("v1").alias("mx"),
        )

    with _confs(
        spark,
        **{
            "spark.sql.cartesianProductExec.buffer.spill.threshold": 1024,
            "spark.sql.autoBroadcastJoinThreshold": -1,
        },
    ):
        rows = build().collect()
    assert [tuple(r) for r in rows] == [(20000, 1, 20000)]
