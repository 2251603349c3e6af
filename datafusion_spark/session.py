"""SparkSession factory tuned for the engine.

Mirrors DataFusion's SessionContext defaults (reference:
datafusion/core/src/execution/context/mod.rs — target_partitions, batch
size, pushdown all on by default) with the Spark-native equivalents:
AQE for runtime re-planning, parquet filter pushdown, Arrow transfer for
any pandas interchange, UTC session time zone for deterministic
timestamp semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32]/128GiB harness but expressed so they
# scale: shuffle partitions ~= 2-3x total cores on a real cluster; AQE
# coalesces them back down at runtime so oversizing is cheap.
_DEF_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def tune(builder: SparkSession.Builder, shuffle_partitions: int | None = None):
    """Apply engine configs to a builder (shared by tests/bench/driver)."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Write timestamps as INT64 micros, not the legacy INT96 default:
        # INT96 columns carry NO row-group min/max statistics and no
        # filter pushdown, so any layout WE rewrite (sorted-stats scratch
        # copies, bucketed tables, sinks) would silently lose stats-based
        # pruning on every timestamp key — at 100 TB that turns a
        # one-month range scan into a full-table decode.  Micros also
        # round-trips the source data exactly (testdata is INT64 micros)
        # and matches the reference's parquet writer (DataFusion writes
        # Arrow Timestamp(us) physical INT64).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet size estimates feed join selection as compressed bytes x
        # column fraction, which understates the in-memory hash relation
        # ~5-10x for snappy analytic data — so fact-table projections slip
        # under the broadcast threshold and the flip to shuffle joins comes
        # a decade of data too late (r4 audit: 13 bench plans broadcast a
        # full fact side at sf1).  Correcting the ESTIMATE (not overriding
        # strategy) keeps small-dim broadcasts and flips the fact legs at
        # the right size: measured -15% at sf1, -11% at sf0.1, job_7a 3x.
        .config("spark.sql.sources.fileCompressionFactor", "6.0")
        # Exploit per-bucket sort metadata on read (DataFusion reads WITH
        # ORDER declarations the same way): with one file per bucket the
        # scan reports its sort order and SortMergeJoin inputs skip their
        # Sort entirely.  Safe by construction — Spark only trusts the
        # order when each bucket has <= 1 file, else it sorts as before
        # (the multi-file hazard that made this default-off in 3.0).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _DEF_CPUS))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4.1 wraps F.col and every Column method to record the
        # Python call site for error messages: ~5 py4j round trips and a
        # failing IPython import per call, a third to a half of a TPC-H
        # query's build time.  Errors still carry the JVM-side context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )


def get_spark(
    app_name: str = "datafusion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller's spark-submit master wins.
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{_DEF_CPUS}]")
    return tune(builder, shuffle_partitions).getOrCreate()
