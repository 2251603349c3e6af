"""Row-group-aligned scan copies and single-split tables read as one
partition (catalog._split_path), and the build-path session setting (no
per-Column call-site capture)."""

from __future__ import annotations

import os
import shutil
import time
from urllib.parse import urlparse

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from datafusion_spark import catalog
from datafusion_spark.plans import explain_str
from datafusion_spark.queries import QUERIES
from tests.conftest import AT_SCALE_SPLITS, SF_ORACLE, SF_SMALL
from tools.measure import confs_applied, gateway_commands, stage_records

_MPB = "spark.sql.files.maxPartitionBytes"
_OPEN = "spark.sql.files.openCostInBytes"
_MIN = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


@pytest.fixture
def sf_copy(tmp_path):
    """A writable data dir holding SF_ORACLE's lineitem under a unique
    basename; its derived_splits dir is removed afterwards."""
    sf = tmp_path / f"splits{os.getpid()}x{time.time_ns()}"
    sf.mkdir()
    shutil.copyfile(catalog.table_path(SF_ORACLE, "lineitem"), sf / "lineitem.parquet")
    derived = os.path.join(catalog.repo_root(), "spark-warehouse",
                           "derived_splits", sf.name)
    yield str(sf), derived
    shutil.rmtree(derived, ignore_errors=True)


def _scanned_file(df) -> str:
    (uri,) = df.inputFiles()
    return urlparse(uri).path


def test_default_settings_write_no_copy(spark, sf_copy):
    """Files under the open cost are one split at default settings: every
    table scans its source file, read as one partition (every SF_ORACLE
    file is at most 1 MB), and nothing is written."""
    sf, derived = sf_copy
    for name in catalog.TABLES:
        assert catalog._split_path(spark, SF_ORACLE, name) == \
            (catalog.table_path(SF_ORACLE, name), True)
    df = catalog.load_table(spark, sf, "lineitem")
    assert _scanned_file(df) == catalog.table_path(sf, "lineitem")
    assert not os.path.exists(derived)


def test_split_copy_rows_order_and_reuse(spark, sf_copy):
    """With smaller splits than the file, the scan reads a copy with a row
    group per split, the same rows in the same file order, built once per
    source mtime and split count."""
    sf, derived = sf_copy
    src = catalog.table_path(sf, "lineitem")
    saved = spark.conf.get(_MPB)
    spark.conf.set(_MPB, "256k")
    try:
        splits = catalog._scan_splits(spark, os.path.getsize(src))
        assert splits >= 3
        df = catalog.load_table(spark, sf, "lineitem")
        copy = _scanned_file(df)
        mtime = os.stat(src).st_mtime_ns
        assert copy == os.path.join(derived, str(mtime), str(splits), "lineitem.parquet")
        copy_md = pq.ParquetFile(copy).metadata
        assert copy_md.num_row_groups == splits
        assert pq.ParquetFile(copy).schema_arrow.equals(
            pq.ParquetFile(src).schema_arrow, check_metadata=True)
        # Each row group is read by its own task.
        per_task = df.rdd.glom().map(len).collect()
        assert sum(1 for n in per_task if n) == copy_md.num_row_groups, per_task

        # Same rows at the same per-file row index.
        def indexed(path):
            return spark.read.parquet(path).select("*", "_metadata.row_index")
        a, b = indexed(src), indexed(copy)
        assert a.count() == b.count() == copy_md.num_rows
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

        # A second resolution reuses the copy as written.
        built = os.stat(copy).st_mtime_ns
        assert catalog._split_path(spark, sf, "lineitem") == (copy, False)
        assert os.stat(copy).st_mtime_ns == built

        # A rewritten source (new mtime) gets a new copy.
        os.utime(src, ns=(mtime + 10**9, mtime + 10**9))
        fresh = _scanned_file(catalog.load_table(spark, sf, "lineitem"))
        assert fresh == os.path.join(derived, str(mtime + 10**9), str(splits),
                                     "lineitem.parquet")
        assert pq.ParquetFile(fresh).metadata.num_row_groups == splits
    finally:
        spark.conf.set(_MPB, saved)


def test_split_copy_matches_the_scan_split_count(spark, sf_copy):
    """A copy cut for more splits is never read by a scan of fewer: a copy
    written under a lower open cost (4 splits) stays where it is, and a
    scan under a higher one (3 splits) reads its own copy, each split
    reading exactly one row group.  Reusing the 4-group copy would hand one
    task two row groups."""
    sf, derived = sf_copy
    src = catalog.table_path(sf, "lineitem")
    key = "spark.sql.files.openCostInBytes"
    saved = spark.conf.get(key)

    def scan(open_cost):
        spark.conf.set(key, open_cost)
        splits = catalog._scan_splits(spark, os.path.getsize(src))
        path, _ = catalog._split_path(spark, sf, "lineitem")
        return splits, path, spark.read.parquet(path)

    try:
        many, many_path, _ = scan("1k")
        few, few_path, df = scan("400k")
        assert (many, few) == (4, 3)
        assert many_path != few_path
        assert pq.ParquetFile(many_path).metadata.num_row_groups == many
        md = pq.ParquetFile(few_path).metadata
        groups = sorted(md.row_group(i).num_rows for i in range(md.num_row_groups))
        per_task = df.rdd.glom().map(len).collect()
        assert len(per_task) == few
        assert sorted(per_task) == groups
    finally:
        spark.conf.set(key, saved)


def test_load_table_follows_the_split_count(spark, sf_copy):
    """load_table scans the copy cut for the split count of the current
    conf: after maxPartitionBytes changes in a session, the next call reads
    the copy for the new count, not the relation resolved under the old
    one, and back under the first conf it serves the first relation
    again."""
    sf, derived = sf_copy
    src = catalog.table_path(sf, "lineitem")
    mtime = os.stat(src).st_mtime_ns
    saved = spark.conf.get(_MPB)
    try:
        frames, counts = [], []
        for mpb in ("256k", "128k", "256k"):
            spark.conf.set(_MPB, mpb)
            splits = catalog._scan_splits(spark, os.path.getsize(src))
            df = catalog.load_table(spark, sf, "lineitem")
            assert _scanned_file(df) == os.path.join(
                derived, str(mtime), str(splits), "lineitem.parquet"), mpb
            frames.append(df)
            counts.append(splits)
        assert counts[0] != counts[1] and counts[0] == counts[2]
        assert frames[2] is frames[0]
    finally:
        spark.conf.set(_MPB, saved)


def _plan(df) -> str:
    return explain_str(df, "simple")


def _run(spark, df):
    """df's rows and the Spark jobs collecting them ran (tools.measure
    stage_records)."""
    sc = spark.sparkContext
    group = f"scan-splits-{time.time_ns()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, stage_records(spark, group)


def _agg_and_sort(orders):
    """An aggregate and an ORDER BY over ``orders``."""
    return (orders.groupBy("o_orderstatus").agg(F.count("*").alias("n"),
                                                F.max("o_orderkey").alias("k")),
            orders.select("o_orderkey", "o_custkey").orderBy("o_orderkey"))


def _same_rows(df, ref, rows):
    """``rows`` of ``df`` equal ``ref``'s, in order if df sorts."""
    want = ref.collect()
    if "Sort" not in _plan(df):
        rows, want = sorted(rows), sorted(want)
    assert rows == want


@pytest.fixture
def small_copy(tmp_path):
    """A writable data dir holding SF_SMALL's orders and lineitem under a
    unique basename; its derived_splits dir is removed afterwards."""
    sf = tmp_path / f"single{os.getpid()}x{time.time_ns()}"
    sf.mkdir()
    for name in ("orders", "lineitem"):
        shutil.copyfile(catalog.table_path(SF_SMALL, name), sf / f"{name}.parquet")
    yield str(sf)
    shutil.rmtree(os.path.join(catalog.repo_root(), "spark-warehouse",
                               "derived_splits", sf.name), ignore_errors=True)


def test_single_split_table_plans_no_exchange(spark):
    """A base table of one split is read as one partition: an aggregate
    and an ORDER BY over it plan no exchange (the sort samples no range
    bounds) and run one job each, with the rows of the plain scan."""
    path = catalog.table_path(SF_SMALL, "orders")
    assert catalog._scan_splits(spark, os.path.getsize(path)) == 1
    orders = catalog.load_table(spark, SF_SMALL, "orders")
    assert orders.rdd.getNumPartitions() == 1
    for df, ref in zip(_agg_and_sort(orders), _agg_and_sort(spark.read.parquet(path))):
        assert "Exchange" not in _plan(df)
        rows, jobs = _run(spark, df)
        assert len(jobs) == 1, jobs
        _same_rows(df, ref, rows)


def test_table_of_several_splits_keeps_its_exchanges(spark, small_copy):
    """The same table cut into several splits by a lower open cost keeps
    its partitions, and the aggregate and ORDER BY keep their exchanges."""
    path = catalog.table_path(small_copy, "orders")
    with confs_applied(spark, {_OPEN: "1k"}):
        splits = catalog._scan_splits(spark, os.path.getsize(path))
        assert splits >= 2
        orders = catalog.load_table(spark, small_copy, "orders")
        assert orders.rdd.getNumPartitions() == splits
        agg, ordered = _agg_and_sort(orders)
        assert "Exchange hashpartitioning" in _plan(agg)
        assert "Exchange rangepartitioning" in _plan(ordered)
        for df, ref in zip((agg, ordered), _agg_and_sort(spark.read.parquet(path))):
            rows, jobs = _run(spark, df)
            assert len(jobs) >= 2, jobs
            _same_rows(df, ref, rows)


def test_one_split_over_the_min_partition_size_keeps_its_exchanges(spark, small_copy):
    """A file of one split larger than adaptive execution's
    minPartitionSize keeps Spark's partition, since a shuffle over it may
    run on more than one task: the aggregate and ORDER BY keep their
    exchanges.  At minPartitionSize itself the file is one partition."""
    path = catalog.table_path(small_copy, "orders")
    size = os.path.getsize(path)
    with confs_applied(spark, {_MIN: str(size - 1)}):
        assert catalog._scan_splits(spark, size) == 1
        assert catalog._split_path(spark, small_copy, "orders") == (path, False)
        orders = catalog.load_table(spark, small_copy, "orders")
        assert orders.rdd.getNumPartitions() == 1
        agg, ordered = _agg_and_sort(orders)
        assert "Exchange hashpartitioning" in _plan(agg)
        assert "Exchange rangepartitioning" in _plan(ordered)
    with confs_applied(spark, {_MIN: str(size)}):
        assert catalog._split_path(spark, small_copy, "orders") == (path, True)
        assert "Exchange" not in _plan(
            _agg_and_sort(catalog.load_table(spark, small_copy, "orders"))[0])


def test_join_with_a_multi_split_side_shuffles_both(spark, small_copy):
    """A shuffle join of a single-split table with a table of several
    splits plans as before: both sides shuffle to the shuffle partition
    count, and the multi-split scan runs one task per split."""
    orders_path = catalog.table_path(small_copy, "orders")
    lines_path = catalog.table_path(small_copy, "lineitem")
    with confs_applied(spark, {_OPEN: "96k",
                               "spark.sql.autoBroadcastJoinThreshold": "-1"}):
        assert catalog._scan_splits(spark, os.path.getsize(orders_path)) == 1
        splits = catalog._scan_splits(spark, os.path.getsize(lines_path))
        assert splits >= 2

        def join(orders, lines):
            return (orders.join(lines, orders.o_orderkey == lines.l_orderkey)
                    .groupBy("o_orderstatus")
                    .agg(F.count("*").alias("n"), F.max("l_linenumber").alias("m")))

        df = join(catalog.load_table(spark, small_copy, "orders"),
                  catalog.load_table(spark, small_copy, "lineitem"))
        plan = _plan(df)
        parts = spark.conf.get("spark.sql.shuffle.partitions")
        assert plan.count("Exchange hashpartitioning") == 3, plan
        assert f", {parts}), ENSURE_REQUIREMENTS" in plan
        assert "SinglePartition" not in plan
        rows, jobs = _run(spark, df)
        scans = sorted(s["tasks"] for j in jobs for s in j["stages"] if s["input_b"])
        assert scans == [1, splits], jobs
        _same_rows(df, join(spark.read.parquet(orders_path),
                            spark.read.parquet(lines_path)), rows)


def test_split_decision_follows_the_open_cost(spark, small_copy):
    """Changing openCostInBytes in a session flips the decision at the
    next load, and back at the first setting the first relation is served
    again."""
    frames = []
    for cost in (None, "1k", None):
        with confs_applied(spark, {_OPEN: cost} if cost else {}):
            df = catalog.load_table(spark, small_copy, "orders")
            agg = _agg_and_sort(df)[0]
            assert ("Exchange" in _plan(agg)) == (cost is not None), cost
            frames.append(df)
    assert frames[2] is frames[0] and frames[1] is not frames[0]


def test_warm_load_sends_only_the_conf_check(spark):
    """A warm load of every table sends the 2 gateway commands of its one
    conf check and nothing else: the split decision is kept with the
    relation under the conf generation."""
    catalog.load_tables(spark, SF_SMALL)
    with gateway_commands() as sent:
        catalog.load_tables(spark, SF_SMALL)
    assert sent[0] == 2


# The entries of both perfbench workloads.
_PERFBENCH = """
    tpch_q1 tpch_q6 tpch_q12 tpch_q13 cb_q00 cb_q03 cb_q14 cb_q15 cb_q19
    cb_q31 job_1a compat_sql_strings compat_sql_datetime
    source_parquet_zstd_roundtrip
""".split()


def _canon(rows) -> list:
    def value(v):
        return float(f"{v:.9g}") if isinstance(v, float) else v
    return sorted((tuple(value(v) for v in r) for r in rows), key=repr)


@pytest.mark.parametrize("name", _PERFBENCH)
def test_rows_match_at_scale_split_sizing(spark, name):
    """Each benchmark entry returns the same rows with its tables read as
    one partition and under the split sizing of tables at scale."""
    rows = _canon(QUERIES[name](spark, SF_SMALL).collect())
    with confs_applied(spark, AT_SCALE_SPLITS):
        assert _canon(QUERIES[name](spark, SF_SMALL).collect()) == rows


def test_dataframe_debugging_off(spark, monkeypatch):
    """Sessions from get_spark build Columns without PySpark's call-site
    capture.  The knob is static, so ensure_runtime_tuned (which runs on
    sessions the caller built) must leave it alone: setting it on a live
    session raises."""
    knob = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(knob) == "false"
    assert not spark.conf.isModifiable(knob)
    monkeypatch.setattr(catalog, "_TUNED", set())
    catalog.ensure_runtime_tuned(spark.newSession())
