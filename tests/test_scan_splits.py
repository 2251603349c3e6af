"""Row-group-aligned scan copies (catalog._split_path) and the build-path
session setting (no per-Column call-site capture)."""

from __future__ import annotations

import os
import shutil
import time
from urllib.parse import urlparse

import pyarrow.parquet as pq
import pytest

from datafusion_spark import catalog
from tests.conftest import SF_ORACLE

_MPB = "spark.sql.files.maxPartitionBytes"


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
    table scans its source file and nothing is written."""
    sf, derived = sf_copy
    for name in catalog.TABLES:
        assert catalog._split_path(spark, SF_ORACLE, name) == \
            catalog.table_path(SF_ORACLE, name)
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
        assert catalog._split_path(spark, sf, "lineitem") == copy
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
        path = catalog._split_path(spark, sf, "lineitem")
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
