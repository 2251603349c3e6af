from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
# The tier-1 session; tools/capture_plans.py builds the same one.
SESSION = {"master": "local[4]", "shuffle_partitions": 4}
# Split sizing under which every SF_SMALL table is 2 to 4 splits, as every
# base table is at scale.  A table of one split is read as one partition
# and plans no exchange (catalog._split_path), so the plan pins
# (plans/manifest.json, checked by test_query_runs, and the shape checks of
# test_plan_budgets.py) are captured and compared under these settings:
# they keep guarding the exchanges the same entries plan at scale.
AT_SCALE_SPLITS = {"spark.sql.files.openCostInBytes": "1k"}


@pytest.fixture(scope="session")
def spark():
    from datafusion_spark import get_spark

    s = get_spark("tests", **SESSION)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def at_scale(spark):
    """The tier-1 session under AT_SCALE_SPLITS for one test."""
    from tools.measure import confs_applied

    with confs_applied(spark, AT_SCALE_SPLITS):
        yield spark
