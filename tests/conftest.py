from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
# The tier-1 session; tools/capture_plans.py builds the same one.
SESSION = {"master": "local[4]", "shuffle_partitions": 4}


@pytest.fixture(scope="session")
def spark():
    from datafusion_spark import get_spark

    s = get_spark("tests", **SESSION)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
