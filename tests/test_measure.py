"""The measuring harness (tools/measure.py): its build/exec split, its
status-store stage timeline, its A/B conf restore and its kernels."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tools.measure import (cpu_kernel, floor_kernel, gateway_commands,
                           io_kernel, measure_entry, timed_run)


def test_build_plus_exec_is_the_run_wall(spark):
    for i in range(3):
        s = timed_run(spark, "tpch_q1", SF_SMALL, "collect", f"wall-{i}")
        wall = s["end"] - s["start"]
        assert s["build_s"] > 0 and s["exec_s"] > 0 and s["build_calls"] > 0
        assert s["build_s"] + s["exec_s"] == pytest.approx(wall, rel=0.05)


def test_stages_come_from_the_status_store(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    rec = measure_entry(spark, "tpch_q1", SF_SMALL, runs=2, stages=True)["A"]
    run = rec["samples"][-1]
    jobs = rec["jobs"]
    assert len(jobs) >= 1
    stages = [s for j in jobs for s in j["stages"]]
    assert any(s["tasks"] > 0 for s in stages)
    for x in jobs + stages:
        assert run["start"] <= x["start"] <= x["end"] <= run["end"], x
    assert any(s["input_b"] > 0 for s in stages)


def test_ab_restores_every_conf(spark):
    unset_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    set_key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(unset_key, None) is None
    before = spark.conf.get(set_key)
    arms = measure_entry(spark, "tpch_q6", SF_SMALL, runs=1,
                         conf={set_key: "3"},
                         ab={unset_key: "1m", set_key: "2"})
    assert set(arms) == {"A", "B"}
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(set_key) == before


def test_kernels_return_positive_seconds(spark, tmp_path):
    assert floor_kernel(spark, runs_n=1) > 0
    assert cpu_kernel(spark, runs_n=1) > 0
    assert io_kernel(spark, str(tmp_path / "io"), runs_n=1) > 0


def test_tpch_builds_send_few_gateway_commands(spark):
    """Every tpch_* entry builds as one spark.sql statement over cached
    views: at most 10 Py4J commands per warm build (3 measured, 5 for
    tpch_official_*).  The
    Column-API spelling sent 64-280 per build, so a regression to it fails
    here as a number."""
    from datafusion_spark.queries import QUERIES

    names = [n for n in QUERIES if n.startswith("tpch_")]
    assert len(names) >= 22
    calls = {}
    for name in names:
        QUERIES[name](spark, SF_SMALL)  # registers the views it reads
        with gateway_commands() as sent:
            QUERIES[name](spark, SF_SMALL)
        calls[name] = sent[0]
    assert max(calls.values()) <= 10, calls
