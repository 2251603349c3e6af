"""Tests for the benchmark's own arithmetic, on synthetic inputs.

    python3 -m pytest perfbench -q

With ``PERFBENCH_REFERENCE_TABLES`` set to a directory that holds the
project's test tables at one scale factor (``sf0.01`` or ``sf0.1`` in its
name), the generated tables are also compared with them.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import datagen
import run as bench
from ledger import (
    COVERAGE_MIN, Ledger, merge_intervals, percentile, tail_percentile, union_length,
    worst_unattributed_share,
)


def test_union_merges_overlaps_and_clips():
    assert merge_intervals([(3, 6), (1, 4), (8, 9), (9, 9)]) == [(1, 6), (8, 9)]
    assert union_length([(1, 4), (3, 6), (8, 9)]) == 6
    assert union_length([(1, 4), (3, 6), (8, 9)], lo=2, hi=8.5) == 4.5
    assert union_length([]) == 0


def _query_ledger() -> tuple[Ledger, dict[str, int]]:
    """One query shaped like a traced one: build (with a catalog call and a
    pre-statement job), catalyst, exec and fetch under a harness root."""
    led = Ledger()
    root = led.open("harness", 0.0, qid=7)
    build = led.open("queries.build", 0.0, 7)
    cat = led.open("catalog", 1.0, 7)
    led.close(cat, 2.0)
    led.close(build, 4.0)
    plan = led.open("catalyst", 4.0, 7)
    led.close(plan, 4.5)
    led.close(root, 10.0)
    job = led.add("queries.prestmt", 2.5, 3.5, led.innermost(root, 2.5), 7)
    led.add("exec", 4.5, 9.0, root, 7)
    led.add("fetch", 9.0, 10.0, root, 7)
    return led, {"root": root, "build": build, "cat": cat, "job": job}


def test_self_time_subtracts_covered_children():
    led, ix = _query_ledger()
    st = led.self_times()
    assert led.spans[ix["job"]].parent == ix["build"]
    assert st[ix["build"]] == pytest.approx(4.0 - 1.0 - 1.0)
    assert st[ix["cat"]] == pytest.approx(1.0)
    assert st[ix["root"]] == pytest.approx(0.0)


def test_layers_sum_to_query_wall():
    led, _ = _query_ledger()
    q = led.per_query()[7]
    assert q["wall"] == pytest.approx(10.0)
    layers = {k: v for k, v in q.items() if k != "wall"}
    assert sum(layers.values()) == pytest.approx(q["wall"])
    assert layers == pytest.approx({"harness": 0.0, "queries.build": 2.0,
                                    "catalog": 1.0, "queries.prestmt": 1.0,
                                    "catalyst": 0.5, "exec": 4.5, "fetch": 1.0})


def test_coverage_check_flags_unexplained_harness_time():
    led, _ = _query_ledger()
    slow = Ledger()  # 1.0 s of a 10 s query explained by no layer
    root = slow.open("harness", 0.0, qid=3)
    build = slow.open("queries.build", 0.0, 3)
    slow.close(build, 4.0)
    slow.close(root, 10.0)
    slow.add("exec", 5.0, 9.5, root, 3)
    slow.add("fetch", 9.5, 10.0, root, 3)
    assert worst_unattributed_share(led.per_query()) == pytest.approx(0.0)
    assert worst_unattributed_share(slow.per_query()) == pytest.approx(0.1)
    both = {**led.per_query(), **slow.per_query()}
    assert worst_unattributed_share(both) > 1 - COVERAGE_MIN


def test_overlapping_children_are_counted_once():
    led = Ledger()
    root = led.open("exec", 0.0, 0)
    led.close(root, 10.0)
    for a, b in [(1.0, 4.0), (3.0, 6.0), (9.0, 12.0)]:  # the last overruns its parent
        led.add("job", a, b, root, 0)
    assert led.self_times()[root] == pytest.approx(10.0 - 5.0 - 1.0)


def test_spans_close_in_order():
    led = Ledger()
    outer = led.open("a", 0.0, 0)
    led.open("b", 1.0, 0)
    with pytest.raises(RuntimeError):
        led.close(outer, 2.0)


def test_percentile_interpolates_between_ranks():
    xs = list(range(10, 0, -1))  # unsorted input
    assert percentile(xs, 0) == 1
    assert percentile(xs, 50) == pytest.approx(5.5)
    assert percentile(xs, 75) == pytest.approx(7.75)
    assert percentile(xs, 100) == 10
    assert percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n,expected", [
    (10, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_tables_are_deterministic_and_scaled():
    a, b = datagen.tables(0.001, seed=5), datagen.tables(0.001, seed=5)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert a["lineitem"].num_rows == 6000
    assert a["documents"].num_rows == 500
    assert not datagen.tables(0.001, seed=6)["lineitem"].equals(a["lineitem"])


def test_close_removes_only_what_the_run_created(tmp_path, monkeypatch):
    tables = tmp_path / "tables"
    tables.mkdir()
    (tables / "region.parquet").write_bytes(b"x")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    monkeypatch.setattr(bench, "SCRATCH", str(tmp_path / ".perfbench"))
    monkeypatch.setattr(bench, "_table_data", lambda sf: str(tables))
    wh = tmp_path / "spark-warehouse"
    (wh / "derived_text" / "older").mkdir(parents=True)
    run = bench.Run(0.1)
    tag = os.path.basename(run.data)
    mine = wh / "derived_text" / tag / "bm25_1"
    mine.mkdir(parents=True)
    (mine / "postings").write_bytes(b"a" * 10)
    (wh / "derived_ann" / tag).mkdir(parents=True)
    theirs = wh / "derived_text" / "pb1x2_sf0.1"  # another run's artifact
    theirs.mkdir()
    (theirs / "postings").write_bytes(b"b" * 99)
    assert sum(run.scratch_sizes().values()) == 10
    run.close()
    assert sorted(p.name for p in (wh / "derived_text").iterdir()) == ["older", "pb1x2_sf0.1"]
    assert not (wh / "derived_ann").exists()
    assert not (tmp_path / ".perfbench" / "runs").exists()
    assert (tables / "region.parquet").exists()


REFERENCE = os.environ.get("PERFBENCH_REFERENCE_TABLES")


def _shape(col: pa.ChunkedArray) -> tuple[str, object]:
    """What the comparison checks of one column: category shares when it
    has few values, else deciles (of the length, for strings and lists)."""
    if pa.types.is_list(col.type):
        return "deciles", np.quantile(pc.list_value_length(col).to_numpy(), np.linspace(0, 1, 11))
    if (pa.types.is_string(col.type) or pa.types.is_integer(col.type)) \
            and pc.count_distinct(col).as_py() <= 100:
        counts = pc.value_counts(col).to_pylist()
        return "shares", {c["values"]: c["counts"] / len(col) for c in counts}
    if pa.types.is_string(col.type):
        col = pc.utf8_length(col)
    values = col.to_numpy().astype("datetime64[us]").astype(np.int64) \
        if pa.types.is_timestamp(col.type) else col.to_numpy().astype(np.float64)
    return "deciles", np.quantile(values, np.linspace(0, 1, 11))


@pytest.mark.skipif(not REFERENCE, reason="PERFBENCH_REFERENCE_TABLES not set")
def test_generated_tables_match_the_reference_tables():
    sf = float(re.search(r"sf(0\.\d+)", REFERENCE).group(1))
    for name, table in datagen.tables(sf, seed=42).items():
        ref = pq.read_table(os.path.join(REFERENCE, f"{name}.parquet"))
        assert table.schema.remove_metadata() == ref.schema.remove_metadata(), name
        assert table.num_rows == ref.num_rows, name
        for column in table.column_names:
            kind, got = _shape(table[column])
            _, want = _shape(ref[column])
            where = f"{name}.{column}"
            if kind == "shares":
                assert got.keys() == want.keys(), where
                assert all(abs(got[k] - want[k]) <= 0.03 for k in got), where
            else:
                # Inner deciles within 8% of the column's range (500-row
                # tables move that much between samples); the extremes of
                # unbounded (exponential) columns are left out.
                span = max(want[-1] - want[0], 1)
                assert np.all(np.abs(got[1:-1] - want[1:-1]) <= 0.08 * span), (where, got, want)
