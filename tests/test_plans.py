"""Plan-shape assertions: pushdown, pruning, broadcast — the properties
that make the queries scale, checked structurally."""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

from datafusion_spark.catalog import load_table
from datafusion_spark.plans import operator_counts, pushed_filters, scan_columns
from datafusion_spark.queries import QUERIES
from tests.conftest import SF_ORACLE, SF_SMALL
from tools.capture_plans import load_manifest

# the final statement's operator counts of each registry entry, which
# tests/test_registry_smoke.py::test_query_runs pins to the live plan
FINAL = {name: stmts[-1] for name, stmts in load_manifest().items()}


def test_filter_pushdown_reaches_scan(spark):
    li = load_table(spark, SF_SMALL, "lineitem").filter(F.col("l_quantity") < 24)
    assert any("l_quantity" in f for f in pushed_filters(li))


def test_events_ts_filter_pushdown(spark):
    """Regression guard for the round-1 scale-killer: a ts predicate on the
    events scan must reach the parquet reader as a PushedFilter.  The old
    cast-based timestamp shim put a projection over the scan, blocking
    pushdown — any time-sliced events query then read the full table."""
    ev = load_table(spark, SF_SMALL, "events").filter(
        F.col("ts") >= "2024-01-02 00:00:00"
    )
    assert any("ts" in f for f in pushed_filters(ev)), pushed_filters(ev)


def test_column_pruning(spark):
    df = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    scans = scan_columns(df)
    assert scans and all(set(cols) <= {"l_orderkey", "l_quantity"} for cols in scans)


def test_q6_scan_only_needed_columns(spark):
    df = QUERIES["tpch_q6"](spark, SF_SMALL)
    scans = scan_columns(df)
    assert scans
    # q6 needs only 4 columns; the scan must not read the whole table
    assert all(len(cols) <= 4 for cols in scans), scans


def test_dimension_join_broadcasts():
    assert FINAL["tpch_q5"].get("BroadcastHashJoin", 0), FINAL["tpch_q5"]


def test_topk_has_no_global_sort_shuffle():
    # TakeOrderedAndProject handles the LIMIT; the only exchanges should be
    # for joins/aggregations, and a small fixed number of them.
    assert FINAL["tpch_q3"].get("TakeOrderedAndProject", 0), FINAL["tpch_q3"]


def test_single_shuffle_sessionization():
    # one hash exchange on user_id feeds both window passes + the aggregate
    assert FINAL["events_sessionization"].get("Exchange", 0) <= 2


def test_explain_analyze_reports_final_plan(spark):
    """explain_analyze executes the DataFrame's own query execution, so the
    plan it reports is the final adaptive plan, with per-operator rows."""
    from datafusion_spark.plans import explain_analyze

    out = explain_analyze(QUERIES["tpch_q6"](spark, SF_SMALL))
    assert out["rows"] == 1
    assert "isFinalPlan=true" in out["final_plan"], out["final_plan"]
    assert out["initial"]["Exchange"] == out["final"]["Exchange"] == 1
    ops = {o["op"]: o for o in out["operators"]}
    assert ops["FileSourceScan"]["rows"] > 0
    assert [o["rows"] for o in out["operators"] if o["op"] == "HashAggregate"][0] == 1


def test_binned_range_join_is_equi_hash_join():
    """The binned range join must plan as a (broadcast) HASH join on
    bin_id — the whole point is avoiding the nested-loop inequality join
    the naive formulation produces."""
    c = FINAL["join_range_binned"]
    assert "BroadcastNestedLoopJoin" not in c, c
    assert c.get("BroadcastHashJoin", 0) + c.get("ShuffledHashJoin", 0), c


def test_lateral_join_decorrelated():
    """LATERAL correlated subquery must decorrelate to WindowGroupLimit
    (partial per-partition top-1), never a per-row re-execution."""
    c = FINAL["join_lateral_topk"]
    assert "WindowGroupLimit" in c, c
    assert "BroadcastNestedLoopJoin" not in c, c


def test_sort_merge_hint_plan_uses_smj():
    c = FINAL["join_sort_merge_hint"]
    assert "SortMergeJoin" in c, c
    assert "BroadcastHashJoin" not in c, c


def test_range_partitioned_sort_invariant(spark):
    df = QUERIES["sort_global_range_partitioned"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    [row] = df.collect()
    assert row["ranges_non_overlapping"] and row["partitions_bounded"]
    expected = load_table(spark, SF_SMALL, "orders").count()
    assert row["total_n"] == expected


def test_nested_schema_pruning_drops_pad_fields(spark):
    """parquet_nested_schema_pruning.slt mirror: a query touching only
    s.x / events.x / events.y over a file whose structs also carry
    pad_a/pad_b/pad must scan a ReadSchema WITHOUT any pad leaf — with
    nestedSchemaPruning (default on) Spark reads the referenced struct
    fields, not the whole column.  At 100 TB with wide multimodal
    structs this is the difference between a field read and a full
    column read."""
    from datafusion_spark.plans import explain_str

    df = QUERIES["source_nested_schema_pruning"](spark, SF_SMALL)
    txt = explain_str(df)
    read = [ln for ln in txt.splitlines() if "ReadSchema" in ln]
    assert read, "no ReadSchema line in formatted explain"
    joined = "\n".join(read)
    assert "pad" not in joined, f"pad fields not pruned from scan: {joined}"
    assert "x" in joined and "y" in joined


def test_scan_split_scales_with_max_partition_bytes(spark):
    """repartition_scan.slt / preserve_file_partitioning.slt mirror: the
    reference repartitions a parquet scan across target_partitions by
    byte ranges; Spark's knob is spark.sql.files.maxPartitionBytes.  The
    contract that matters at 100 TB: scan parallelism is a CONFIG
    decision, not a file-layout accident — halving the split size must
    (roughly) double the scan tasks over the same single file, and the
    split count must never round down to fewer tasks than files."""
    from tests.conftest import SF_ORACLE

    saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        counts = {}
        for mpb in ("128MB", "256KB", "64KB"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
            d = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
                "l_orderkey"
            )
            counts[mpb] = d.rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
    assert counts["128MB"] == 1, counts  # 1 MiB file: one split
    assert counts["256KB"] >= 3, counts  # ~1 MiB / 256 KiB
    # halving again must keep scaling up, ~proportionally
    assert counts["64KB"] >= 2 * counts["256KB"], counts


def test_subset_partitioning_reuses_exchange(spark):
    """repartition_subset_satisfaction.slt mirror pin: GROUP BY
    (o_custkey, o_orderstatus) over an input already hash-partitioned on
    o_custkey must NOT insert a second exchange — HashPartitioning(a)
    satisfies ClusteredDistribution([a, b]) because (a, b) groups refine
    a-partitions.  One exchange total, and none keyed on the pair."""
    from datafusion_spark.plans import explain_str

    df = QUERIES["agg_partition_subset_reuse"](spark, SF_SMALL)
    assert operator_counts(df)["Exchange"] == 1, explain_str(df)
    txt = explain_str(df).lower()
    assert "hashpartitioning(o_custkey" in txt
    assert "hashpartitioning(custkey, status" not in txt
    assert "hashpartitioning(o_custkey, o_orderstatus" not in txt


def test_join_strategy_invariance_plans_both_operators():
    """join_disable_repartition_joins.slt mirror pin: the strategy toggle
    really does produce two different physical joins — the merge-hinted
    leg plans SortMergeJoin, the broadcast-hinted leg plans
    BroadcastHashJoin — and the entry's value-equality flag compares
    them (oracle pins strategies_agree = true)."""
    c = FINAL["join_strategy_invariance"]
    assert "SortMergeJoin" in c, c
    assert "BroadcastHashJoin" in c, c


def test_ordering_propagates_through_filter_no_sort(spark):
    """filter_without_sort_exec.slt mirror: a source with a known output
    ordering (the reference declares WITH ORDER on the table; Spark's
    analogs are operator-produced orderings — range, a prior sort,
    bucketed sortBy) keeps that ordering through projections and filters,
    so ORDER BY on the same key plans NO Sort node.  A different key must
    still sort — exactly one."""
    from datafusion_spark.plans import explain_str

    def sorts(q):
        return operator_counts(q).get("Sort", 0)

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("t"), F.col("id").alias("d")
    )
    same_key = df.filter(F.col("t") == 3).orderBy("d")
    assert sorts(same_key) == 0, explain_str(same_key)
    other_key = df.filter(F.col("t") == 3).orderBy("t")
    assert sorts(other_key) == 1, explain_str(other_key)
    # redundant explicit re-sort on the same key is also eliminated
    double = df.orderBy("d").filter(F.col("t") == 3).orderBy("d")
    assert sorts(double) == 0, explain_str(double)


def test_monotonic_projection_resort_divergence(spark):
    """monotonic_projection_test.slt divergence pin: the reference infers
    that CAST(bigint AS double) is monotonic and reuses the input order;
    Spark does not infer monotonicity through casts, so ORDER BY the cast
    output plans one Sort.  Cost-only divergence — values identical
    either way — pinned so a future Spark that learns the inference shows
    up as a plan improvement, not silent drift."""
    from datafusion_spark.plans import explain_str

    df = spark.range(1000).select(F.col("id").alias("d"))
    q = df.orderBy("d").select(F.col("d").cast("double").alias("dd")).orderBy("dd")
    assert operator_counts(q).get("Sort", 0) == 1, explain_str(q)
    rows = [r.dd for r in q.collect()]
    assert rows == sorted(rows) and len(rows) == 1000


def test_cse_volatility_semantics(spark):
    """cse.slt mirror at the semantics level: the reference extracts
    duplicated DETERMINISTIC subexpressions into __common_expr and
    refuses to extract volatile ones (random()).  Spark's CSE lives in
    whole-stage codegen (subexpressionElimination), so there is no plan
    surface to pin — what must hold is the same observable contract:
    a duplicated deterministic expression yields identical values, and a
    duplicated rand()-bearing expression is evaluated independently per
    column (collapsing it would be a correctness bug)."""
    df = spark.range(2000).select(F.col("id").alias("d"))
    rows = df.select(
        (F.col("d") + F.lit(1)).alias("c1"),
        (F.col("d") + F.lit(1)).alias("c2"),
        (F.col("d") + F.rand()).alias("v1"),
        (F.col("d") + F.rand()).alias("v2"),
    ).collect()
    assert all(r.c1 == r.c2 for r in rows)
    # 2000 independent uniform pairs: P(all equal) is ~0; any inequality
    # proves the two rand() calls were not collapsed into one.
    assert any(r.v1 != r.v2 for r in rows)


def test_grouping_sets_single_expand_shuffle(spark):
    """grouping_set_repartition.slt mirror: grouping sets materialize via
    ONE Expand (each row fanned to its grouping-set variants) followed by
    ONE exchange keyed on the grouping-id-extended key — never one
    aggregation+shuffle per set.  At 100 TB an N-set rollup that shuffles
    N times instead of once is the difference between one pass and N."""
    from datafusion_spark.plans import explain_str

    df = QUERIES["agg_grouping_sets"](spark, SF_SMALL)
    txt = explain_str(df)
    counts = operator_counts(df)
    assert counts["Exchange"] == 1 and counts["Expand"] == 1, txt
    assert "spark_grouping_id" in txt, txt


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join pin: a 90%-hot key on the probe side of a shuffled
    sort-merge join must be SPLIT at runtime (skew=true on the SMJ node)
    instead of serializing one giant task — Spark's runtime analog of the
    reference's repartitioning decisions, and the default defense the
    100 TB design leans on wherever keys are Zipfian (session.py enables
    spark.sql.adaptive.skewJoin).  Thresholds are lowered only to make
    the toy dataset register as skewed; values are checked against the
    exact expected aggregate."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(400000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
            F.lpad(F.col("id").cast("string"), 64, "p").alias("pay"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("w")
        )
        j = (
            left.join(right.hint("merge"), "k")
            .groupBy()
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        )
        rows = j.collect()
        assert [tuple(r) for r in rows] == [(400000, 79999800000)]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpcds_prelude_pruning_exact_and_equivalent(spark):
    """The per-query pruned TPC-DS prelude (r12: the full 24-CTE derive cost
    ~2 s of driver analysis PER EXECUTION) must (a) partition the original
    derive text exactly, (b) keep every CTE a body references, and (c)
    produce the same rows as the unpruned spelling."""
    import re

    import datafusion_spark.queries.tpcds_exec as tx

    # (a) the split reconstructs the original WITH list byte-exactly
    joined = ",\n".join(t for _, t in tx._CTES)
    assert tx._split_ctes(tx._SPARK_DERIVE)[1].strip() == ""
    orig = tx._SPARK_DERIVE[re.search(r"\bWITH\b", tx._SPARK_DERIVE).end():]
    norm = lambda s: re.sub(r"[\s,]+", "", s)
    assert norm(joined) == norm(orig)
    assert len(tx._CTES) == 24

    # (b) pruning keeps referenced names (spot: q14's three channels + dims)
    pruned = tx._pruned_prelude(" FROM store_sales, web_sales x, item i "
                                "JOIN date_dim ON 1=1 ")
    for n in ("store_sales", "web_sales", "item", "date_dim"):
        assert f"{n} AS (" in pruned
    assert "inventory AS (" not in pruned

    # (c) pruned and full spellings return identical rows (q3 at sf0.001)
    body = QUERIES["tpcds_q3"].plan.final
    body_tail = body[body.index("SELECT dt.d_year"):]
    full_sql = (tx._SPARK_DERIVE + body_tail).replace("__SF__", SF_SMALL)
    tx._ensure_views(spark, SF_SMALL)  # derive CTEs read the session views
    got_pruned = [tuple(r) for r in QUERIES["tpcds_q3"](spark, SF_SMALL).collect()]
    got_full = [tuple(r) for r in spark.sql(full_sql).collect()]
    assert got_pruned == got_full


def test_clickbench_hits_pruning_exact_and_equivalent(spark):
    """r12: the Spark-side hits CTE is pruned per query to the referenced
    columns (the full 44-column projection cost 130–160 ms of driver
    analysis per run).  The split must (a) reconstruct the full CTE
    byte-exactly, (b) keep referenced / drop unreferenced columns, and
    (c) every cb_q*/cbx_q* entry must return exactly the full-CTE
    spelling's rows.  The DuckDB oracle text is untouched by design."""
    import re

    import datafusion_spark.queries.clickbench_full as cf

    # (a) byte-exact reconstruction of the full CTE from the split
    head, _, tail = cf._HITS_SPARK_FULL.partition("SELECT")
    chunk_body, _, src = tail.rpartition("\nFROM ")
    rebuilt = head + "SELECT" + ",".join(c for _, c in cf._HITS_SPARK_COLS) \
        + "\nFROM " + src
    assert rebuilt == cf._HITS_SPARK_FULL
    assert len(cf._HITS_SPARK_COLS) == 43

    # (b) referenced kept, unreferenced dropped, word-boundary respected
    pruned = cf._pruned_hits_spark(
        "SELECT URL, COUNT(*) FROM hits WHERE SearchPhrase <> ''")
    assert re.search(r"\bAS URL\b", pruned)
    assert "AS SearchPhrase" in pruned
    assert "AS URLHash" not in pruned  # \bURL\b must not match URLHash
    assert "AS Age" not in pruned
    # a body naming no column keeps exactly one; a '*' inside a string
    # literal (cb_q28's regex) names nothing and keeps no full projection
    count_only = cf._pruned_hits_spark("SELECT COUNT(*) AS c FROM hits")
    assert re.findall(r"\bAS (\w+)\s*$", count_only, re.M) == ["WatchID"]
    regex = cf._pruned_hits_spark(
        r"SELECT REGEXP_REPLACE(Referer, '^https?://([^/]+)/.*$', '$1') AS k, "
        "COUNT(*) AS c FROM hits WHERE Referer <> '' GROUP BY 1")
    assert re.findall(r"\bAS (\w+)\s*$", regex, re.M) == ["Referer"], regex

    # (c) pruned and full spellings return identical rows for every entry
    full_cte = f"WITH hits AS ({cf._HITS_SPARK_FULL})"
    names = sorted(n for n in QUERIES
                   if re.fullmatch(r"cbx?_q\d+", n))
    assert len(names) == 57
    for name in names:
        fn = QUERIES[name]
        got_pruned = sorted(
            map(tuple, fn(spark, SF_SMALL).collect()))  # registers events_cb
        sql = fn.plan.final
        _, sep, body = sql.partition("\nFROM events_cb\n)\n")
        assert sep, f"{name}: unexpected spark_sql shape"
        got_full = sorted(
            map(tuple, spark.sql(f"{full_cte}\n{body}").collect()))
        assert got_pruned == got_full, name


# Every entry whose executed statements differ from its oracle's Spark
# spelling (pre-statements, or a final text != inline), derived from the
# attached plans rather than listed by hand.
_REWRITTEN = sorted(
    name for name, fn in QUERIES.items()
    if (p := getattr(fn, "plan", None)) and (p.pre or p.final != p.inline))


def test_rewritten_entries_derived():
    assert len(_REWRITTEN) >= 9, _REWRITTEN
    assert "tpcds_q78" in _REWRITTEN


@pytest.mark.parametrize("sf", [SF_SMALL, SF_ORACLE], ids=os.path.basename)
@pytest.mark.parametrize("name", _REWRITTEN)
def test_rewritten_rows_match_inline(spark, name, sf):
    """A rewritten entry returns exactly the rows of its inline spelling
    (the text the DuckDB oracle's body runs as in Spark, no pushed
    predicate, no materialization).  The entry runs first: it registers
    the session views the inline text reads."""
    got = Counter(map(repr, QUERIES[name](spark, sf).collect()))
    inline = Counter(map(repr, spark.sql(QUERIES[name].plan.inline).collect()))
    assert got == inline


def test_rewritten_plan_shapes():
    """Structural pins on the attached plans: the executed statements
    carry the pushed windows, materializations and the two-phase shape;
    the inline spellings do not."""
    import re

    import datafusion_spark.queries.tpcds_exec as tx

    plan = {n: QUERIES[n].plan for n in _REWRITTEN}
    for name, p in plan.items():
        if name.startswith("tpcds_"):
            assert not re.search(r"o_orderdate (>=|BETWEEN)|SUM\(ps\)", p.inline)
    # q4/q11/q74/q64: the heavy CTE is written once, with the o_orderdate
    # window pushed below the fact base joins; the final only scans it
    for name, cte in (("tpcds_q4", "year_total"), ("tpcds_q11", "year_total"),
                      ("tpcds_q74", "year_total"), ("tpcds_q64", "cross_sales")):
        ((view, mat),) = plan[name].pre
        assert view == f"{cte}_{name}"
        assert "o_orderdate >= DATE '2000-01-01'" in mat
        assert tx._split_ctes(plan[name].final)[0] == [
            (cte, f"{cte} AS (SELECT * FROM {view})")]
    assert plan["tpcds_q64"].pre[0][1].endswith("WHERE syear IN (2000, 2000 + 1)")
    # q14/q49/q78: one shared lineitem⋈orders pass, read by every channel
    for name in ("tpcds_q14", "tpcds_q49", "tpcds_q78"):
        view, mat = plan[name].pre[0]
        assert view == f"shared_fact_{name}" and view in plan[name].final
        assert mat.count("JOIN orders") == 1
        assert "JOIN orders" not in plan[name].final
        assert name == "tpcds_q78" or "l_linenumber" not in mat
    # q14: cross_items is materialized too, so the 3-channel INTERSECT
    # runs once in its pre-statement, never in the final
    assert plan["tpcds_q14"].pre[1][0] == "cross_items_tpcds_q14"
    assert "INTERSECT" in plan["tpcds_q14"].pre[1][1]
    assert "INTERSECT" not in plan["tpcds_q14"].final
    assert "cross_items AS (SELECT * FROM cross_items_tpcds_q14)" \
        in plan["tpcds_q14"].final
    # q67 two-phase rollup and q51 both-channel window push
    q67 = plan["tpcds_q67"].final
    assert "o_orderdate BETWEEN DATE '1996-01-01'" in q67
    assert q67.count("GROUP BY ROLLUP") == 1 and "SUM(ps) AS sumsales" in q67
    assert plan["tpcds_q51"].final.count(
        "o_orderdate BETWEEN DATE '1996-01-01'") == 2


def test_scratch_keeps_only_latest_invocation(spark):
    """Re-invoking a materializing entry removes its previous scratch:
    only the latest invocation's directories remain under the entry's
    subdirectory."""
    import datafusion_spark.queries.tpcds_exec as tx

    name = "tpcds_q74"
    views = [v for v, _ in QUERIES[name].plan.pre]

    def invoke():
        QUERIES[name](spark, SF_SMALL).collect()
        (inv,) = os.listdir(os.path.join(tx._MAT_TMP, name))
        inv = os.path.join(tx._MAT_TMP, name, inv)
        assert sorted(os.listdir(inv)) == views
        return inv

    first = invoke()
    second = invoke()
    assert first != second and not os.path.exists(first)


def test_scratch_lazy_and_removed_at_exit(tmp_path):
    """Importing the registry creates no scratch directory, and scratch
    allocated through the runner's helper is gone once the process exits."""
    code = (
        "import glob, os, tempfile\n"
        "from datafusion_spark.queries import tpcds_exec as tx\n"
        "mats = os.path.join(tempfile.gettempdir(), 'dfspark_tpcds_mat_*')\n"
        "assert not glob.glob(mats), glob.glob(mats)\n"
        "open(os.path.join(tx._scratch('tpcds_q4'), 'part'), 'w').close()\n"
        "assert glob.glob(mats + '/tpcds_q4/*/part')\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True,
                   env=dict(os.environ, TMPDIR=str(tmp_path)))
    assert not list(tmp_path.glob("dfspark_tpcds_mat_*"))


def test_append_where_parenthesizes_top_level_or(spark):
    """A pushed predicate conjoins to the whole original WHERE of its CTE:
    ``WHERE (a OR b) AND (pred)``, never ``a OR (b AND pred)``."""
    from datafusion_spark.queries.tpcds_exec import _append_where

    cte = "t AS (SELECT x FROM VALUES (1), (2), (3) v(x) WHERE x = 1 OR x = 3)"
    out = _append_where(cte, "t", "x > 1")
    assert "WHERE (x = 1 OR x = 3" in out and out.rstrip().endswith("AND (x > 1)\n)")
    rows = spark.sql(f"WITH {out} SELECT x FROM t").collect()
    assert [r.x for r in rows] == [3]
    # no WHERE yet: the predicate becomes the WHERE
    bare = _append_where("t AS (SELECT x FROM VALUES (1), (2) v(x))", "t", "x > 1")
    assert [r.x for r in spark.sql(f"WITH {bare} SELECT x FROM t").collect()] == [2]
