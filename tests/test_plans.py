"""Plan-shape assertions: pushdown, pruning, broadcast — the properties
that make the queries scale, checked structurally."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_spark.catalog import load_table
from datafusion_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    scan_columns,
    shuffle_count,
)
from datafusion_spark.queries import QUERIES
from tests.conftest import SF_SMALL


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


def test_dimension_join_broadcasts(spark):
    df = QUERIES["tpch_q5"](spark, SF_SMALL)
    assert has_broadcast_join(df)


def test_topk_has_no_global_sort_shuffle(spark):
    df = QUERIES["tpch_q3"](spark, SF_SMALL)
    # TakeOrderedAndProject handles the LIMIT; the only exchanges should be
    # for joins/aggregations, and a small fixed number of them.
    assert "TakeOrderedAndProject" in str(df._jdf.queryExecution().executedPlan().toString())


def test_single_shuffle_sessionization(spark):
    df = QUERIES["events_sessionization"](spark, SF_SMALL)
    # one hash exchange on user_id feeds both window passes + the aggregate
    assert shuffle_count(df) <= 2


def test_explain_analyze_reports_final_plan(spark):
    from datafusion_spark.plans import explain_analyze

    out = explain_analyze(QUERIES["tpch_q6"](spark, SF_SMALL))
    assert out["rows"] == 1
    assert "AdaptiveSparkPlan" in out["initial_plan"] or out["initial_plan"]
    assert "HashAggregate" in out["final_plan"]


def test_binned_range_join_is_equi_hash_join(spark):
    """The binned range join must plan as a (broadcast) HASH join on
    bin_id — the whole point is avoiding the nested-loop inequality join
    the naive formulation produces."""
    df = QUERIES["join_range_binned"](spark, SF_SMALL)
    plan = str(df._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_lateral_join_decorrelated(spark):
    """LATERAL correlated subquery must decorrelate to WindowGroupLimit
    (partial per-partition top-1), never a per-row re-execution."""
    df = QUERIES["join_lateral_topk"](spark, SF_SMALL)
    plan = str(df._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sort_merge_hint_plan_uses_smj(spark):
    plan = QUERIES["join_sort_merge_hint"](spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


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
    from datafusion_spark.plans import explain_str, shuffle_count

    df = QUERIES["agg_partition_subset_reuse"](spark, SF_SMALL)
    assert shuffle_count(df) == 1, explain_str(df)
    txt = explain_str(df).lower()
    assert "hashpartitioning(o_custkey" in txt
    assert "hashpartitioning(custkey, status" not in txt
    assert "hashpartitioning(o_custkey, o_orderstatus" not in txt


def test_join_strategy_invariance_plans_both_operators(spark):
    """join_disable_repartition_joins.slt mirror pin: the strategy toggle
    really does produce two different physical joins — the merge-hinted
    leg plans SortMergeJoin, the broadcast-hinted leg plans
    BroadcastHashJoin — and the entry's value-equality flag compares
    them (oracle pins strategies_agree = true)."""
    from datafusion_spark.plans import explain_str

    df = QUERIES["join_strategy_invariance"](spark, SF_SMALL)
    txt = explain_str(df)
    assert "SortMergeJoin" in txt, txt
    assert "BroadcastHashJoin" in txt, txt


def test_ordering_propagates_through_filter_no_sort(spark):
    """filter_without_sort_exec.slt mirror: a source with a known output
    ordering (the reference declares WITH ORDER on the table; Spark's
    analogs are operator-produced orderings — range, a prior sort,
    bucketed sortBy) keeps that ordering through projections and filters,
    so ORDER BY on the same key plans NO Sort node.  A different key must
    still sort — exactly one."""
    import re

    from datafusion_spark.plans import explain_str

    def sorts(q):
        return len(re.findall(r"^\(\d+\) Sort", explain_str(q), re.MULTILINE))

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
    import re

    from datafusion_spark.plans import explain_str

    df = spark.range(1000).select(F.col("id").alias("d"))
    q = df.orderBy("d").select(F.col("d").cast("double").alias("dd")).orderBy("dd")
    n = len(re.findall(r"^\(\d+\) Sort", explain_str(q), re.MULTILINE))
    assert n == 1, explain_str(q)
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
    from datafusion_spark.plans import explain_str, shuffle_count

    import re

    df = QUERIES["agg_grouping_sets"](spark, SF_SMALL)
    txt = explain_str(df)
    assert shuffle_count(df) == 1, txt
    assert len(re.findall(r"^\(\d+\) Expand", txt, re.MULTILINE)) == 1, txt
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
    body = QUERIES["tpcds_q3"].__defaults__[0]
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

    # (c) pruned and full spellings return identical rows for every entry
    full_cte = f"WITH hits AS ({cf._HITS_SPARK_FULL})"
    names = sorted(n for n in QUERIES
                   if re.fullmatch(r"cbx?_q\d+", n))
    assert len(names) == 57
    for name in names:
        fn = QUERIES[name]
        got_pruned = sorted(
            map(tuple, fn(spark, SF_SMALL).collect()))  # registers events_cb
        sql = fn.__defaults__[0]
        _, sep, body = sql.partition("\nFROM events_cb\n)\n")
        assert sep, f"{name}: unexpected spark_sql shape"
        got_full = sorted(
            map(tuple, spark.sql(f"{full_cte}\n{body}").collect()))
        assert got_pruned == got_full, name


def test_tpcds_shared_cte_materialization_equivalent(spark):
    """r12 (+r13 o_orderdate push): q4/q11/q74 materialize year_total once
    per invocation instead of inlining it per reference, with the year
    window pushed below the fact base joins.  The materialized spelling
    must return exactly the INLINE spelling's rows (the unmodified body
    the DuckDB oracle runs — no pushed predicate), and each invocation
    must write a FRESH scratch directory (no cross-run reuse)."""
    import os

    import datafusion_spark.queries.tpcds_exec as tx

    tx._ensure_views(spark, SF_SMALL)  # derive CTEs read the session views
    for name in ("tpcds_q74", "tpcds_q11", "tpcds_q4"):
        body = tx._BODIES[name]
        assert "o_orderdate" not in body  # the oracle body carries no push
        inline_sql = (tx._pruned_prelude(body) + body).replace(
            "__SF__", SF_SMALL)
        got_inline = [tuple(r) for r in spark.sql(inline_sql).collect()]
        mat_sql = QUERIES[name].__defaults__[0]
        assert "o_orderdate >= DATE '2000-01-01'" in mat_sql  # push present
        before = (set(os.listdir(tx._MAT_TMP))
                  if os.path.isdir(tx._MAT_TMP) else set())
        got_mat = [tuple(r) for r in QUERIES[name](spark, SF_SMALL).collect()]
        got_mat2 = [tuple(r) for r in QUERIES[name](spark, SF_SMALL).collect()]
        after = set(os.listdir(tx._MAT_TMP))
        assert got_mat == got_inline == got_mat2, name
        assert len(after - before) == 2, "each invocation must write fresh scratch"


def test_tpcds_shared_fact_materialization_equivalent(spark):
    """r12: q14/q49/q78/q95 materialize the shared lineitem⋈orders fact
    base once per invocation; every consuming channel CTE is redefined to
    project its original expressions from that materialization (body text
    unchanged).  The rewritten spelling must return exactly the inline
    spelling's rows — including under the per-channel date predicates the
    registration pushes into the materialization — and each invocation
    must write a FRESH scratch directory (no cross-run reuse)."""
    import os
    from collections import Counter

    import datafusion_spark.queries.tpcds_exec as tx
    from datafusion_spark.queries import ORACLES

    tx._ensure_views(spark, SF_SMALL)
    for name in ("tpcds_q14", "tpcds_q49"):
        body = ORACLES[name][len(tx._DUCK_DERIVE):]
        inline_sql = (tx._pruned_prelude(body) + body).replace("__SF__", SF_SMALL)
        got_inline = Counter(map(repr, spark.sql(inline_sql).collect()))
        before = set(os.listdir(tx._MAT_TMP)) if os.path.isdir(tx._MAT_TMP) else set()
        got_mat = Counter(map(repr, QUERIES[name](spark, SF_SMALL).collect()))
        after = set(os.listdir(tx._MAT_TMP))
        assert got_mat == got_inline, name
        n_mats = 1 + len(QUERIES[name].__defaults__[3])  # fact mat + cte mats
        assert len(after - before) == n_mats, "each invocation writes fresh scratch"
        # the registered final statement reads the shared view, never the join
        final_sql = QUERIES[name].__defaults__[1]
        assert f"shared_fact_{name}" in final_sql
        assert "JOIN orders" not in final_sql
        if name == "tpcds_q14":
            # cross_items is second-level materialized: the 3-channel
            # INTERSECT runs once in its mat, never in the final statement
            assert "INTERSECT" not in final_sql
            assert "cross_items AS (SELECT * FROM cross_items_m_tpcds_q14)" \
                in final_sql
        # the materialization statement is the single base-join pass, pruned
        mat_sql = QUERIES[name].__defaults__[0]
        assert mat_sql.count("JOIN orders") == 1
        assert "l_linenumber" not in mat_sql  # q14/q49 never derive from it


def test_tpcds_q64_q67_rewrite_equivalent(spark):
    """r13: q64 materializes cross_sales once per invocation with the
    syear window pruned into the mat and the equivalent o_orderdate window
    pushed below the fact base join; q67 executes a two-phase rollup with
    the same o_orderdate push.  Both rewrites must return exactly the
    inline spelling's rows (the spelling the DuckDB oracle runs) at two
    SFs, and q64 must write fresh scratch per invocation."""
    import os
    from collections import Counter

    import datafusion_spark.queries.tpcds_exec as tx

    for sf in (SF_SMALL, "/root/testdata/sf0.01"):
        tx._ensure_views(spark, sf)
        for name in ("tpcds_q64", "tpcds_q67", "tpcds_q51"):
            body = tx._BODIES[name]
            inline_sql = (tx._pruned_prelude(body) + body).replace("__SF__", sf)
            got_inline = Counter(map(repr, spark.sql(inline_sql).collect()))
            before = (set(os.listdir(tx._MAT_TMP))
                      if os.path.isdir(tx._MAT_TMP) else set())
            got_new = Counter(map(repr, QUERIES[name](spark, sf).collect()))
            after = set(os.listdir(tx._MAT_TMP))
            assert got_new == got_inline, (name, sf)
            if name == "tpcds_q64":
                assert len(after - before) == 1, "q64 writes fresh scratch"

    # structural pins: the executed texts carry the pushed windows and the
    # two-phase shape; the oracle bodies do NOT (they stay the inline text)
    q64_mat = QUERIES["tpcds_q64"].__defaults__[0]
    q64_final = QUERIES["tpcds_q64"].__defaults__[1]
    assert "o_orderdate >= DATE '2000-01-01'" in q64_mat
    assert "syear IN (2000, 2000 + 1)" in q64_mat
    assert "cross_sales_tpcds_q64 cs1" in q64_final
    assert "cross_sales" not in q64_final.replace("cross_sales_tpcds_q64", "")
    q67_sql = QUERIES["tpcds_q67"].__defaults__[0]
    assert "o_orderdate BETWEEN DATE '1996-01-01'" in q67_sql
    assert q67_sql.count("GROUP BY ROLLUP") == 1
    assert "SUM(ps) AS sumsales" in q67_sql  # two-phase: ROLLUP over sums
    q51_sql = QUERIES["tpcds_q51"].__defaults__[0]
    assert q51_sql.count("o_orderdate BETWEEN DATE '1996-01-01'") == 2
    for name in ("tpcds_q64", "tpcds_q67", "tpcds_q51"):
        assert "o_orderdate" not in tx._BODIES[name]
        assert "SUM(ps)" not in tx._BODIES[name]


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
