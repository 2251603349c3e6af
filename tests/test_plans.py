"""Plan-shape assertions: pushdown, pruning, broadcast — the properties
that make the queries scale, checked structurally."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

from datafusion_spark.catalog import load_table
from datafusion_spark.plans import operator_counts, pushed_filters, scan_columns
from datafusion_spark.queries import ORACLES, QUERIES
from datafusion_spark.queries.registry import Plan
from tests.conftest import SF_ORACLE, SF_SMALL
from tools.capture_plans import load_manifest

# the operator counts of each registry entry, which
# tests/test_registry_smoke.py::test_query_runs pins to the live plan
MANIFEST = load_manifest()


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


def test_events_read_leaves_other_tables_types(spark):
    """Reading events as LTZ turns NTZ inference off for that read only:
    lineitem's dtypes in a session that read events first equal a fresh
    session's, and events.ts keeps its LTZ type and pushed filters."""
    from datafusion_spark.catalog import _read_table

    fresh = _read_table(spark.newSession(), SF_SMALL, "lineitem").dtypes
    assert "timestamp_ntz" in dict(fresh).values()
    session = spark.newSession()
    ev = _read_table(session, SF_SMALL, "events")
    assert _read_table(session, SF_SMALL, "lineitem").dtypes == fresh
    assert dict(ev.dtypes)["ts"] == "timestamp"
    ev = ev.filter(F.col("ts") >= "2024-01-02 00:00:00")
    assert any("ts" in f for f in pushed_filters(ev)), pushed_filters(ev)
    assert ev.count() > 0


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
    assert MANIFEST["tpch_q5"].get("BroadcastHashJoin", 0), MANIFEST["tpch_q5"]


def test_topk_has_no_global_sort_shuffle():
    # TakeOrderedAndProject handles the LIMIT; the only exchanges should be
    # for joins/aggregations, and a small fixed number of them.
    assert MANIFEST["tpch_q3"].get("TakeOrderedAndProject", 0), MANIFEST["tpch_q3"]


def test_single_shuffle_sessionization():
    # one hash exchange on user_id feeds both window passes + the aggregate
    assert MANIFEST["events_sessionization"].get("Exchange", 0) <= 2


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
    c = MANIFEST["join_range_binned"]
    assert "BroadcastNestedLoopJoin" not in c, c
    assert c.get("BroadcastHashJoin", 0) + c.get("ShuffledHashJoin", 0), c


def test_lateral_join_decorrelated():
    """LATERAL correlated subquery must decorrelate to WindowGroupLimit
    (partial per-partition top-1), never a per-row re-execution."""
    c = MANIFEST["join_lateral_topk"]
    assert "WindowGroupLimit" in c, c
    assert "BroadcastNestedLoopJoin" not in c, c


def test_sort_merge_hint_plan_uses_smj():
    c = MANIFEST["join_sort_merge_hint"]
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
    c = MANIFEST["join_strategy_invariance"]
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
    """The TPC-DS derive splits exactly into the 24 stored tables: (a) the
    split reconstructs the derive text, (b) each table is a SELECT over
    base tables only (no derive table reads another), so it can be written
    by its own statement, (c) both preludes keep exactly the tables a body
    references, and (d) each stored table holds its derive SELECT's rows
    and the q3 entry returns the full-derive spelling's rows."""
    import re

    import datafusion_spark.queries.tpcds_exec as tx

    # (a) the split reconstructs the original WITH list byte-exactly
    joined = ",\n".join(t for _, t in tx._CTES)
    assert tx._split_ctes(tx._SPARK_DERIVE)[1].strip() == ""
    orig = tx._SPARK_DERIVE[re.search(r"\bWITH\b", tx._SPARK_DERIVE).end():]
    norm = lambda s: re.sub(r"[\s,]+", "", s)
    assert norm(joined) == norm(orig)
    assert len(tx._CTES) == len(tx._STAR) == 24
    assert tx._STAR_SOURCES == ("customer", "lineitem", "orders", "part")

    # (b) a table's SELECT names no derive table defined before it (its own
    # name, as customer's does, reads the base table)
    for i, (name, text) in enumerate(tx._CTES):
        earlier = {n for n, _ in tx._CTES[:i]}
        assert not tx._refs(text, tx._STAR) & earlier, name

    # (c) pruning keeps referenced names (spot: q14's three channels + dims)
    body = (" FROM store_sales, web_sales x, item i JOIN date_dim ON 1=1"
            " LEFT JOIN store_returns ON 1=1 ")
    pruned, star = tx._pruned_prelude(body), tx._star_prelude(body)
    for n in ("store_sales", "web_sales", "item", "date_dim"):
        assert f"{n} AS (" in pruned
        assert f"{n} AS (SELECT * FROM tpcds_{n})" in star
    assert "inventory AS (" not in pruned + star
    # the returns tables are read through their hinted views
    assert "store_returns AS (" in pruned and "store_returns" not in star

    # (d) stored == derived, table by table, and q3 over the full derive
    tx._ensure_star(spark, SF_SMALL)
    for name, text in tx._CTES:
        select = text[text.index("(") + 1:-1]
        diff = spark.sql(f"(SELECT * FROM tpcds_{name} EXCEPT ALL {select})"
                         f" UNION ALL ({select} EXCEPT ALL"
                         f" SELECT * FROM tpcds_{name})")
        assert diff.count() == 0, name
    body = ORACLES["tpcds_q3"][len(tx._DUCK_DERIVE):]
    assert QUERIES["tpcds_q3"].plan.final.endswith(body)
    got = [tuple(r) for r in QUERIES["tpcds_q3"](spark, SF_SMALL).collect()]
    full = [tuple(r) for r in spark.sql(tx._SPARK_DERIVE + body).collect()]
    assert got == full


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


# Every entry whose executed statement differs from its oracle's Spark
# spelling (a final text != inline), derived from the attached plans rather
# than listed by hand.  Every tpcds_* entry is one: it runs over the stored
# star, its inline spelling derives the tables inside the statement.
_REWRITTEN = sorted(
    name for name, fn in QUERIES.items()
    if (p := getattr(fn, "plan", None)) and p.final != p.inline)
_TPCDS = sorted(n for n in QUERIES if n.startswith("tpcds_q"))
# the TPC-DS entries that carried per-query rewrites before the star was
# stored; they keep their pin at SF_ORACLE too
_TPCDS_AT_ORACLE_SF = """
    tpcds_q4 tpcds_q11 tpcds_q14 tpcds_q49 tpcds_q51 tpcds_q64 tpcds_q67
    tpcds_q74 tpcds_q78
""".split()


def test_rewritten_entries_derived():
    assert set(_TPCDS) <= set(_REWRITTEN) and len(_TPCDS) == 103
    assert set(_TPCDS_AT_ORACLE_SF) <= set(_TPCDS)


@pytest.mark.parametrize("name,sf", [
    (name, sf) for name in _REWRITTEN for sf in (SF_SMALL, SF_ORACLE)
    if sf == SF_SMALL or name not in _TPCDS or name in _TPCDS_AT_ORACLE_SF
], ids=lambda v: os.path.basename(v) if v.startswith("/") else v)
def test_rewritten_rows_match_inline(spark, name, sf):
    """A rewritten entry returns exactly the rows of its inline spelling
    (the text the DuckDB oracle's body runs as in Spark: for tpcds_*, the
    body over the tables derived inside the statement, so stored ==
    derived).  The entry runs first: it registers the session views the
    inline text reads.  A tpcds_* inline text runs under the entries' one
    output rule, DECIMAL outputs as DOUBLE (tpcds_exec._doubled)."""
    import datafusion_spark.queries.tpcds_exec as tx

    got = Counter(map(repr, QUERIES[name](spark, sf).collect()))
    text = QUERIES[name].plan.inline
    if name in _TPCDS:
        text = tx._doubled(spark, text)
    inline = Counter(map(repr, spark.sql(text).collect()))
    assert got == inline


def test_rewritten_plan_shapes():
    """Every tpcds_* final is one-line alias CTEs over the stored tables
    other than the returns tables, then the oracle's body verbatim; its
    inline spelling is the same body under the derive prelude.  Neither
    carries a pushed o_orderdate window.  Two entries differ where
    measured faster at sf1: q64 reads store sales from 2000 on only (its
    bound built by the derive's own date-key helper), and q67 runs its
    rollup in two phases."""
    import re

    import datafusion_spark.queries.tpcds_exec as tx

    for name in _TPCDS:
        plan = QUERIES[name].plan
        body = ORACLES[name][len(tx._DUCK_DERIVE):]
        prelude = tx._star_prelude(body)
        aliases = re.findall(r"^(?:WITH |)(\w+) AS \(SELECT \* FROM tpcds_(\w+)\),?$",
                             prelude.strip(), re.M)
        assert aliases and all(a == b for a, b in aliases), name
        assert len(aliases) == len(prelude.strip().splitlines()), name
        assert {a for a, _ in aliases} == tx._refs(body, tx._STAR) - set(
            tx._RETURNS), name
        assert plan.inline == tx._pruned_prelude(body) + body, name
        assert "o_orderdate" not in body, name
        if name not in ("tpcds_q64", "tpcds_q67"):
            assert plan == Plan(prelude + body, plan.inline), name
    q64 = QUERIES["tpcds_q64"].plan
    body = ORACLES["tpcds_q64"][len(tx._DUCK_DERIVE):]
    assert q64 == Plan((tx._star_prelude(body) + body).replace(
        "FROM tpcds_store_sales)", "FROM tpcds_store_sales WHERE ss_sold_date_sk"
        " >= " + tx._date_sk("DATE '2000-01-01'") + ")"), q64.inline)
    assert "datediff(DATE '2000-01-01', DATE '1992-01-01') + 2450000" in q64.final
    assert tx._SPARK_DERIVE.count(tx._date_sk("CAST(o_orderdate AS DATE)")) == 8
    q67 = QUERIES["tpcds_q67"].plan
    body = ORACLES["tpcds_q67"][len(tx._DUCK_DERIVE):]
    assert q67.final.startswith(tx._star_prelude(body))
    group_by = r"(?i)\bgroup\s+by\b"
    assert len(re.findall(group_by + r"\s+rollup", q67.final)) == 1
    assert len(re.findall(group_by, body)) == 1
    assert len(re.findall(group_by, q67.final)) == 2
    assert "SUM(ps) AS sumsales" in q67.final and ") base" in q67.final


def test_tpcds_edit_lists():
    """Every tpcds_* entry is generated, its reference statement plus a
    checked edit list, or a hand body with a one-line reason.  Each edit
    matches its stated count and changes the text, an empty list is the
    reference statement verbatim, and the oracle and inline texts, and
    every final but the two respelled ones, carry the generated body
    unchanged.  The hand bodies are exactly the two whose reasons are a
    Spark limitation (q41) or a measured A/B (q72)."""
    import datafusion_spark.queries.tpcds_exec as tx
    from datafusion_spark.queries.tpcds_planning import reference_statements

    assert set(_TPCDS) == set(tx._EDITS) | set(tx._HAND)
    assert not set(tx._EDITS) & set(tx._HAND)
    assert set(tx._HAND) == {"tpcds_q41", "tpcds_q72"}
    assert {"tpcds_q8", "tpcds_q14", "tpcds_q14b", "tpcds_q49",
            "tpcds_q66"} <= set(tx._EDITS)
    assert all(r.strip() and "\n" not in r for r in tx._HAND.values())

    for name, edits in tx._EDITS.items():
        for i, e in enumerate(edits):  # _generate asserts each count
            assert e.why and e.n >= 1, (name, e)
            assert (tx._generate(name, edits[:i])
                    != tx._generate(name, edits[:i + 1])), (name, e)
        body = tx._generate(name, edits)
        plan = QUERIES[name].plan
        assert ORACLES[name] == tx._DUCK_DERIVE + body, name
        assert plan.inline == tx._pruned_prelude(body) + body, name
        # q64's respelling rewrites its prelude, q67's its rollup; both are
        # pinned in test_rewritten_plan_shapes
        assert (plan.final == tx._star_prelude(body) + body
                or name in ("tpcds_q64", "tpcds_q67")), name
        if not edits:
            assert body == tx._reference(name), name

    # the reader: header and ';' gone, a leading WITH continues the
    # prelude's, and the b entries are the second statements
    q14b = reference_statements(14)[1]
    assert q14b.lower().startswith("with") and not q14b.endswith(";")
    assert tx._reference("tpcds_q14b") == "," + q14b[4:]
    assert tx._reference("tpcds_q3") == reference_statements(3)[0]
    assert not any(s.lstrip().startswith("--") for q in range(1, 100)
                   for s in reference_statements(q))
    assert tx._EDITS["tpcds_q73"] == ()

    # edits per reason, so a house money edit cannot creep back unnoticed:
    # the star's money is DECIMAL(p,2), and the _MONEY edits left are the
    # products of its DOUBLE quantities with a price
    whys = Counter(e.why for edits in tx._EDITS.values() for e in edits)
    pinned = {"_MONEY": 27, "_AVG": 40, "_RATIO": 15, "_STDEV": 5,
              "_ALIAS": 22, "_QUOTED": 11, "_INT": 15, "_HUGEINT": 26,
              "_RETURNS_": 11, "_NULLS": 9, "_TIEBREAK": 7, "_RETARGET": 51,
              "_UNPARSE": 2, "_SEQ": 13, "_CALENDAR": 5, "_YEARS": 4,
              "_CATEGORY": 5}
    assert {r: whys[getattr(tx, r)] for r in pinned} == pinned
    assert sum(whys.values()) == 374
    assert all("DECIMAL(38,6)" in e.new for edits in tx._EDITS.values()
               for e in edits if e.why == tx._MONEY)

    # an edit that no longer applies fails
    def gen(*edit):
        return tx._generate("tpcds_q3", (tx.Edit(*edit),))

    with pytest.raises(AssertionError, match="occurs 0 times, not 1"):
        gen("no such text", "x", "why")
    with pytest.raises(AssertionError, match="occurs 1 times, not 2"):
        gen("sum(ss_ext_sales_price)", "x", "why", 2)
    with pytest.raises(AssertionError, match="changes nothing"):
        gen("limit 100", "limit 100", "why")
    # whitespace runs match any whitespace run; nothing else is loose
    assert "LIMIT 7" in gen("limit  100", "LIMIT 7", "why")
    with pytest.raises(AssertionError, match="occurs 0 times"):
        gen("LIMIT 100", "x", "why")


def test_tpcds_star_money_types(spark):
    """The star's 49 money columns are DECIMAL(p,2) with p <= 8, so Spark
    sums each on its long-backed path: SUM of DECIMAL(p,2) is
    DECIMAL(p+10,2), 18 digits or fewer.  The six quantity columns stay
    DOUBLE (integer-valued, so their sums are exact), and no other column
    is DOUBLE.  Analysis only."""
    from pyspark.sql.types import DecimalType, DoubleType

    import datafusion_spark.queries.tpcds_exec as tx

    views = tx._ensure_star(spark, SF_SMALL)
    money, doubles = {}, []
    for name in tx._STAR:
        df = views[f"tpcds_{name}"]
        cols = []
        for f in df.schema.fields:
            if isinstance(f.dataType, DecimalType):
                money[f.name] = (f.dataType.precision, f.dataType.scale)
                cols.append(f.name)
            elif isinstance(f.dataType, DoubleType):
                doubles.append(f.name)
        if cols:
            sums = df.selectExpr(*(f"SUM({c}) AS {c}" for c in cols)).schema
            assert {(f.dataType.precision, f.dataType.scale)
                    for f in sums.fields} <= {(p, 2) for p in range(11, 19)}
    assert len(money) == 49
    assert all(s == 2 and p <= 8 for p, s in money.values()), money
    assert sorted(doubles) == sorted(
        f"{p}_{q}quantity" for p, q in (("ss", ""), ("ws", ""), ("cs", ""),
                                        ("sr", "return_"), ("wr", "return_"),
                                        ("cr", "return_")))


def test_decimal_money_sum_overflow_raises(spark):
    """The 100 TB bound of a star money sum.  A DECIMAL(8,2) column sums
    to DECIMAL(18,2): a group of 10,000,000,100 rows at the type's maximum
    (999,999.99) is still exact, and one row more overflows, which under
    ANSI (Spark's default, and the test session's) raises rather than
    returning NULL.  Two ranges of 10^10 rows, seconds on 4 cores."""
    from decimal import Decimal

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    top = 99999999  # 999,999.99 in cents
    n = (10**18 - 1) // top
    assert n == 10_000_000_100

    def group_sum(rows):
        return spark.sql(
            "SELECT SUM(x) AS s FROM (SELECT CAST(999999.99 AS DECIMAL(8,2))"
            f" AS x FROM range({rows}))").collect()[0].s

    assert group_sum(n) == Decimal(n * top).scaleb(-2)
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        group_sum(n + 1)


def test_scratch_keeps_only_latest_invocation(spark):
    """The only scratch an entry leaves is the stored star: once an SF's
    star is stored, re-invoking entries never rewrites it and leaves no
    temp directory beside it."""
    import datafusion_spark.queries.tpcds_exec as tx

    star = tx._star_dir(SF_SMALL)

    def listing():
        root = os.path.dirname(star)
        return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
                for d, _, files in os.walk(root) for f in files}

    QUERIES["tpcds_q14"](spark, SF_SMALL).collect()
    stored = listing()
    assert sorted(os.listdir(star)) == sorted(tx._STAR)
    assert not [d for d in os.listdir(os.path.dirname(star)) if ".tmp" in d]
    QUERIES["tpcds_q74"](spark, SF_SMALL).collect()
    QUERIES["tpcds_q14"](spark, SF_SMALL).collect()
    assert listing() == stored


def test_scratch_lazy_and_removed_at_exit(tmp_path):
    """Importing the registry creates no star, and a process that imports
    it leaves nothing in the temp directory once it exits."""
    import datafusion_spark.queries.tpcds_exec as tx

    star = os.path.dirname(os.path.dirname(tx._star_dir(SF_SMALL)))

    def listing():
        return sorted(os.path.join(d, x) for d, dirs, files in os.walk(star)
                      for x in dirs + files)

    before = listing()
    code = ("import datafusion_spark.queries\n"
            "from datafusion_spark.queries import tpcds_exec\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True,
                   env=dict(os.environ, TMPDIR=str(tmp_path)))
    assert not list(tmp_path.iterdir())
    assert listing() == before


def test_star_key_follows_sources_and_derive(tmp_path, monkeypatch):
    """The star's directory key changes with any source table's mtime_ns
    and with the derive text, and with nothing else."""
    import datafusion_spark.queries.tpcds_exec as tx

    sf = tmp_path / "sf0.001"
    sf.mkdir()
    for t in tx._STAR_SOURCES + ("region",):
        shutil.copy(os.path.join(SF_SMALL, f"{t}.parquet"), sf)
    key = tx._star_dir(str(sf))
    assert os.path.basename(os.path.dirname(key)) == "sf0.001"
    assert tx._star_dir(str(sf)) == key
    os.utime(sf / "region.parquet", ns=(1, 1))  # not a source: same key
    assert tx._star_dir(str(sf)) == key
    keys = {key}
    for t in tx._STAR_SOURCES:
        st = os.stat(sf / f"{t}.parquet")
        os.utime(sf / f"{t}.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
        keys.add(tx._star_dir(str(sf)))
    monkeypatch.setattr(tx, "_SPARK_DERIVE", tx._SPARK_DERIVE + " ")
    keys.add(tx._star_dir(str(sf)))
    assert len(keys) == len(tx._STAR_SOURCES) + 2


def test_star_half_written_never_reused(spark, tmp_path, monkeypatch):
    """A star whose build fails part-way leaves no directory behind that a
    later call would read; the next call builds it whole, and builds it
    again once the stored directory is deleted."""
    import datafusion_spark.queries.tpcds_exec as tx

    monkeypatch.setattr(tx, "repo_root", lambda: str(tmp_path))
    good = tx._CTES[:2]
    broken = good + [("bad", "bad AS (SELECT * FROM no_such_table)")]
    monkeypatch.setattr(tx, "_CTES", broken)
    monkeypatch.setattr(tx, "_STAR", tuple(n for n, _ in broken))
    dest = tx._star_dir(SF_SMALL)
    with pytest.raises(Exception, match="no_such_table"):
        tx._ensure_star(spark, SF_SMALL)
    assert os.listdir(os.path.dirname(dest)) == []
    monkeypatch.setattr(tx, "_CTES", good)
    monkeypatch.setattr(tx, "_STAR", tuple(n for n, _ in good))
    tx._ensure_star(spark, SF_SMALL)
    assert os.listdir(os.path.dirname(dest)) == [os.path.basename(dest)]
    assert sorted(os.listdir(dest)) == sorted(n for n, _ in good)
    name, text = good[1]
    assert spark.table(f"tpcds_{name}").count() == spark.sql(
        text[text.index("(") + 1:-1]).count()
    # deleting the stored star makes the next call in this process rebuild it
    shutil.rmtree(dest)
    tx._ensure_star(spark, SF_SMALL)
    assert sorted(os.listdir(dest)) == sorted(n for n, _ in good)


def test_returns_views_never_broadcast(spark):
    """The returns tables are read through views under their own names that
    carry Spark's no-broadcast join hint: at SF_SMALL, where every table
    fits under the broadcast threshold, q40's catalog_sales LEFT JOIN
    catalog_returns is still a shuffle join.  The views are registered
    again on every call, so a tpcds_* entry run after tpcds_planning's
    empty same-named schemas still reads the stored rows."""
    from datafusion_spark.plans import plan_nodes
    from datafusion_spark.queries.tpcds_planning import register_tpcds_schema

    df = QUERIES["tpcds_q40"](spark, SF_SMALL)
    joins = [(cls, n.toString().splitlines()[0]) for cls, n in
             plan_nodes(df._jdf.queryExecution().sparkPlan()) if "Join" in cls]
    assert [cls for cls, line in joins if "cr_order_number" in line] == [
        "SortMergeJoinExec"], joins
    rows = Counter(map(repr, QUERIES["tpcds_q1"](spark, SF_SMALL).collect()))
    assert rows
    register_tpcds_schema(spark)
    assert spark.table("store_returns").count() == 0
    again = Counter(map(repr, QUERIES["tpcds_q1"](spark, SF_SMALL).collect()))
    assert again == rows
    assert spark.table("store_returns").count() == spark.table(
        "tpcds_store_returns").count() > 0


def test_tpch_customer_after_tpcds_matches_oracle(spark):
    """The star's alias CTEs shadow the TPC-H names inside one statement
    only: a tpch_* entry reading customer, run right after a tpcds_* entry
    reading the TPC-DS customer at the same SF, returns its oracle's rows,
    as in a fresh session."""
    from tools.oracle_check import duck_connection, run_entry

    con = duck_connection(SF_ORACLE)
    try:
        assert run_entry(spark, con, "tpcds_q84", SF_ORACLE)[0] == "pass"
        status, detail = run_entry(spark, con, "tpch_q10", SF_ORACLE)
    finally:
        con.close()
    assert status == "pass", detail


def test_tpcds_entry_at_two_sfs_matches_oracle(spark):
    """One process runs an entry at one SF, then at another: each run reads
    its own SF's star and returns that SF's oracle rows."""
    from tools.oracle_check import duck_connection, run_entry

    for sf in (SF_SMALL, SF_ORACLE, SF_SMALL):
        con = duck_connection(sf)
        try:
            status, detail = run_entry(spark, con, "tpcds_q74", sf)
        finally:
            con.close()
        assert status == "pass", (sf, detail)


