"""The cached-statement runner (registry.statement): a kept analyzed plan is
reused only for the same text over the very same DataFrames under the same
session and conf map, and a reused plan returns what a fresh analysis
returns."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest

from datafusion_spark import catalog
from datafusion_spark.plans import audit
from datafusion_spark.queries import QUERIES
from datafusion_spark.queries.registry import STATEMENT_CALLS, statement
from tests.conftest import SF_ORACLE, SF_SMALL
from tools.measure import gateway_commands

# A conf key whose value changes the session's conf map, so the cache
# starts over: each test below sees its first call analyze afresh.
_FRESH = "spark.dfspark.test.fresh_statements"


@pytest.fixture
def fresh(spark, request):
    spark.conf.set(_FRESH, request.node.name)
    yield
    spark.conf.unset(_FRESH)


def _rows(df) -> Counter:
    return Counter(map(repr, df.collect()))


def _calls(fn):
    """(result of fn(), the statement outcomes it counted)."""
    before = Counter(STATEMENT_CALLS)
    out = fn()
    return out, STATEMENT_CALLS - before


def _orders(spark, sf):
    return {"orders": catalog.load_table(spark, sf, "orders")}


def test_rebinding_a_view_reanalyzes(spark, fresh):
    """The same text over another DataFrame under the same view name (orders
    of another SF) analyzes afresh and returns that DataFrame's rows; going
    back reuses the first plan only if its DataFrame is the one bound."""
    text = "SELECT COUNT(*) AS n, MAX(o_orderkey) AS k FROM orders"
    want = {sf: catalog.load_table(spark, sf, "orders").selectExpr(
        "COUNT(*) AS n", "MAX(o_orderkey) AS k").collect() for sf in (SF_SMALL, SF_ORACLE)}
    assert want[SF_SMALL] != want[SF_ORACLE]
    for sf, outcome in ((SF_SMALL, "miss"), (SF_SMALL, "hit"), (SF_ORACLE, "miss"),
                        (SF_ORACLE, "hit"), (SF_SMALL, "miss")):
        got, calls = _calls(lambda: statement(spark, text, _orders(spark, sf)).collect())
        assert got == want[sf], sf
        assert calls == Counter({outcome: 1}), (sf, calls)
    assert spark.table("orders").count() == want[SF_SMALL][0].n


def test_rewritten_table_file_reanalyzes(spark, fresh, tmp_path):
    """A table file rewritten in place (new mtime_ns) is a new DataFrame
    from the catalog, so the statement over it analyzes afresh and reads
    the new file."""
    sf = tmp_path / f"stmt{os.getpid()}"
    sf.mkdir()
    dest = sf / "orders.parquet"
    shutil.copyfile(catalog.table_path(SF_SMALL, "orders"), dest)
    text = "SELECT COUNT(*) AS n FROM orders"
    first = statement(spark, text, _orders(spark, str(sf))).collect()[0].n
    assert statement(spark, text, _orders(spark, str(sf))).collect()[0].n == first
    mtime = os.stat(dest).st_mtime_ns
    shutil.copyfile(catalog.table_path(SF_ORACLE, "orders"), dest)
    os.utime(dest, ns=(mtime + 10**9, mtime + 10**9))
    got, calls = _calls(lambda: statement(spark, text, _orders(spark, str(sf))).collect()[0].n)
    assert calls == Counter({"miss": 1})
    assert got == catalog.load_table(spark, SF_ORACLE, "orders").count() != first


def test_conf_changes_start_over(spark, fresh):
    """The session time zone and ANSI mode are resolved at analysis: after
    either changes, the statement analyzes afresh under the new value, and
    again when it is set back."""
    tz, ansi = "spark.sql.session.timeZone", "spark.sql.ansi.enabled"
    saved = {k: spark.conf.get(k, None) for k in (tz, ansi)}
    views = _orders(spark, SF_SMALL)
    clock = "SELECT CAST(TIMESTAMP_SECONDS(MIN(o_orderkey)) AS STRING) AS s FROM orders"
    cast = "SELECT CAST(MIN(o_orderpriority) AS INT) AS v FROM orders"
    try:
        spark.conf.set(tz, "UTC")
        spark.conf.set(ansi, "false")
        utc = statement(spark, clock, views).collect()[0].s
        assert statement(spark, clock, views).collect()[0].s == utc
        assert statement(spark, cast, views).collect()[0].v is None
        spark.conf.set(tz, "America/Los_Angeles")
        assert statement(spark, clock, views).collect()[0].s != utc
        spark.conf.set(tz, "UTC")
        assert statement(spark, clock, views).collect()[0].s == utc
        spark.conf.set(ansi, "true")
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            statement(spark, cast, views).collect()
        spark.conf.set(ansi, "false")
        assert statement(spark, cast, views).collect()[0].v is None
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_nondeterministic_plans_are_not_kept(spark, fresh):
    """``rand()`` takes its seed at analysis, so its plan is never kept:
    two calls give two values."""
    text = "SELECT rand() AS r"
    (a, b), calls = _calls(lambda: [statement(spark, text, {}).collect()[0].r
                                    for _ in range(2)])
    assert a != b
    assert calls == Counter({"uncached": 2})


def test_temp_functions_and_catalog_relations_are_not_kept(spark, fresh):
    """A plan that calls a temporary function, reads a view it was not
    given, or reads a path relation is analyzed on every call."""
    spark.udf.register("stmt_plus_one", lambda x: x + 1, "long")
    spark.range(3).createOrReplaceTempView("stmt_unlisted")
    path = catalog.table_path(SF_SMALL, "region")
    texts = ["SELECT stmt_plus_one(MIN(o_orderkey)) AS v FROM orders",
             "SELECT COUNT(*) AS n FROM orders, stmt_unlisted",
             f"SELECT COUNT(*) AS n FROM orders, parquet.`{path}`"]
    try:
        for text in texts:
            _, calls = _calls(lambda: [statement(spark, text, _orders(spark, SF_SMALL)).collect()
                                       for _ in range(2)])
            assert calls == Counter({"uncached": 2}), text
        # inline tables, ranges and the text's own CTEs are kept
        own = ("WITH o AS (SELECT * FROM orders) SELECT COUNT(*) AS n FROM o"
               " JOIN (VALUES (1)) v(x) ON o.o_orderkey >= v.x"
               " WHERE o.o_orderkey IN (SELECT id FROM range(100))")
        _, calls = _calls(lambda: [statement(spark, own, _orders(spark, SF_SMALL)).collect()
                                   for _ in range(2)])
        assert calls == Counter({"miss": 1, "hit": 1})
    finally:
        spark.catalog.dropTempView("stmt_unlisted")
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS stmt_plus_one")


def test_short_tree_keeps_the_verdict(spark):
    """_keepable reads the analyzed tree printed with one field per list;
    the verdict of _reads_only is the one the full tree gives, for kept
    texts, a path relation, a view not given, and a TPC-DS entry."""
    from datafusion_spark.queries import tpcds_exec
    from datafusion_spark.queries.registry import _reads_only

    spark.range(3).createOrReplaceTempView("stmt_unlisted")
    path = catalog.table_path(SF_SMALL, "region")
    views = _orders(spark, SF_SMALL)
    catalog.bind_views(spark, views)
    texts = {"SELECT COUNT(*) AS n FROM orders": True,
             "WITH o AS (SELECT * FROM orders) SELECT COUNT(*) AS n FROM o"
             " JOIN (VALUES (1)) v(x) ON o.o_orderkey >= v.x"
             " WHERE o.o_orderkey IN (SELECT id FROM range(100))": True,
             "SELECT COUNT(*) AS n FROM orders, stmt_unlisted": False,
             f"SELECT COUNT(*) AS n FROM orders, parquet.`{path}`": False}
    try:
        for text, keep in texts.items():
            analyzed = spark.sql(text)._jdf.queryExecution().analyzed()
            full, short = (analyzed.treeString(),
                           analyzed.treeString(False, False, 1, False, False))
            assert _reads_only(full, views) == _reads_only(short, views) == keep, text
        analyzed = QUERIES["tpcds_q49"](spark, SF_SMALL)._jdf.queryExecution().analyzed()
        full, short = (analyzed.treeString(),
                       analyzed.treeString(False, False, 1, False, False))
        names = {n.lower() for n in tpcds_exec._ensure_star(spark, SF_SMALL)}
        for given, keep in ((names, True), (names - {"web_returns"}, False)):
            assert _reads_only(full, given) == _reads_only(short, given) == keep
    finally:
        spark.catalog.dropTempView("stmt_unlisted")


def test_tpch_entry_at_two_sfs_matches_oracle(spark, fresh):
    """One process runs tpch_q3 at SF_SMALL, then SF_ORACLE, then SF_SMALL
    again and gets each SF's oracle rows."""
    from tools.oracle_check import duck_connection, run_entry

    for sf in (SF_SMALL, SF_ORACLE, SF_SMALL):
        con = duck_connection(sf)
        try:
            status, detail = run_entry(spark, con, "tpch_q3", sf)
        finally:
            con.close()
        assert status == "pass", (sf, detail)


def test_cached_tpch_build_sends_few_gateway_commands(spark):
    """A tpch_* build whose analyzed plan is kept sends at most 7 Py4J
    commands (5 measured: the conf map read and compare for the table
    loads and again for the statement, and the Dataset over the kept
    plan)."""
    calls = {}
    for name in [n for n in QUERIES if n.startswith("tpch_")]:
        QUERIES[name](spark, SF_SMALL)
        with gateway_commands() as sent:
            _, outcome = _calls(lambda: QUERIES[name](spark, SF_SMALL))
        assert outcome == Counter({"hit": 1}), name
        calls[name] = sent[0]
    assert len(calls) >= 22
    assert max(calls.values()) <= 7, calls


_SWEPT = (
    [n for n in QUERIES if n.startswith("tpch_q")]
    + ["tpch_official_q2", "tpch_official_q4", "tpch_official_q8",
       "tpch_official_q13", "tpch_official_q22",
       "tpcds_q3", "tpcds_q42", "tpcds_q40", "tpcds_q64", "tpcds_q96",
       "cb_q00", "cb_q03", "cb_q14", "cb_q19", "cb_q31",
       "cbx_q00", "cbx_q03", "cbx_q05", "cbx_q06", "cbx_q12",
       "job_1a", "job_7a", "job_9a", "job_10c", "job_22b"]
)


@pytest.mark.parametrize("name", _SWEPT)
def test_cached_equals_uncached(spark, fresh, name):
    """The second call of an entry reuses the first call's analyzed plan and
    returns the same rows with the same physical operator counts."""
    first, calls = _calls(lambda: QUERIES[name](spark, SF_SMALL))
    assert calls == Counter({"miss": 1}), name
    rows, counts = _rows(first), audit.operator_counts(first)
    second, calls = _calls(lambda: QUERIES[name](spark, SF_SMALL))
    assert calls == Counter({"hit": 1}), name
    assert _rows(second) == rows
    assert audit.operator_counts(second) == counts
