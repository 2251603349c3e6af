"""DuckDB-oracle parity at sf0.01 — the same comparison the driver runs.

The full sweep is tools/oracle_check.py; here a representative subset
keeps the pytest loop fast while still covering every module family.
"""

from __future__ import annotations

import os

import pytest

from datafusion_spark.queries import ORACLES, QUERIES
from tests.conftest import SF_ORACLE, SF_SMALL
from tools.oracle_check import compare, duck_connection

SUBSET = [
    "tpch_q1",
    "tpch_q5",
    "tpch_q12",
    "tpch_q13",
    "tpch_q17",
    "tpch_q21",
    "join_full_outer",
    "agg_rollup",
    "window_topk_per_group",
    "fn_string_basic",
    "agg_median_percentiles",
    "nested_lambda_fold",
    "events_sessionization",
    "events_asof_join",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "similarity_cosine_topk",
    "similarity_ivf_assign",
    "text_quality_score",
    "source_csv_roundtrip",
    # round-2 families
    "cb_q13",
    "cb_q29",
    "cb_q42",
    "cbx_q05",
    "cbx_q09",
    "job_1a",
    "job_7a",
    "job_15a",
    "h2o_window_whole_table",
    "h2o_window_global_ordered",
    "sort_pushdown_topk_desc",
    "recursive_sql_tree_depth",
    "agg_approx_median",
    "agg_first_last_ordered",
]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_match(spark, duck, name):
    spark_pdf = QUERIES[name](spark, SF_ORACLE).toPandas()
    duck_pdf = duck.execute(ORACLES[name]).df()
    problems = [p for p in compare(name, spark_pdf, duck_pdf) if "(warn)" not in p]
    assert not problems, problems


def test_tpcds_q65_matches_oracle_at_sf0_1(spark):
    """q65's ORDER BY must be a total order: at sf0.1 its 100th row's
    (s_store_name, i_item_desc) key is shared by 5 rows, so without a
    unique tiebreak each engine keeps a different one of them."""
    sf = os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")
    con = duck_connection(sf)
    try:
        duck_pdf = con.execute(ORACLES["tpcds_q65"]).df()
    finally:
        con.close()
    spark_pdf = QUERIES["tpcds_q65"](spark, sf).toPandas()
    problems = [p for p in compare("tpcds_q65", spark_pdf, duck_pdf)
                if "(warn)" not in p]
    assert not problems, problems


def _ts(day: str):
    from datetime import datetime

    return datetime.fromisoformat(day)


def _li(orderkey: int, shipdate: str, flag: str = "N") -> dict:
    return {"l_orderkey": orderkey, "l_partkey": 1, "l_suppkey": 1,
            "l_linenumber": 1, "l_quantity": 1.0, "l_extendedprice": 10.0,
            "l_discount": 0.0, "l_tax": 0.0, "l_returnflag": flag,
            "l_linestatus": "O", "l_shipdate": _ts(shipdate)}


def _order(orderkey, custkey, priority, day: str = "1996-01-01") -> dict:
    return {"o_orderkey": orderkey, "o_custkey": custkey,
            "o_orderstatus": "O", "o_totalprice": 1.0,
            "o_orderdate": _ts(day), "o_orderpriority": priority}


def _customer(custkey) -> dict:
    return {"c_custkey": custkey, "c_name": "c", "c_nationkey": 0,
            "c_acctbal": 0.0, "c_mktsegment": "BUILDING"}


# Tiny tables at the edges the rewritten plans must keep: per entry, the
# rows of each table it reads (every other table is written empty).
DEGENERATE = {
    # Duplicate and NULL c_custkey (several join rows per customer group:
    # the per-customer merge must add them), a NULL o_orderpriority and a
    # NULL o_orderkey (neither counts), an order of an unknown customer and
    # one with a NULL o_custkey (match nobody).
    "tpch_q13": {
        "customer": [_customer(k) for k in (1, 1, None, None, 2, 3, 4)],
        "orders": [
            _order(10, 1, "1-URGENT"), _order(11, 1, "5-LOW"),
            _order(12, 2, None), _order(None, 2, "2-HIGH"),
            _order(13, 2, "3-MEDIUM"), _order(14, 3, "1-URGENT"),
            _order(15, 99, "1-URGENT"), _order(16, None, "2-HIGH"),
        ],
    },
    # The official q13 over the derived o_comment: order keys 7, 8 and 15
    # carry comments matching '%special%requests%' (not counted), the rest
    # do not.  Duplicate and NULL c_custkey, an order with a NULL o_custkey
    # and one of an unknown customer, as for tpch_q13.
    "tpch_official_q13": {
        "customer": [_customer(k) for k in (1, 1, None, None, 2, 3, 4)],
        "orders": [
            _order(10, 1, "1-URGENT"), _order(7, 1, "1-URGENT"),
            _order(11, 2, "2-HIGH"), _order(8, 2, "2-HIGH"),
            _order(12, 2, "3-MEDIUM"), _order(13, 3, "1-URGENT"),
            _order(14, 99, "1-URGENT"), _order(15, None, "2-HIGH"),
        ],
    },
    # l_shipdate < 1998-01-01 and l_shipdate >= o_orderdate + 30 days:
    # only orders dated before 1997-12-02 can qualify, and 1997-12-01
    # qualifies exactly (its 1997-12-31 line ships on day 30).
    "tpch_q12": {
        "orders": [
            _order(1, 1, "1-URGENT", "1997-12-01"),
            _order(2, 1, "2-HIGH", "1997-12-02"),
            _order(3, 1, "1-URGENT", "1997-12-03"),
            _order(4, 1, "5-LOW", "1997-12-01"),
            _order(5, 1, None, "1997-12-01"),
        ],
        "lineitem": [
            _li(k, day, flag)
            for k in (1, 2, 3, 4, 5)
            for day, flag in (("1997-12-31", "N"), ("1998-01-01", "R"))
        ],
    },
}


@pytest.mark.parametrize("name", sorted(DEGENERATE))
def test_degenerate_keys_match_oracle(spark, tmp_path, monkeypatch, name):
    """Boundary rows and degenerate join/group keys, written as parquet with
    the schemas of the SF_SMALL tables, return what the oracle returns.
    Official-track overlays are derived under tmp_path, not the checkout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_spark.catalog import TABLES
    from datafusion_spark.queries import tpch_official

    monkeypatch.setattr(tpch_official, "repo_root", lambda: str(tmp_path))

    for t in TABLES:
        schema = pq.read_schema(f"{SF_SMALL}/{t}.parquet").remove_metadata()
        rows = DEGENERATE[name].get(t, [])
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       tmp_path / f"{t}.parquet")
    con = duck_connection(str(tmp_path))
    try:
        duck_pdf = con.execute(ORACLES[name]).df()
    finally:
        con.close()
    assert len(duck_pdf), f"{name}: the oracle returns no rows on these inputs"
    spark_pdf = QUERIES[name](spark, str(tmp_path)).toPandas()
    problems = [p for p in compare(name, spark_pdf, duck_pdf) if "(warn)" not in p]
    assert not problems, problems
