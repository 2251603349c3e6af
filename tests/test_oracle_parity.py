"""DuckDB-oracle parity at sf0.01 — the same comparison the driver runs.

The full sweep is tools/oracle_check.py; here a representative subset
keeps the pytest loop fast while still covering every module family.
"""

from __future__ import annotations

import os

import pytest

from datafusion_spark.queries import ORACLES, QUERIES
from tests.conftest import SF_ORACLE
from tools.oracle_check import compare, duck_connection

SUBSET = [
    "tpch_q1",
    "tpch_q5",
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
