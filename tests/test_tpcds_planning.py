"""TPC-DS planning parity (mirrors datafusion/core/tests/tpcds_planning.rs):
the 24-table reference schema as empty temp views, every one of the 99
queries must plan through analysis, optimization and physical planning.
The reference's own test never executes TPC-DS — planning IS the contract.
"""

from __future__ import annotations

import pytest

from datafusion_spark.queries.tpcds_planning import (
    TPCDS_TABLE_SCHEMAS,
    _load_sql,
    plan_tpcds_query,
    register_tpcds_schema,
)


@pytest.fixture(scope="module")
def tpcds_spark(spark):
    register_tpcds_schema(spark)
    return spark


def test_schema_shape(tpcds_spark):
    assert len(TPCDS_TABLE_SCHEMAS) == 24
    n_cols = sum(
        tpcds_spark.table(t).schema.fieldNames().__len__()
        for t in TPCDS_TABLE_SCHEMAS
    )
    assert n_cols == 425  # field-for-field with test-utils/src/tpcds.rs


@pytest.mark.parametrize("qid", range(1, 100))
def test_tpcds_plans(tpcds_spark, qid):
    expected = 2 if qid in (14, 23, 24, 39) else 1
    assert len(_load_sql(qid)) == expected
    assert plan_tpcds_query(tpcds_spark, qid) == expected


def test_schema_shadow_invalidates_view_state(spark):
    """register_tpcds_schema shadows `customer` (the one name shared with
    the TPC-H base tables) with an EMPTY TPC-DS-schema view.  The session
    view-state cache must be invalidated so the next register_views()
    actually re-registers — otherwise any spark.sql entry touching
    customer resolves c_customer_sk instead of c_custkey (r8 full-sweep
    find: tpch_official_q10 FAILed after tpcds_planning_sweep in the
    same session)."""
    from datafusion_spark import catalog
    from datafusion_spark.catalog import register_views

    from tests.conftest import SF_SMALL

    register_views(spark, SF_SMALL)
    assert "c_custkey" in spark.table("customer").columns
    register_tpcds_schema(spark)
    assert "c_customer_sk" in spark.table("customer").columns  # shadowed
    assert catalog.app_id(spark) not in catalog._VIEW_STATE  # binder knows it's dirty
    register_views(spark, SF_SMALL)  # must NOT be a cache no-op
    assert "c_custkey" in spark.table("customer").columns
