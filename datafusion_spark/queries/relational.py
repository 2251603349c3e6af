"""Core relational operators: join types, set operations, distinct,
grouping sets/rollup/cube, sort/limit/offset, pivot/unpivot, subqueries.

Reference parity: DataFusion's physical plan operators (reference:
datafusion/physical-plan/src/joins/*, union.rs, limit.rs, sorts/,
aggregates/) and its SQL surface (datafusion/sqllogictest/test_files/
joins.slt, union.slt, aggregate.slt, window.slt).  Spark-first: every
entry is DataFrame API (grouping sets via spark.sql, the one construct
the DataFrame API lacks pre-4.0 groupingSets).

Scale notes are per-entry; the common rules: dimension sides broadcast,
aggregations are partial map-side, and ORDER BY ... LIMIT plans as
TakeOrderedAndProject (per-partition top-k, no global sort shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_spark.catalog import load_table
from datafusion_spark.queries.helpers import DEC
from datafusion_spark.queries.registry import query
from datafusion_spark.queries.helpers import values_df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- join types ------------------------------------------------------------


@query(
    "join_inner",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("relational", "join"),
)
def join_inner(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("total_acctbal"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT s_suppkey, s_name, COUNT(l_orderkey) AS n_lines
    FROM supplier
    LEFT JOIN lineitem ON s_suppkey = l_suppkey
      AND l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
    GROUP BY s_suppkey, s_name
    """,
    tags=("relational", "join"),
)
def join_left_outer(spark, sf_dir):
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
    return (
        supp.join(li, F.col("s_suppkey") == F.col("l_suppkey"), "left")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT n_name, COUNT(s_suppkey) AS n_suppliers
    FROM supplier
    RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("relational", "join"),
)
def join_right_outer(spark, sf_dir):
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        supp.join(nat, F.col("s_nationkey") == F.col("n_nationkey"), "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@query(
    "join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(c.k, s.k) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.k = s.k
    """,
    tags=("relational", "join"),
)
def join_full_outer(spark, sf_dir):
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cust.join(supp, F.col("ck") == F.col("sk"), "full").select(
        F.coalesce("ck", "sk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "join_cross",
    oracle="""
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_name < r2.r_name
    """,
    tags=("relational", "join"),
)
def join_cross(spark, sf_dir):
    reg = _t(spark, sf_dir, "region")
    r1 = reg.select(F.col("r_name").alias("from_region"))
    r2 = reg.select(F.col("r_name").alias("to_region"))
    return r1.crossJoin(r2).filter(F.col("from_region") < F.col("to_region"))


@query(
    "join_semi",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
    GROUP BY p_brand
    """,
    tags=("relational", "join"),
)
def join_semi(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@query(
    "join_anti",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    GROUP BY p_brand
    """,
    tags=("relational", "join"),
)
def join_anti(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45).select("l_partkey")
    return (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# --- set operations --------------------------------------------------------


@query(
    "setop_union_all",
    oracle="""
    SELECT k FROM (
      SELECT c_nationkey AS k FROM customer
      UNION ALL
      SELECT s_nationkey AS k FROM supplier
    ) u
    GROUP BY k HAVING COUNT(*) > 1 ORDER BY k
    """,
    tags=("relational", "setop"),
)
def setop_union_all(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return (
        c.unionAll(s).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1).select("k").orderBy("k")
    )


@query(
    "setop_union_distinct",
    oracle="""
    SELECT c_mktsegment AS segment FROM customer
    UNION
    SELECT o_orderpriority AS segment FROM orders
    """,
    tags=("relational", "setop"),
)
def setop_union_distinct(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("segment"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderpriority").alias("segment"))
    return c.union(o).distinct()


@query(
    "setop_intersect",
    oracle="""
    SELECT c_nationkey AS k FROM customer
    INTERSECT
    SELECT s_nationkey AS k FROM supplier
    """,
    tags=("relational", "setop"),
)
def setop_intersect(spark, sf_dir):
    """INTERSECT distinct semantics (reference sqllogictest
    intersection.slt, union.slt INTERSECT blocks)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s)


@query(
    "setop_except",
    oracle="""
    SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 8000
    """,
    tags=("relational", "setop"),
)
def setop_except(spark, sf_dir):
    n = (_t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
         .select(F.col("c_nationkey").alias("k")).distinct())
    s = (_t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 8000)
         .select(F.col("s_nationkey").alias("k")))
    return n.exceptAll(s).distinct()


# --- distinct / sort / limit ----------------------------------------------


@query(
    "distinct_multi_col",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("relational", "distinct"),
)
def distinct_multi_col(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "sort_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15 OFFSET 10
    """,
    tags=("relational", "sort"),
)
def sort_limit_offset(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(10)
        .limit(15)
    )


@query(
    "sort_nulls_ordering",
    oracle="""
    WITH j AS (
      SELECT s_suppkey, s_name, MAX(l_shipdate) AS last_ship
      FROM supplier
      LEFT JOIN lineitem ON s_suppkey = l_suppkey
        AND l_shipdate >= TIMESTAMP '2001-10-01 00:00:00'
      GROUP BY s_suppkey, s_name
    )
    SELECT s_suppkey, s_name, last_ship
    FROM j
    ORDER BY last_ship DESC NULLS LAST, s_suppkey
    LIMIT 20
    """,
    tags=("relational", "sort"),
)
def sort_nulls_ordering(spark, sf_dir):
    # Explicit NULLS LAST: Spark's default (nulls first on ASC) differs from
    # DuckDB/Postgres (nulls last) — DataFusion makes this explicit too
    # (reference: datafusion/physical-expr-common/src/sort_expr.rs).
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-10-01").cast("timestamp")
    )
    return (
        supp.join(li, F.col("s_suppkey") == F.col("l_suppkey"), "left")
        .groupBy("s_suppkey", "s_name")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .orderBy(F.col("last_ship").desc_nulls_last(), "s_suppkey")
        .limit(20)
    )


# --- grouping sets / rollup / cube ----------------------------------------


@query(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name, COUNT(c_custkey) AS n_cust,
           CAST(GROUPING(r_name) AS BIGINT) AS g_region,
           CAST(GROUPING(n_name) AS BIGINT) AS g_nation
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("relational", "grouping"),
)
def agg_rollup(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count("c_custkey").alias("n_cust"),
            F.grouping("r_name").cast("long").alias("g_region"),
            F.grouping("n_name").cast("long").alias("g_nation"),
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("relational", "grouping"),
)
def agg_cube(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
    tags=("relational", "grouping"),
)
def agg_grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


# --- pivot / unpivot -------------------------------------------------------


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
           CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
           CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("relational", "pivot"),
)
def pivot_status_by_priority(spark, sf_dir):
    # Explicit value list → no extra pass to discover pivot values (matters
    # at scale: the implicit form runs a distinct over the fact table).
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, m.measure, m.value
    FROM part,
         LATERAL (VALUES ('retailprice', p_retailprice),
                         ('size', CAST(p_size AS DOUBLE))) AS m(measure, value)
    WHERE p_partkey < 100
    """,
    tags=("relational", "unpivot"),
)
def unpivot_part_measures(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 100)
        .select("p_partkey", F.col("p_retailprice").alias("retailprice"),
                F.col("p_size").cast("double").alias("size"))
        .unpivot("p_partkey", ["retailprice", "size"], "measure", "value")
    )


# --- subqueries ------------------------------------------------------------


@query(
    "subquery_scalar_uncorrelated",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.9 * (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*) FROM orders)
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    tags=("relational", "subquery"),
)
def subquery_scalar_uncorrelated(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    avg_price = orders.agg(
        (F.sum(F.col("o_totalprice").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("ap")
    )
    return (
        orders.join(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > 1.9 * F.col("ap"))
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
    )


@query(
    "subquery_exists_correlated",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal * 100)
    ORDER BY c_custkey
    LIMIT 50
    """,
    tags=("relational", "subquery"),
)
def subquery_exists_correlated(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(
            orders,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_totalprice") > F.col("c_acctbal") * 100),
            "left_semi",
        )
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
        .limit(50)
    )


@query(
    "case_when_bucketing",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 200000 THEN 'medium'
                ELSE 'large' END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY bucket
    """,
    tags=("relational", "case"),
)
def case_when_bucketing(spark, sf_dir):
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
    )


@query(
    "values_inline",
    oracle="""
    SELECT v.region_code, r.r_name
    FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA')) AS v(region_code, region)
    JOIN region r ON v.region = r.r_name
    """,
    tags=("relational", "values"),
)
def values_inline(spark, sf_dir):
    vals = values_df(
        spark, [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")],
        "region_code int, region string"
    )
    reg = _t(spark, sf_dir, "region")
    return vals.join(F.broadcast(reg), F.col("region") == F.col("r_name")).select(
        "region_code", "r_name"
    )


@query(
    "setop_intersect_all",
    oracle="""
    SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("relational", "setop"),
)
def setop_intersect_all(spark, sf_dir):
    """Multiset INTERSECT ALL (min of per-side multiplicities) — Spark
    intersectAll ⇔ DuckDB INTERSECT ALL."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_orderpriority").alias("p"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_orderpriority").alias("p"))
    return a.intersectAll(b)


@query(
    "setop_except_all",
    oracle="""
    SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'P'
    """,
    tags=("relational", "setop"),
)
def setop_except_all(spark, sf_dir):
    """Multiset EXCEPT ALL (multiplicity subtraction)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_orderpriority").alias("p"))
    b = o.filter(F.col("o_orderstatus") == "P").select(F.col("o_orderpriority").alias("p"))
    return a.exceptAll(b)


@query(
    "join_range_nonequi",
    oracle="""
    WITH bands(band_name, lo, hi) AS (
      VALUES ('low', 0.0, 2000.0), ('mid', 2000.0, 6000.0), ('high', 6000.0, 10000.0)
    )
    SELECT band_name, COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
    FROM customer JOIN bands
      ON c_acctbal >= lo AND c_acctbal < hi
    GROUP BY band_name
    """,
    tags=("relational", "join", "range"),
)
def join_range_nonequi(spark, sf_dir):
    """Pure non-equi (range/interval) join — DataFusion plans this as a
    nested-loop join (physical-plan/src/joins/nested_loop_join.rs); Spark's
    scale answer is BroadcastNestedLoopJoin: the tiny band table broadcasts,
    so the big side is never shuffled and the 'loop' is a per-row band
    probe.  Never range-join two big tables directly — bucket one side
    first."""
    c = load_table(spark, sf_dir, "customer")
    bands = values_df(
        spark,
        [("low", 0.0, 2000.0), ("mid", 2000.0, 6000.0), ("high", 6000.0, 10000.0)],
        "band_name string, lo double, hi double",
    )
    return (
        c.join(
            F.broadcast(bands),
            (F.col("c_acctbal") >= F.col("lo")) & (F.col("c_acctbal") < F.col("hi")),
        )
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double").alias("total_bal"),
        )
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("relational", "join", "skew"),
)
def join_skew_salted(spark, sf_dir):
    """Salted join (operators/salting.py): results identical to the plain
    join — the oracle IS the unsalted query — while the big side's key
    space is spread across 8 salts.  The demo tool for when one l_orderkey
    (or LSH band, or user_id) would otherwise own a straggler task."""
    from datafusion_spark.operators.salting import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        on="k",
        n_salts=8,
        spread_col="l_extendedprice",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double").alias("total"),
    )


@query(
    "sql_frontend_cte",
    oracle="""
    WITH big_nations AS (
      SELECT n_nationkey, n_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
      WHERE r_name IN ('AMERICA', 'ASIA')
    ),
    cust AS (
      SELECT c_nationkey, COUNT(*) AS n_custs,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
      FROM customer GROUP BY c_nationkey
    )
    SELECT n_name, n_custs, total_bal
    FROM big_nations JOIN cust ON n_nationkey = c_nationkey
    """,
    tags=("relational", "sql"),
)
def sql_frontend_cte(spark, sf_dir):
    """The SQL-string frontend (DataFusion's primary surface — datafusion/
    sql/): views registered in the session catalog, multi-CTE query through
    spark.sql — same Catalyst plan as the DataFrame form."""
    from datafusion_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH big_nations AS (
          SELECT n_nationkey, n_name
          FROM nation JOIN region ON n_regionkey = r_regionkey
          WHERE r_name IN ('AMERICA', 'ASIA')
        ),
        cust AS (
          SELECT c_nationkey, COUNT(*) AS n_custs,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
          FROM customer GROUP BY c_nationkey
        )
        SELECT n_name, n_custs, total_bal
        FROM big_nations JOIN cust ON n_nationkey = c_nationkey
        """
    )


@query(
    "join_lateral_topk",
    oracle="""
    SELECT c.c_custkey, c.c_name, t.o_orderkey AS best_orderkey,
           t.o_totalprice AS best_price
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
    WHERE c.c_custkey < 500
    """,
    tags=("relational", "join", "lateral"),
)
def join_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery join (reference: datafusion/sql/src/
    relation/join.rs lateral support + optimizer decorrelation).  Spark
    parses the same ANSI LATERAL syntax and Catalyst decorrelates it into
    a window-rank plan — no per-row re-execution.  Scale: decorrelation is
    what makes this viable at 100 TB; a naive nested loop would be O(rows)
    subquery runs."""
    from datafusion_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, t.o_orderkey AS best_orderkey,
               t.o_totalprice AS best_price
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        WHERE c.c_custkey < 500
        """
    )


@query(
    "sql_prepared_params",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice > 50000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("relational", "sql", "prepared"),
)
def sql_prepared_params(spark, sf_dir):
    """Parameterized SQL — the PREPARE/EXECUTE surface (reference:
    datafusion/sql/src/statement.rs PREPARE + LogicalPlan::Prepare,
    placeholder inference).  Spark's named-parameter binding
    (spark.sql(query, args=...)) is the same contract: the plan is built
    once with typed placeholders, values bound at execution — safe from
    injection and plan-cacheable."""
    from datafusion_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 50000.0, "status": "F"},
    )


@query(
    "subquery_any_all",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > ALL (
            SELECT o_totalprice FROM orders
            WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'P')
      AND o_totalprice >= ANY (
            SELECT o_totalprice FROM orders WHERE o_orderstatus = 'F')
    """,
    tags=("relational", "subquery", "quantified"),
)
def subquery_any_all(spark, sf_dir):
    """Quantified comparisons — x > ALL(sub) / x >= ANY(sub) (reference:
    datafusion/sql/src/expr/subquery.rs; the optimizer rewrites them to
    MAX/MIN scalar aggregates).  Spark's parser lacks ALL/ANY subqueries,
    so this entry IS that optimizer rewrite, written by hand: > ALL ⇔
    > MAX (non-null, non-empty), >= ANY ⇔ >= MIN — each a broadcast
    scalar, no per-row subquery execution."""
    o = load_table(spark, sf_dir, "orders")
    all_max = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "P")
    ).agg(F.max("o_totalprice").alias("all_max"))
    any_min = o.filter(F.col("o_orderstatus") == "F").agg(
        F.min("o_totalprice").alias("any_min")
    )
    return (
        o.crossJoin(F.broadcast(all_max))
        .crossJoin(F.broadcast(any_min))
        .filter(
            (F.col("o_totalprice") > F.col("all_max"))
            & (F.col("o_totalprice") >= F.col("any_min"))
        )
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "setop_union_by_name",
    oracle="""
    SELECT * FROM (
      SELECT n_nationkey AS key, n_name AS name, CAST(NULL AS VARCHAR) AS region_name
      FROM nation WHERE n_regionkey = 0)
    UNION ALL BY NAME
    (SELECT r_name AS region_name, r_regionkey + 100 AS key, r_name AS name
     FROM region)
    """,
    tags=("relational", "setop", "by-name"),
)
def setop_union_by_name(spark, sf_dir):
    """UNION by column NAME, not position (reference: DataFusion
    DataFrame::union_by_name, core/src/dataframe/).  Spark's
    unionByName(allowMissingColumns=True) aligns reordered schemas and
    null-fills missing columns — schema evolution's bread and butter when
    appending shards written by different pipeline versions."""
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    reg = load_table(spark, sf_dir, "region")
    a = nat.select(
        F.col("n_nationkey").alias("key"), F.col("n_name").alias("name")
    )
    b = reg.select(
        F.col("r_name").alias("region_name"),
        (F.col("r_regionkey") + 100).alias("key"),
        F.col("r_name").alias("name"),
    )
    return a.unionByName(b, allowMissingColumns=True)


_PRICE_BANDS = [
    (0, 0.0, 1000.0), (1, 1000.0, 2500.0), (2, 2500.0, 5000.0),
    (3, 5000.0, 10000.0), (4, 10000.0, 25000.0), (5, 25000.0, 60000.0),
    (6, 60000.0, 150000.0), (7, 150000.0, 400000.0), (8, 400000.0, 1000000.0),
]


@query(
    "join_range_binned",
    oracle=f"""
    WITH bands(band_id, lo, hi) AS (VALUES
      {", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)})
    SELECT band_id, lo, hi, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders JOIN bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_id, lo, hi
    """,
    tags=("relational", "join", "range", "binned"),
)
def join_range_binned(spark, sf_dir):
    """BINNED range join — the scale answer to point-in-interval joins.
    The naive plan (and the oracle) is a nested-loop inequality join:
    O(rows × bands).  Here each irregular band is exploded into the
    fixed-width bins it covers and the fact side computes its bin with a
    floor-division, turning the predicate into an EQUI-join on bin_id +
    a residual filter — hash join, broadcastable, linear in rows.  Same
    trick Databricks' range-join hints apply; works for any interval
    join (IP→geo, time→maintenance-window, value→band).
    tests/test_plans.py asserts the plan has no BroadcastNestedLoopJoin."""
    step = 1000.0
    bands = values_df(spark, _PRICE_BANDS, "band_id int, lo double, hi double")
    binned_bands = bands.select(
        "band_id", "lo", "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / step).cast("long"),
                F.floor((F.col("hi") - 0.000001) / step).cast("long"),
            )
        ).alias("bin_id"),
    )
    o = load_table(spark, sf_dir, "orders").withColumn(
        "bin_id", F.floor(F.col("o_totalprice") / step).cast("long")
    )
    return (
        o.join(F.broadcast(binned_bands), "bin_id")
        .filter(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi"))
        )
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double")
            .alias("total"),
        )
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, CASE WHEN o_orderkey % 5 = 0 THEN NULL
                              ELSE o_orderkey % 37 END AS k
      FROM orders WHERE o_orderkey < 4000
    ),
    b AS (
      SELECT CASE WHEN v = 99 THEN NULL ELSE v END AS k, v AS tag
      FROM (SELECT unnest(generate_series(0, 36)) AS v
            UNION ALL SELECT 99)
    )
    SELECT b.tag, COUNT(*) AS n_matches
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY b.tag
    """,
    tags=("relational", "join", "null-safe"),
)
def join_null_safe_eq(spark, sf_dir):
    """NULL-safe equality join — <=> / IS NOT DISTINCT FROM (reference:
    sqllogictest join_is_not_distinct_from.slt).  NULL keys MATCH each
    other instead of disappearing; Spark's eqNullSafe plans a hash join
    (the null bucket is just another key), not the nested-loop a naive
    `(a = b OR (a IS NULL AND b IS NULL))` predicate would force."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000)
    a = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_orderkey") % 37)
        .alias("k"),
    )
    b = spark.range(0, 37).select(
        F.col("id").alias("v")
    ).unionAll(values_df(spark, [(99,)], "v long")).select(
        F.when(F.col("v") == 99, None).otherwise(F.col("v")).alias("k"),
        F.col("v").alias("tag"),
    )
    return (
        a.join(F.broadcast(b), a.k.eqNullSafe(b.k))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


@query(
    "join_anti_null_aware",
    oracle="""
    SELECT 'not_in_clean' AS variant, COUNT(*) AS n FROM orders
    WHERE o_orderkey < 2000
      AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 50)
    UNION ALL
    SELECT 'not_in_with_null' AS variant, COUNT(*) AS n FROM orders
    WHERE o_orderkey < 2000
      AND o_custkey NOT IN (
        SELECT CASE WHEN c_custkey = 10 THEN NULL ELSE c_custkey END
        FROM customer WHERE c_custkey < 50)
    """,
    tags=("relational", "join", "null-aware-anti"),
)
def join_anti_null_aware(spark, sf_dir):
    """NULL-aware anti join — NOT IN's three-valued-logic trap (reference:
    sqllogictest null_aware_anti_join.slt; physical-plan NullAware
    NestedLoop/HashJoin modes).  One NULL in the subquery list makes
    `x NOT IN (...)` UNKNOWN for every x → the second variant returns 0
    rows, the first returns the true anti-join count.  Spark plans the
    null-aware case as BroadcastHashJoin(LeftAnti, isNullAwareAntiJoin)
    — both engines must agree on both variants."""
    from datafusion_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT 'not_in_clean' AS variant, COUNT(*) AS n FROM orders
        WHERE o_orderkey < 2000
          AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 50)
        UNION ALL
        SELECT 'not_in_with_null' AS variant, COUNT(*) AS n FROM orders
        WHERE o_orderkey < 2000
          AND o_custkey NOT IN (
            SELECT CASE WHEN c_custkey = 10 THEN NULL ELSE c_custkey END
            FROM customer WHERE c_custkey < 50)
        """
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-11-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational", "sql", "pipe"),
)
def sql_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax — FROM t |> WHERE |> AGGREGATE (reference:
    sqllogictest pipe_operator.slt; GoogleSQL-style pipes landed in both
    engines).  Same Catalyst plan as the nested form — the frontend
    sugar must not cost a thing."""
    from datafusion_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= TIMESTAMP '2024-11-01'
        |> AGGREGATE CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
                     COUNT(*) AS n
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, sum_qty, n
        """
    )


@query(
    "join_outer_filter_pushdown",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched,
           CAST(SUM(CAST(COALESCE(l_quantity, 0) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_qty
    FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey > 1000
    GROUP BY o_orderstatus
    """,
    tags=("join", "pushdown"),
)
def join_outer_filter_pushdown(spark, sf_dir):
    """Mirror of sqllogictest push_down_filter_outer_joins.slt: a WHERE
    predicate on the LEFT side's JOIN KEY must be pushed below a LEFT
    JOIN into BOTH scans — the key equality lets the optimizer infer
    l_orderkey > K for the right side even though the join is
    null-extending (the reference plans Filter under TableScan on both
    t1 and t2).  Spark does the same via predicate pushdown +
    InferFiltersFromConstraints; test_plan_budgets pins the inferred
    GreaterThan on the lineitem scan.  The NULL-extension rows
    (orders with no lineitem) are counted so the outer-join semantics
    stay visible in the value check."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left").filter(
        F.col("o_orderkey") > 1000
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_unmatched"),
        F.sum(F.coalesce(F.col("l_quantity"), F.lit(0)).cast(DEC))
            .cast("double").alias("sum_qty"),
    )


# --- same_column_name_cross_join.slt mirror (r7) ----------------------------


@query(
    "join_cross_same_names",
    oracle="""
    WITH t1 AS (SELECT 1 AS a, 2 AS b),
         t2 AS (SELECT 3 AS a, 4 AS b),
         t3 AS (SELECT 5 AS a, 6 AS b)
    SELECT 'q1' AS kase,
           CAST(t1.a AS BIGINT) AS c01, CAST(t1.b AS BIGINT) AS c02,
           CAST(t2.a AS BIGINT) AS c03, CAST(t2.b AS BIGINT) AS c04,
           CAST(t3.a AS BIGINT) AS c05, CAST(t3.b AS BIGINT) AS c06,
           CAST(NULL AS BIGINT) AS c07, CAST(NULL AS BIGINT) AS c08,
           CAST(NULL AS BIGINT) AS c09, CAST(NULL AS BIGINT) AS c10,
           CAST(NULL AS BIGINT) AS c11, CAST(NULL AS BIGINT) AS c12
    FROM t1 CROSS JOIN t2 CROSS JOIN t3
    UNION ALL
    SELECT 'q2',
           CAST(t1.a AS BIGINT), CAST(t1.b AS BIGINT),
           CAST(t2a.a AS BIGINT), CAST(t2a.b AS BIGINT),
           CAST(t2b.a AS BIGINT), CAST(t2b.b AS BIGINT),
           CAST(t3.a AS BIGINT), CAST(t3.b AS BIGINT),
           NULL, NULL, NULL, NULL
    FROM t1 CROSS JOIN t2 t2a CROSS JOIN t2 t2b CROSS JOIN t3
    UNION ALL
    SELECT 'q3',
           CAST(t1a.a AS BIGINT), CAST(t1a.b AS BIGINT),
           CAST(t2a.a AS BIGINT), CAST(t2a.b AS BIGINT),
           CAST(t2b.a AS BIGINT), CAST(t2b.b AS BIGINT),
           CAST(t3a.a AS BIGINT), CAST(t3a.b AS BIGINT),
           CAST(t1b.a AS BIGINT), CAST(t1b.b AS BIGINT),
           CAST(t3b.a AS BIGINT), CAST(t3b.b AS BIGINT)
    FROM t1 t1a CROSS JOIN t2 t2a CROSS JOIN t2 t2b CROSS JOIN t3 t3a
         CROSS JOIN t1 t1b CROSS JOIN t3 t3b
    """,
    tags=("join", "cross", "frontend", "slt"),
)
def join_cross_same_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested cross joins of SAME-SCHEMA relations, mirroring the
    reference's same_column_name_cross_join.slt: `(t1 CROSS JOIN t2) AS t
    CROSS JOIN (t2 CROSS JOIN t3)` produces an output whose intermediate
    and final schemas carry DUPLICATE column names (a, b, a, b, ...) and
    SELECT * must expand them positionally without a disambiguation
    error.  Spark resolves this identically (duplicate names are legal in
    a DataFrame schema; only by-NAME access is ambiguous) — the entry
    runs the slt's nested shapes through SELECT * and then renames
    POSITIONALLY (toDF), which would throw if Spark had collapsed or
    reordered duplicate-named columns.  The oracle rebuilds the same rows
    with qualified aliases.  Single-row inputs keep the cross products
    deterministic (and at scale a same-schema cross join is a broadcast
    NL join of tiny inputs — never a fact-side operation)."""
    spark.sql("SELECT 1 AS a, 2 AS b").createOrReplaceTempView("scn_t1")
    spark.sql("SELECT 3 AS a, 4 AS b").createOrReplaceTempView("scn_t2")
    spark.sql("SELECT 5 AS a, 6 AS b").createOrReplaceTempView("scn_t3")

    def shaped(sql, kase, width=12):
        df = spark.sql(sql)
        n = len(df.columns)
        df = df.toDF(*[f"c{i+1:02d}" for i in range(n)])
        out = [F.lit(kase).alias("kase")]
        out += [F.col(f"c{i+1:02d}").cast("bigint").alias(f"c{i+1:02d}")
                for i in range(n)]
        out += [F.lit(None).cast("bigint").alias(f"c{i+1:02d}")
                for i in range(n, width)]
        return df.select(*out)

    q1 = shaped(
        "SELECT * FROM (SELECT * FROM scn_t1 CROSS JOIN scn_t2) AS t "
        "CROSS JOIN scn_t3", "q1")
    q2 = shaped(
        "SELECT * FROM (SELECT * FROM scn_t1 CROSS JOIN scn_t2) AS t "
        "CROSS JOIN (SELECT * FROM scn_t2 CROSS JOIN scn_t3)", "q2")
    q3 = shaped(
        "SELECT * FROM (SELECT * FROM scn_t1 CROSS JOIN scn_t2) AS t "
        "CROSS JOIN (SELECT * FROM scn_t2 CROSS JOIN scn_t3) "
        "CROSS JOIN (SELECT * FROM scn_t1 CROSS JOIN scn_t3) AS tt", "q3")
    return q1.unionAll(q2).unionAll(q3)
