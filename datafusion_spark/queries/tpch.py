"""TPC-H suite (q1–q22), adapted to the driver's simplified schema.

DataFusion runs the full TPC-H as its core benchmark (reference:
benchmarks/queries/q1.sql … q22.sql); this module re-expresses every query
Spark-first with the DataFrame API — Catalyst handles join reordering,
predicate pushdown and broadcast selection.

Schema adaptations: the driver's tables drop several TPC-H columns and the
whole partsupp table, so NO query here is official-spec TPC-H semantics —
the oracle checks the ADAPTED spec.  Per-query deltas (official column →
substitution used; queries not listed run unmodified on the reduced schema):

  | q   | official element             | substitution in this module           |
  |-----|------------------------------|---------------------------------------|
  | q2  | partsupp + ps_supplycost     | partsupp derived from lineitem:       |
  |     |                              |   distinct (l_partkey,l_suppkey),     |
  |     |                              |   ps_supplycost := min(l_extendedprice|
  |     |                              |   / l_quantity)                       |
  | q4  | l_commitdate < l_receiptdate | late := shipped >60 days after        |
  |     |                              |   o_orderdate                         |
  | q8  | p_type 'ECONOMY ANODIZED     | p_type (reduced domain) + NATION_*    |
  |     |   STEEL', nation names       |   names from the synthetic dims       |
  | q9  | ps_supplycost                | cost proxy := 0.1 * p_retailprice     |
  |     |                              |   per unit                            |
  | q10 | c_phone/c_address/c_comment  | dropped from the output projection    |
  |     |   in projection              |                                       |
  | q11 | partsupp value by supplier   | derived partsupp as in q2             |
  | q12 | l_shipmode IN (...) +        | o_orderpriority high/low classes;     |
  |     |   commit/receipt lateness    |   late := shipped >30 days after      |
  |     |                              |   o_orderdate                         |
  | q13 | o_comment NOT LIKE '%...%'   | join-side filter                      |
  |     |                              |   o_orderpriority <> '5-LOW'          |
  | q14 | p_type LIKE 'PROMO%'         | p_type = 'PROMO' (flat domain)        |
  | q16 | partsupp + p_container       | derived partsupp; p_size buckets      |
  |     |   + supplier comment filter  |   stand in for containers             |
  | q17 | p_brand + p_container        | p_brand-only selection                |
  | q19 | p_container + l_shipmode +   | p_brand/p_size conjunction groups     |
  |     |   l_shipinstruct OR-of-ANDs  |   (OR-of-ANDs preserved)              |
  | q20 | partsupp ps_availqty         | derived partsupp; availability :=     |
  |     |                              |   lineitem quantity sums              |
  | q21 | l_receiptdate > l_commitdate | waiting := shipped >60 days after     |
  |     |                              |   o_orderdate, others shipped later   |
  | q22 | substring(c_phone,1,2)       | cntrycode := c_nationkey % 7          |
  |     |   country codes              |                                       |

Determinism: money aggregates accumulate in DECIMAL(38,6) (exact,
associative) and cast back to double; quantity sums are exact in double
(integer-valued).  Every ORDER BY ... LIMIT has a unique total order so
both engines keep the same rows.

Official-schema track: tpch_official.py additionally runs q2/q9/q11/q16/q20
structurally UNMODIFIED against a deterministic derived partsupp (official
columns, pure arithmetic function of the lineitem key pairs) — the five
rows above marked "derived partsupp"/"cost proxy" keep their adapted form
here for continuity, and the official joins/subqueries are exercised there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_spark.catalog import load_table
from datafusion_spark.queries.helpers import (
    DEC,
    SQL_REVENUE,
    davg,
    dsum,
    revenue_expr,
    sql_davg,
    sql_dsum,
    sum_limbs,
    units6,
)
from datafusion_spark.queries.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _ts(lit: str) -> F.Column:
    return F.to_timestamp(F.lit(lit))


# ---------------------------------------------------------------------------
# q1: pricing summary report — full scan, wide aggregation.
# Reference parity: benchmarks/queries/q1.sql. Scan-side: the shipdate filter
# is pushed into the parquet scan; partial aggregation happens map-side so the
# one shuffle carries only per-(flag,status) long partial sums.
# ---------------------------------------------------------------------------
@query(
    "tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum(SQL_REVENUE, 'sum_disc_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "aggregate"),
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact money sums in one aggregate and one exchange (helpers.sum_limbs):
    # each 1e-6-unit long is summed as two long limbs on the vectorized
    # hash-agg path, where eight DECIMAL(38,6) sums fall off it (~2.4x
    # slower end-to-end), and only the merge touches DECIMAL(38,0).
    # Bit-identical to direct decimal accumulation.
    li = _t(spark, sf_dir, "lineitem")
    rev = revenue_expr()
    units = li.filter(F.col("l_shipdate") <= _ts("1998-09-02")).select(
        "l_returnflag",
        "l_linestatus",
        units6(F.col("l_quantity")).alias("u_qty"),
        units6(F.col("l_extendedprice")).alias("u_price"),
        units6(rev).alias("u_rev"),
        units6(rev * (F.lit(1) + F.col("l_tax"))).alias("u_charge"),
        units6(F.col("l_discount")).alias("u_disc"),
    )
    n = F.count(F.lit(1))
    return units.groupBy("l_returnflag", "l_linestatus").agg(
        sum_limbs(F.col("u_qty")).alias("sum_qty"),
        sum_limbs(F.col("u_price")).alias("sum_base_price"),
        sum_limbs(F.col("u_rev")).alias("sum_disc_price"),
        sum_limbs(F.col("u_charge")).alias("sum_charge"),
        (sum_limbs(F.col("u_qty")) / n).alias("avg_qty"),
        (sum_limbs(F.col("u_price")) / n).alias("avg_price"),
        (sum_limbs(F.col("u_disc")) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


# ---------------------------------------------------------------------------
# q2 (adapted): minimum-cost supplier. partsupp derived from lineitem; the
# correlated min-subquery becomes a window MIN over the partition — one
# shuffle on p_partkey instead of a re-scan per row.
# ---------------------------------------------------------------------------
@query(
    "tpch_q2",
    oracle="""
    WITH partsupp AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(l_extendedprice / l_quantity) AS ps_supplycost
        FROM lineitem GROUP BY 1, 2
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost)
        FROM partsupp ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
    """,
    tags=("tpch", "join", "subquery"),
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    # The p_size/p_type filter keeps ~1% of parts — push it BELOW the
    # partsupp aggregation (broadcast semi-join on l_partkey) so the
    # groupBy shuffles only the surviving lineitems, not all of them.
    # ps_supplycost per (partkey, suppkey) is unaffected by dropping other
    # parts.  At 100 TB this turns the dominant shuffle into a rounding
    # error; DataFusion's optimizer does the same pushdown through its
    # aggregate (optimizer/src/push_down_filter.rs).
    part_f = part.filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
    li_f = li.join(
        F.broadcast(part_f.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "leftsemi",
    )
    partsupp = li_f.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))

    eur_supp = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    joined = (
        partsupp.join(F.broadcast(eur_supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part_f), F.col("ps_partkey") == F.col("p_partkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_supplycost")
    )


# ---------------------------------------------------------------------------
# q3: shipping priority — 3-way join, agg, top-10. Deterministic LIMIT via
# (revenue DESC, o_orderdate, l_orderkey) total order; Spark plans this as a
# TakeOrderedAndProject (no full sort shuffle).
# ---------------------------------------------------------------------------
@query(
    "tpch_q3",
    oracle=f"""
    SELECT l_orderkey, {sql_dsum(SQL_REVENUE, 'revenue')}, o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1998-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1998-03-15"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue_expr(), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q4 (adapted): order priority checking. "late" := shipped >60 days after
# order date (no l_commitdate in schema). EXISTS → left-semi hash join with a
# non-equi residual condition.
# ---------------------------------------------------------------------------
@query(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "semi-join"),
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge hint pins a sort-merge semi join: Spark's size estimate of
    the 2-column lineitem projection sits under the broadcast threshold,
    so without the hint the FACT side becomes the semi-join's broadcast
    build — a hash relation that grows linearly with lineitem (measured
    4.0x/decade at sf1, and unrunnable at 100 TB).  The sort-merge semi
    join shuffles both sides on orderkey (lineitem as 2 narrow columns)
    and spills gracefully — the correct shape at every scale (measured
    2.71s -> 0.64s at sf1)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01")) & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate").hint("merge")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q5: local supplier volume — 6-way join; region/nation broadcast, the
# customer=supplier nation constraint rides the join condition.
# ---------------------------------------------------------------------------
@query(
    "tpch_q5",
    oracle=f"""
    SELECT n_name, {sql_dsum(SQL_REVENUE, 'revenue')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("tpch", "join", "aggregate"),
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(revenue_expr(), "revenue"))
    )


# ---------------------------------------------------------------------------
# q6: forecasting revenue change — pure scan+filter+agg; every predicate is
# parquet-pushable (check PushedFilters in .explain).
# ---------------------------------------------------------------------------
@query(
    "tpch_q6",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "scan", "aggregate"),
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


# ---------------------------------------------------------------------------
# q7: volume shipping between two nations (supplier side vs customer side).
# ---------------------------------------------------------------------------
@query(
    "tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {sql_dsum('volume', 'revenue')}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             {SQL_REVENUE} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join"),
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") <= _ts("1997-12-31"))
    )
    # narrow projection + merge hint: orders is a fact — its 2-column
    # estimate sits under the broadcast threshold, so without the hint the
    # whole orders table becomes a broadcast build (linear-growing; measured
    # 1.14s -> 0.59s at sf1 co-shuffled on orderkey)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").hint("merge")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    shipping = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            revenue_expr().alias("volume"),
        )
    )
    return shipping.groupBy("supp_nation", "cust_nation", "l_year").agg(dsum("volume", "revenue"))


# ---------------------------------------------------------------------------
# q8: national market share — conditional aggregation over an 8-way join.
# ---------------------------------------------------------------------------
@query(
    "tpch_q8",
    oracle="""
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
                    AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                            AND TIMESTAMP '1996-12-31 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
    tags=("tpch", "join", "case"),
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1995-01-01")) & (F.col("o_orderdate") <= _ts("1996-12-31"))
    )
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    all_nations = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(reg), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            revenue_expr().alias("volume"),
            "nation",
        )
    )
    vol_dec = F.col("volume").cast(DEC)
    national = F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0.0))
    return all_nations.groupBy("o_year").agg(
        (F.sum(national.cast(DEC)).cast("double") / F.sum(vol_dec).cast("double")).alias(
            "mkt_share"
        )
    )


# ---------------------------------------------------------------------------
# q9 (adapted): product-type profit. No ps_supplycost → cost proxy is
# 10% of p_retailprice per unit.
# ---------------------------------------------------------------------------
@query(
    "tpch_q9",
    oracle=f"""
    SELECT nation, o_year, {sql_dsum('amount', 'sum_profit')}
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.1 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
    tags=("tpch", "join"),
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    # narrow projection + merge hint: see q7 — stops the full-orders
    # broadcast build (measured 1.33s -> 0.94s at sf1)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate").hint("merge")
    nat = _t(spark, sf_dir, "nation")
    amount = revenue_expr() - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    profit = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
    )
    return profit.groupBy("nation", "o_year").agg(dsum("amount", "sum_profit"))


# ---------------------------------------------------------------------------
# q10: returned item reporting — top-20 customers by lost revenue.
# ---------------------------------------------------------------------------
@query(
    "tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name, {sql_dsum(SQL_REVENUE, 'revenue')}, c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-10-01")) & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(revenue_expr(), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q11 (adapted): important inventory — group-by with a scalar-subquery
# threshold (total * fraction). The scalar aggregate is broadcast, not
# re-computed per row.
# ---------------------------------------------------------------------------
@query(
    "tpch_q11",
    oracle=f"""
    WITH natline AS (
      SELECT l_partkey, {SQL_REVENUE} AS v
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
    )
    SELECT l_partkey, {sql_dsum('v', 'value')}
    FROM natline
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE)
         > (SELECT CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) * 0.001 FROM natline)
    """,
    tags=("tpch", "subquery", "having"),
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    natline = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", revenue_expr().alias("v"))
    )
    per_part = natline.groupBy("l_partkey").agg(dsum("v", "value"))
    total = natline.agg((F.sum(F.col("v").cast(DEC)).cast("double") * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", "value")
    )


# ---------------------------------------------------------------------------
# q12 (adapted): shipping priority classification. "late" := shipped >30 days
# after order date; group by l_returnflag (no l_shipmode in schema).
# ---------------------------------------------------------------------------
@query(
    "tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
    tags=("tpch", "case", "join"),
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``l_shipdate < ship_end`` and ``l_shipdate >= o_orderdate + lag``
    imply ``o_orderdate < ship_end - lag`` (1997-12-02): a bound derived
    from the query itself, so it holds on any data.  Written against the
    column it reaches the orders scan as a pushed filter (and prunes a
    date-partitioned orders at scale).  The priority class is reduced to a
    boolean before the join, so the orders leg carries three narrow
    columns.  The join strategy is left to size: a broadcast while that
    leg's estimate is under the broadcast threshold (sf0.1 and sf1), a
    shuffle join beyond it."""
    ship_end = _ts("1998-01-01")
    lag = F.expr("INTERVAL 30 DAYS")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < ship_end - lag)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("high"),
        )
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01")) & (F.col("l_shipdate") < ship_end)
    )
    high = F.col("high")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + lag)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q13: customer order-count distribution — left outer join with a join-side
# filter, double aggregation.
# ---------------------------------------------------------------------------
@query(
    "tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    tags=("tpch", "outer-join", "aggregate"),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders are counted per customer key BEFORE the join, so the join
    side is at most one row per key.  The ``shuffle_hash`` hint keeps that
    fact-derived side from being broadcast: both inputs hash-partition on
    the customer key, and at scale each partition's build side is at most
    customers / partitions rows.  The per-customer merge after the join is
    required, not redundant: a duplicate or NULL ``c_custkey`` yields
    several join rows for one group, which the original query counts as
    one customer.  The join output is already partitioned on
    ``c_custkey``, so that merge adds no exchange."""
    cust = _t(spark, sf_dir, "customer")
    counts = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count("o_orderkey").alias("n"))
    )
    return (
        cust.join(counts.hint("shuffle_hash"), F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# q14: promotion effect — conditional agg over a fact/dim join.
# ---------------------------------------------------------------------------
@query(
    "tpch_q14",
    oracle=f"""
    SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                      THEN {SQL_REVENUE} ELSE 0 END
                         AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST({SQL_REVENUE} AS DECIMAL(38,6))) AS DOUBLE)
             AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
    tags=("tpch", "case", "join"),
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01")) & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = revenue_expr()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")).agg(
        (
            F.lit(100.0)
            * F.sum(promo.cast(DEC)).cast("double")
            / F.sum(rev.cast(DEC)).cast("double")
        ).alias("promo_revenue")
    )


# ---------------------------------------------------------------------------
# q15: top supplier — CTE reused twice (revenue per supplier + its max);
# Spark caches nothing here, but the exact decimal sum makes the equality
# join against MAX deterministic.
# ---------------------------------------------------------------------------
@query(
    "tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {sql_dsum(SQL_REVENUE, 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    tags=("tpch", "cte", "subquery"),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    supp = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(revenue_expr(), "total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# q16 (adapted): parts/supplier relationship via lineitem; COUNT(DISTINCT)
# plus a NOT IN subquery (anti join).
# ---------------------------------------------------------------------------
@query(
    "tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("tpch", "distinct", "anti-join"),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    )
    li = _t(spark, sf_dir, "lineitem")
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q17 (adapted): small-quantity-order revenue — correlated scalar subquery
# (per-part avg quantity), decorrelated into an aggregate+join, exactly what
# Catalyst/DataFusion's optimizer does (reference:
# datafusion/optimizer/src/scalar_subquery_to_join.rs).
# ---------------------------------------------------------------------------
@query(
    "tpch_q17",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
           AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_size < 10
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """,
    tags=("tpch", "subquery"),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10))
    # quantities are integer-valued doubles → avg is exact & order-insensitive
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(part_avg, F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0)).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# q18: large volume customers — IN subquery over a grouped HAVING.
# ---------------------------------------------------------------------------
@query(
    "tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    tags=("tpch", "semi-join", "having", "topk"),
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One lineitem pass, not two: the HAVING subquery's per-order SUM(qty)
    # IS the query's output aggregate, so aggregate once, filter >300
    # (exact decimal compare), and join the tiny survivor set to orders
    # and customer — both joins broadcast the small side, so lineitem is
    # read+shuffled exactly once and orders/customer never shuffle.
    # (The naive IN-subquery form costs a second full lineitem scan and a
    # re-aggregation after the join; measured ~2x slower at sf0.1.)
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # l_quantity is integer-valued (TPC-H spec: 1..50) → a long sum is
    # exact AND stays on the vectorized hash-agg fast path (wide decimal
    # buffers fall off it; see helpers.units6).
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qlong"))
        .filter(F.col("qlong") > 300)
        .select("l_orderkey", F.col("qlong").cast("double").alias("sum_qty"))
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q19 (adapted): discounted revenue — OR-of-ANDs predicate across the join
# (p_container/l_shipmode → p_size bands).
# ---------------------------------------------------------------------------
@query(
    "tpch_q19",
    oracle=f"""
    SELECT {sql_dsum(SQL_REVENUE, 'revenue')}
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "predicate"),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(dsum(revenue_expr(), "revenue"))
    )


# ---------------------------------------------------------------------------
# q20 (adapted): potential part promotion — nested IN subqueries become a
# chain of semi joins on aggregated thresholds.
# ---------------------------------------------------------------------------
@query(
    "tpch_q20",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > 50)
    """,
    tags=("tpch", "semi-join", "having"),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    promo_supp = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(promo_supp, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# q21 (adapted): suppliers who kept orders waiting — EXISTS + NOT EXISTS
# (semi + anti join with non-equi residuals). "waiting" := shipped >60 days
# after order date and no other supplier on the order shipped later.
# ---------------------------------------------------------------------------
@query(
    "tpch_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND n_name = 'NATION_4'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("tpch", "semi-join", "anti-join"),
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Physical strategy mirrors DataFusion's: EXISTS/NOT EXISTS become
    # hash semi/anti joins on l_orderkey (physical-plan/src/joins/).  Two
    # scale-minded choices beyond the naive form:
    #   - the NATION_4 supplier filter broadcasts into l1 BEFORE the big
    #     joins, so only ~1/25 of lineitem reaches the orderkey shuffles;
    #   - l2/l3 project to 2-3 columns pre-shuffle, so the two extra
    #     lineitem passes move narrow rows only.
    # (A decorrelated one-pass variant — groupBy (order,supp) max shipdate
    # + per-order top-2 stats — was measured 2-3x slower end-to-end at
    # both sf0.01 and sf0.1: two wide aggregations cost more than three
    # narrow co-keyed hash joins.  Revisit on a real cluster if the fact
    # shuffle dominates.)
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    # merge hints on orders/l2/l3: Spark's size estimates of the narrow
    # lineitem projections (and half-of-orders) sit under the broadcast
    # threshold, so without them the semi/anti builds BROADCAST the fact
    # side — linear-growing hash relations (3.0x/decade at sf1, unrunnable
    # at 100 TB).  Hinted, all three joins co-shuffle on l_orderkey (one
    # partitioning reused across the chain) and spill gracefully; measured
    # 4.45s -> 3.46s at sf1.  The s_nat dimension broadcast stays.
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate").hint("merge")
    li = _t(spark, sf_dir, "lineitem")

    s_nat = supp.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    l1 = li.join(
        F.broadcast(s_nat.select("s_suppkey", "s_name")),
        li.l_suppkey == F.col("s_suppkey"),
    ).alias("l1")
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    ).hint("merge")
    l3 = li.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    ).hint("merge")
    waiting = (
        l1.join(orders, F.col("l1.l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l1.l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .join(
            l2,
            (F.col("l2_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3_suppkey") != F.col("l1.l_suppkey"))
            & (F.col("l3_shipdate") > F.col("l1.l_shipdate")),
            "left_anti",
        )
    )
    return (
        waiting.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q22 (adapted): global sales opportunity — NOT EXISTS anti join + scalar
# subquery threshold. cntrycode := c_nationkey % 7 (no c_phone in schema).
# ---------------------------------------------------------------------------
@query(
    "tpch_q22",
    oracle="""
    WITH pool AS (
      SELECT CAST(c_nationkey % 7 AS BIGINT) AS cntrycode, c_acctbal, c_custkey
      FROM customer
      WHERE c_nationkey % 7 IN (0, 1, 2, 3)
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
    FROM pool
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(c_acctbal)
        FROM pool WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY cntrycode
    """,
    tags=("tpch", "anti-join", "subquery"),
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter((F.col("c_nationkey") % 7).isin(0, 1, 2, 3))
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts("2000-01-01"))
        .select("o_custkey")
    )
    pool = cust.select(
        (F.col("c_nationkey") % 7).cast("long").alias("cntrycode"),
        "c_acctbal",
        "c_custkey",
    )
    avg_bal = (
        pool.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("c_acctbal")).alias(
                "avg_bal"
            )
        )
    )
    return (
        pool.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
        )
    )
