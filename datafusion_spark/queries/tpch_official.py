"""Official-schema TPC-H track: 15 queries structurally unmodified.

q2/q9/q11/q16/q20 run on a derived partsupp; q4/q12/q21 on derived
commit/receipt/shipmode lineitem columns; q8/q10/q13/q14/q17/q19/q22 on
derived official-column overlays (three-word p_type, p_container, c_phone/
c_address/c_comment, o_comment, l_shipinstruct).  Together with the seven
queries that need no adaptation at all in tpch.py (q1/q3/q5/q6/q7/q15/q18),
every official TPC-H join graph + subquery structure runs structurally
unmodified against this repo.

The driver testdata has no partsupp table, so the adapted suite in tpch.py
re-derives per-query substitutes and documents every deviation.  This module
closes the gap for the five partsupp-dependent queries: a partsupp relation
with the official columns (ps_partkey, ps_suppkey, ps_availqty,
ps_supplycost) is DERIVED deterministically from the distinct
(l_partkey, l_suppkey) pairs in lineitem — availqty/supplycost are pure
integer-arithmetic functions of the keys, so BOTH engines compute
bit-identical values from the same parquet inputs at ANY scale factor.

The query texts below are the reference's benchmarks/queries/q{2,9,11,16,20}
.sql with their join graphs, subquery structure (correlated min-cost in q2,
scalar HAVING threshold in q11, NOT-IN anti-join in q16, nested IN +
correlated quantity threshold in q20), aggregates, ORDER BY and LIMIT kept
intact.  Adaptations (all forced by missing columns, each noted inline):
p_mfgr/s_address/s_phone/s_comment/p_container don't exist -> nearest
existing column or dropped from the projection; region/nation/date constants
retargeted to the synthetic domains; money sums accumulate in DECIMAL(38,6)
per SURVEY §4.

Spark side: partsupp is materialized once per (session, sf_dir) to
spark-warehouse/derived_tpch/<sf>/partsupp.parquet and read back — queries
then scan a real parquet relation (stats, pushdown, broadcast all apply,
exactly what a prep step would do at 100 TB).  Oracle side: the SAME
derivation SQL runs as a WITH-prefix, so the gate needs no extra files.
"""

from __future__ import annotations

import os

from datafusion_spark.catalog import (
    cached_parquet, load_tables, register_views, repo_root, tables_in,
)
from datafusion_spark.queries.registry import Plan, query, statement

# Deterministic partsupp derivation — identical SQL text for both engines.
# availqty in 1000..9999, supplycost in 1.00..1000.00 (2-dp, exact in
# double), both pure functions of the key pair.
_PARTSUPP_SQL = """
SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       CAST((l_partkey * 37 + l_suppkey * 13) % 9000 + 1000 AS BIGINT)
           AS ps_availqty,
       CAST((l_partkey * 7919 + l_suppkey * 104729) % 99900 + 100 AS DOUBLE)
           / 100.0 AS ps_supplycost
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
"""


def _materialize(spark, sf_dir: str, sql: str, fname: str,
                 coalesce1: bool = True) -> str:
    """Materialize one derived relation to parquet, once per sf_dir; returns
    the parquet path.

    The parquet materialization is the 100 TB shape (a one-off prep job;
    downstream queries scan a real file with stats + pushdown).  Concurrent
    writers (the sharded sweep) race benignly: each writes to a
    pid-suffixed temp dir and the first atomic rename wins.
    """
    dest = os.path.join(
        repo_root(), "spark-warehouse", "derived_tpch",
        os.path.basename(sf_dir.rstrip("/")), fname,
    )
    if not os.path.isdir(dest):
        register_views(spark, sf_dir)  # the derivation reads the base views
        df = spark.sql(sql)
        if coalesce1:
            df = df.coalesce(1)
        tmp = f"{dest}.tmp.{os.getpid()}"
        df.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, dest)
        except OSError:  # another process won the race; use its output
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return dest


def _runner(text: str, reads: str, overlays: tuple[str, ...]):
    """The entry callable: ``text`` through registry.statement over the
    derived relations ``overlays`` (each written once per sf_dir, see
    _OVERLAYS) and the base tables of sf_dir that ``reads`` names besides
    them.  An overlay named like a base table shadows it; the statement
    re-binds only names whose DataFrame changed, so back-to-back runs of
    the same query (and of queries sharing an overlay) bind nothing."""
    names = tuple(n for n in tables_in(reads) if n not in overlays)

    def fn(spark, sf_dir):
        views = load_tables(spark, sf_dir, names)
        for v in overlays:
            views[v] = cached_parquet(spark, _materialize(spark, sf_dir, *_OVERLAYS[v]))
        return statement(spark, text, views)

    return fn


def _register(name: str, sql: str, doc: str) -> None:
    fn = _runner(sql, sql, ("partsupp",))
    fn.__name__ = name
    fn.__doc__ = doc
    oracle = f"WITH partsupp AS ({_PARTSUPP_SQL}) {sql}"
    query(name, oracle=oracle, tags=("tpch", "official", "partsupp"))(fn)


# q2: minimum-cost supplier (reference benchmarks/queries/q2.sql).
# Adaptations: p_mfgr/s_address/s_phone/s_comment absent -> p_brand kept,
# address/phone/comment dropped from the projection; '%BRASS' -> a p_type
# suffix that exists; region EUROPE exists as-is.  The correlated scalar
# min-cost subquery over partsupp×supplier×nation×region is verbatim.
_register(
    "tpch_official_q2",
    """
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
    FROM part, supplier, partsupp, nation, region
    WHERE p_partkey = ps_partkey
      AND s_suppkey = ps_suppkey
      AND p_size = 15
      AND p_type LIKE '%ANDARD'
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND ps_supplycost = (
          SELECT MIN(ps_supplycost)
          FROM partsupp, supplier, nation, region
          WHERE p_partkey = ps_partkey
            AND s_suppkey = ps_suppkey
            AND s_nationkey = n_nationkey
            AND n_regionkey = r_regionkey
            AND r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="""Official TPC-H q2 (reference benchmarks/queries/q2.sql) on the
    derived partsupp: correlated min-supplycost scalar subquery, 5-relation
    join, ORDER+LIMIT.  Spark decorrelates the subquery to an aggregate +
    rejoin on p_partkey; dims broadcast.  The full ORDER BY key
    (acctbal, n_name, s_name, p_partkey) is unique per row, so LIMIT 100
    is deterministic on both engines.""",
)

# q9: product-type profit (reference q9.sql).  Adaptations: profit
# accumulates in DECIMAL(38,6) (SURVEY §4 money rule); '%green%' -> '%red%'
# (the synthetic color vocabulary has no green).
_register(
    "tpch_official_q9",
    """
    SELECT nation, o_year,
           CAST(SUM(CAST(amount AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
               l_extendedprice * (1 - l_discount)
                   - ps_supplycost * l_quantity AS amount
        FROM part, supplier, lineitem, partsupp, orders, nation
        WHERE s_suppkey = l_suppkey
          AND ps_suppkey = l_suppkey
          AND ps_partkey = l_partkey
          AND p_partkey = l_partkey
          AND o_orderkey = l_orderkey
          AND s_nationkey = n_nationkey
          AND p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="""Official TPC-H q9 (reference benchmarks/queries/q9.sql) on the
    derived partsupp: 6-relation join through the (l_partkey, l_suppkey)
    composite into partsupp, per-nation-per-year profit.  The composite
    partsupp join co-partitions with lineitem's own keys; nation/part/
    supplier broadcast.  Profit rows are exact-representable doubles cast
    to DECIMAL(38,6) pre-SUM, so the aggregate is order-insensitive.""",
)

# q11: important inventory (reference q11.sql).  Adaptations: GERMANY ->
# NATION_7; the 0.0001/SF threshold fraction -> 0.001 (the synthetic
# partsupp is ~25x smaller per nation than official SF1); ORDER BY gains
# the ps_partkey tiebreaker required by SURVEY §4 (official text orders by
# value alone, which is nondeterministic under ties).
_register(
    "tpch_official_q11",
    """
    SELECT ps_partkey,
           CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6)))
                AS DOUBLE) AS value
    FROM partsupp, supplier, nation
    WHERE ps_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_7'
    GROUP BY ps_partkey
    HAVING SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) > (
        SELECT SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) * 0.001
        FROM partsupp, supplier, nation
        WHERE ps_suppkey = s_suppkey
          AND s_nationkey = n_nationkey
          AND n_name = 'NATION_7')
    ORDER BY value DESC, ps_partkey
    """,
    doc="""Official TPC-H q11 (reference benchmarks/queries/q11.sql) on the
    derived partsupp: grouped inventory value filtered by a scalar-subquery
    fraction of the national total.  The scalar side broadcasts back; the
    group-by shuffles on ps_partkey only.""",
)

# q16: parts/supplier relationship (reference q16.sql).  Adaptations:
# Brand#45 -> Brand#21; 'MEDIUM POLISHED%' -> a p_type prefix that exists;
# p_size IN-list intersected with the synthetic 1..50 domain (official
# values kept where valid); the s_comment '%Customer%Complaints%' NOT-IN
# side has no comment column -> an s_name pattern keeps the anti-join
# structure.  COUNT(DISTINCT) cast BIGINT on both sides (SURVEY §4).
_register(
    "tpch_official_q16",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp, part
    WHERE p_partkey = ps_partkey
      AND p_brand <> 'Brand#21'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
      AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_name LIKE '%0000009%')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="""Official TPC-H q16 (reference benchmarks/queries/q16.sql) on the
    derived partsupp: NOT-IN anti-join against a filtered supplier set,
    COUNT(DISTINCT) per (brand, type, size).  Spark plans the NOT IN as a
    null-aware anti join with the tiny supplier side broadcast.""",
)

# q20: potential part promotion (reference q20.sql).  Adaptations:
# 'forest%' -> 'red%'; CANADA -> NATION_3; the shipdate year window
# retargeted into the synthetic 1995-2001 domain; s_address absent ->
# s_name only in the projection.
_register(
    "tpch_official_q20",
    """
    SELECT s_name
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT ps_suppkey
        FROM partsupp
        WHERE ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND ps_availqty > (
            SELECT 0.5 * SUM(l_quantity)
            FROM lineitem
            WHERE l_partkey = ps_partkey
              AND l_suppkey = ps_suppkey
              AND l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'))
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
    ORDER BY s_name
    """,
    doc="""Official TPC-H q20 (reference benchmarks/queries/q20.sql) on the
    derived partsupp: nested IN chains (supplier <- partsupp <- part) with
    a CORRELATED half-stock threshold over lineitem.  Spark decorrelates
    the threshold into an aggregate on (l_partkey, l_suppkey) joined back;
    both IN chains become (broadcast) semi joins.""",
)


# ---------------------------------------------------------------------------
# Derived lineitem extension: l_commitdate / l_receiptdate / l_shipmode.
#
# Same design as partsupp above: the official columns the synthetic lineitem
# lacks are pure deterministic functions of (l_orderkey, l_linenumber,
# l_shipdate), computed by IDENTICAL SQL text in both engines, so q4/q12/q21
# can run with their reference structure (EXISTS / NOT EXISTS anti-semantics,
# commit-before-receipt predicates, shipmode grouping) intact.
#   commitdate = shipdate + 1..25 days; receiptdate = commitdate - 4..+5 days
#   (≈40% of lines receive before commit — both branches of every predicate
#   are populated); shipmode cycles the 7 official modes.
# ---------------------------------------------------------------------------

_LINEITEM_EXT_SQL = """
SELECT *,
       CAST(l_shipdate + INTERVAL '1' DAY *
            ((l_orderkey * 7 + l_linenumber * 3) % 25 + 1) AS TIMESTAMP)
           AS l_commitdate,
       CAST(l_shipdate + INTERVAL '1' DAY *
            (((l_orderkey * 7 + l_linenumber * 3) % 25 + 1)
             + ((l_orderkey * 11 + l_linenumber * 5) % 10 - 4)) AS TIMESTAMP)
           AS l_receiptdate,
       CASE (l_orderkey * 3 + l_linenumber) % 7
            WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
            WHEN 3 THEN 'RAIL' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'FOB'
            ELSE 'REG AIR' END AS l_shipmode,
       CASE (l_orderkey * 13 + l_linenumber * 7) % 4
            WHEN 0 THEN 'DELIVER IN PERSON' WHEN 1 THEN 'COLLECT COD'
            WHEN 2 THEN 'NONE' ELSE 'TAKE BACK RETURN' END AS l_shipinstruct
FROM lineitem
"""


def _register_ext(name: str, sql: str, doc: str) -> None:
    """Official q4/q12/q21 reference the derived commit/receipt/shipmode
    columns by the official table name, so the extended lineitem shadows
    the ``lineitem`` view."""
    fn = _runner(sql, sql, ("lineitem",))
    fn.__name__ = name
    fn.__doc__ = doc
    # DuckDB treats a CTE named like its own source as circular; qualify
    # the inner scan with the main schema (text otherwise identical).
    ext_for_duck = _LINEITEM_EXT_SQL.replace("FROM lineitem", "FROM main.lineitem")
    oracle = f"WITH lineitem AS ({ext_for_duck}) {sql}"
    query(name, oracle=oracle, tags=("tpch", "official", "lineitem-ext", "bench"))(fn)


# q4: order-priority checking (reference benchmarks/queries/q4.sql).
# Adaptations: the quarter window retargeted into the synthetic 1995-2001
# o_orderdate domain.  EXISTS, grouping, ORDER BY are verbatim; the output
# is counts only, so the oracle comparison is exact.
_register_ext(
    "tpch_official_q4",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= '1996-07-01'
      AND o_orderdate < DATE '1996-07-01' + INTERVAL '3' MONTH
      AND EXISTS (
          SELECT /*+ MERGE(lineitem) */ * FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="""Official TPC-H q4 (reference benchmarks/queries/q4.sql) on the
    derived commit/receipt dates: EXISTS over lineitem -> left-semi join on
    l_orderkey, then a 5-group aggregate.  The MERGE hint inside the EXISTS
    pins a sort-merge semi join: without it AQE flips the ~60%-selective
    lineitem side into a broadcast build — a hash relation that grows
    linearly with the fact table (measured 2.2s -> 0.8s at sf1, and the
    only scale-safe shape at 100 TB).  The hint is a comment to the DuckDB
    oracle, so both engines still run identical SQL text.  Counts-only
    output -> exact oracle match.""",
)

# q12: shipping modes and order priority (reference q12.sql).  Adaptations:
# receipt-year window retargeted (1994 -> 1997).  The two-branch CASE sums,
# MAIL/SHIP filter and join are verbatim; counts-only output.
_register_ext(
    "tpch_official_q12",
    """
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                      OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
               AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
                     AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
               AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipmode IN ('MAIL', 'SHIP')
      AND l_commitdate < l_receiptdate
      AND l_shipdate < l_commitdate
      AND l_receiptdate >= DATE '1997-01-01'
      AND l_receiptdate < DATE '1997-01-01' + INTERVAL '1' YEAR
    GROUP BY l_shipmode
    ORDER BY l_shipmode
    """,
    doc="""Official TPC-H q12 (reference benchmarks/queries/q12.sql) on the
    derived shipmode/commit/receipt columns: selective IN + three date
    predicates reach the parquet scan, the orders join carries only
    (o_orderkey, o_orderpriority), conditional-sum aggregate.  BIGINT sums
    -> exact oracle match.""",
)

# q21: suppliers who kept orders waiting (reference q21.sql).  Adaptations:
# SAUDI ARABIA -> NATION_4.  The signature EXISTS (another supplier on the
# order) + NOT EXISTS (no OTHER late supplier) pair, F-status filter, count
# ranking and LIMIT are verbatim.
_register_ext(
    "tpch_official_q21",
    """
    SELECT /*+ MERGE(orders) */ s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_receiptdate > l1.l_commitdate
      AND EXISTS (
          SELECT * FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT * FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_receiptdate > l3.l_commitdate)
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_4'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    doc="""Official TPC-H q21 (reference benchmarks/queries/q21.sql) on the
    derived commit/receipt dates: the hardest TPC-H shape — fact self-joins
    as EXISTS (left-semi, <> on suppkey) and NOT EXISTS (left-anti), both
    co-partitioned on l_orderkey so AQE plans one exchange per side;
    supplier/nation broadcast.  The MERGE(orders) hint (a comment to the
    oracle) pins the orders leg to the same l_orderkey sort-merge
    co-shuffle: without it AQE broadcasts the 'F'-status HALF of orders —
    a fact-sized hash relation that cannot exist at 100 TB.  (s_name, numwait) ordering has unique
    s_name -> deterministic LIMIT.  Counts-only output -> exact match.""",
)


# ---------------------------------------------------------------------------
# Official-column overlays for the remaining adapted queries.
#
# The synthetic dims lack several official TPC-H columns (p_container, the
# three-word p_type domain, c_phone/c_address/c_comment, o_comment,
# l_shipinstruct).  Like partsupp above, each is DERIVED as a pure integer
# function of the row's key — CASE over multiplicative residues with
# PAIRWISE-COPRIME moduli (6/5/7 for p_type's three words, 5/8 for
# p_container's two) so every official vocabulary combination actually
# occurs in the data.  The SAME derivation text runs on both engines, so
# the oracle needs no extra files.
# ---------------------------------------------------------------------------

_PART_EXT_SQL = """
SELECT p_partkey, p_name, p_brand, p_size, p_retailprice,
       CASE (p_partkey * 7) % 6
            WHEN 0 THEN 'STANDARD' WHEN 1 THEN 'SMALL' WHEN 2 THEN 'MEDIUM'
            WHEN 3 THEN 'LARGE' WHEN 4 THEN 'ECONOMY' ELSE 'PROMO' END
       || ' ' ||
       CASE (p_partkey * 11) % 5
            WHEN 0 THEN 'ANODIZED' WHEN 1 THEN 'BURNISHED'
            WHEN 2 THEN 'PLATED' WHEN 3 THEN 'POLISHED' ELSE 'BRUSHED' END
       || ' ' ||
       CASE (p_partkey * 5) % 7
            WHEN 0 THEN 'TIN' WHEN 1 THEN 'NICKEL' WHEN 2 THEN 'BRASS'
            WHEN 3 THEN 'STEEL' WHEN 4 THEN 'COPPER' WHEN 5 THEN 'TIN'
            ELSE 'STEEL' END AS p_type,
       CASE (p_partkey * 3) % 5
            WHEN 0 THEN 'SM' WHEN 1 THEN 'LG' WHEN 2 THEN 'MED'
            WHEN 3 THEN 'JUMBO' ELSE 'WRAP' END
       || ' ' ||
       CASE (p_partkey * 3) % 8
            WHEN 0 THEN 'CASE' WHEN 1 THEN 'BOX' WHEN 2 THEN 'BAG'
            WHEN 3 THEN 'JAR' WHEN 4 THEN 'PKG' WHEN 5 THEN 'PACK'
            WHEN 6 THEN 'CAN' ELSE 'DRUM' END AS p_container
FROM part
"""

_CUSTOMER_EXT_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       CAST(10 + (c_nationkey % 25) AS STRING) || '-' ||
       CAST(100 + (c_custkey * 7) % 900 AS STRING) || '-' ||
       CAST(100 + (c_custkey * 11) % 900 AS STRING) || '-' ||
       CAST(1000 + (c_custkey * 13) % 9000 AS STRING)      AS c_phone,
       'Address_' || CAST((c_custkey * 17) % 1000 AS STRING) AS c_address,
       CASE (c_custkey * 29) % 4
            WHEN 0 THEN 'carefully final deposits boost'
            WHEN 1 THEN 'quickly ironic requests sleep'
            WHEN 2 THEN 'furiously special accounts nag'
            ELSE 'blithely regular packages wake' END       AS c_comment
FROM customer
"""

_ORDERS_EXT_SQL = """
SELECT *,
       CASE (o_orderkey * 23) % 8
            WHEN 0 THEN 'special packages among the pending requests'
            WHEN 1 THEN 'carefully special foxes detect quiet requests'
            WHEN 2 THEN 'requests sleep blithely special instructions'
            WHEN 3 THEN 'quickly special deposits haggle'
            WHEN 4 THEN 'final requests integrate furiously'
            WHEN 5 THEN 'express accounts wake carefully'
            WHEN 6 THEN 'silent theodolites nag above the ideas'
            ELSE 'slyly regular platelets boost' END AS o_comment
FROM orders
"""

_EXT_VIEWS = {
    "part": (_PART_EXT_SQL, "part_ext.parquet"),
    "customer": (_CUSTOMER_EXT_SQL, "customer_ext.parquet"),
    "orders": (_ORDERS_EXT_SQL, "orders_ext.parquet"),
}

# Every derived relation: view name -> (derivation, file, written as one
# file).  partsupp and the orders and lineitem overlays are FACT-sized: AQE
# sizes their output files (a coalesce(1) single file means a one-task scan
# later — 71 MB/one split at sf1, unusable at 100 TB).  The part/customer
# overlays are dim-sized and stay single-file.
_OVERLAYS = {
    "partsupp": (_PARTSUPP_SQL, "partsupp.parquet", False),
    "lineitem": (_LINEITEM_EXT_SQL, "lineitem_ext2.parquet", False),
    "part": (*_EXT_VIEWS["part"], True),
    "customer": (*_EXT_VIEWS["customer"], True),
    "orders": (*_EXT_VIEWS["orders"], False),
}


def _register_official(name: str, sql: str, doc: str,
                       exts: tuple[str, ...], lineitem_ext: bool = False,
                       final: str | None = None) -> None:
    """Register ``name`` over the overlays ``exts``: the entry runs
    ``final`` (default ``sql``, the verbatim text); ``fn.plan`` holds both."""
    overlays = exts + (("lineitem",) if lineitem_ext else ())
    fn = _runner(final or sql, (final or "") + sql, overlays)
    fn.__name__ = name
    fn.__doc__ = doc
    fn.plan = Plan(final or sql, sql)
    ctes = [
        f"{v} AS ({_EXT_VIEWS[v][0].replace(f'FROM {v}', f'FROM main.{v}')})"
        for v in exts
    ]
    if lineitem_ext:
        ctes.append("lineitem AS ("
                    + _LINEITEM_EXT_SQL.replace("FROM lineitem", "FROM main.lineitem")
                    + ")")
    oracle = "WITH " + ",\n".join(ctes) + " " + sql
    query(name, oracle=oracle, tags=("tpch", "official", "derived-dims", "bench"))(fn)


# q8: national market share (reference benchmarks/queries/q8.sql) on the
# derived official p_type.  Adaptations: BRAZIL -> NATION_3, date window in
# the synthetic domain, money sums in DECIMAL(38,6) (SURVEY §4).
_register_official(
    "tpch_official_q8",
    """
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
                    AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey
        AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        AND p_type = 'ECONOMY ANODIZED STEEL'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="""Official TPC-H q8 (reference benchmarks/queries/q8.sql) on the
    derived official p_type: the verbatim 8-relation comma-join with the
    three-word type constant.  Part filter is ~1/105 selective and reaches
    the scan; both nation legs and region broadcast; the two-sum share
    division accumulates in DECIMAL(38,6).""",
    exts=("part",),
)

# q10: returned-item reporting (reference q10.sql) with the OFFICIAL
# projection incl. c_address/c_phone/c_comment from the derived customer
# overlay.  Adaptations: date window retargeted; c_custkey appended to the
# ORDER BY as a tiebreak so LIMIT 20 is deterministic.
_register_official(
    "tpch_official_q10",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           c_acctbal, n_name, c_address, c_phone, c_comment
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, c_phone, n_name,
             c_address, c_comment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="""Official TPC-H q10 (reference benchmarks/queries/q10.sql) with
    the full official projection: the derived customer overlay supplies
    c_address/c_phone/c_comment (pure key functions, so both engines see
    identical values).  Top-20 via TakeOrdered on the exact decimal
    revenue; nation broadcasts.""",
    exts=("customer",),
)

# q13: customer distribution (reference q13.sql) on the derived o_comment.
_register_official(
    "tpch_official_q13",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT OUTER JOIN orders ON c_custkey = o_custkey
        AND o_comment NOT LIKE '%special%requests%'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="""Official TPC-H q13 (reference benchmarks/queries/q13.sql) on the
    derived o_comment: the verbatim NOT-LIKE join-side filter (two of the
    eight comment templates match '%special%requests%'), left outer join
    preserving order-less customers, double grouping.  It runs in the
    tpch_q13 shape: orders are counted per o_custkey (filter applied)
    BEFORE the join, and SHUFFLE_HASH keeps that fact-derived side from
    being broadcast — both sides hash-partition on the customer key.  The
    per-customer merge stays: a duplicate or NULL c_custkey gives several
    join rows for one group.""",
    exts=("orders",),
    final="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT /*+ SHUFFLE_HASH(counts) */
             c_custkey, CAST(SUM(COALESCE(n, 0)) AS BIGINT) AS c_count
      FROM customer
      LEFT OUTER JOIN (SELECT o_custkey, COUNT(o_orderkey) AS n
                       FROM orders
                       WHERE o_comment NOT LIKE '%special%requests%'
                       GROUP BY o_custkey) counts
        ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

# q14: promotion effect (reference q14.sql) on the derived official p_type.
_register_official(
    "tpch_official_q14",
    """
    SELECT 100.00 *
           CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(38,6))) AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= DATE '1996-09-01'
      AND l_shipdate < DATE '1996-10-01'
    """,
    doc="""Official TPC-H q14 (reference benchmarks/queries/q14.sql) on the
    derived official p_type: verbatim PROMO% prefix CASE over the
    part-broadcast join, one month of l_shipdate pushed to the scan,
    decimal-accumulated conditional sums.""",
    exts=("part",),
)

# q17: small-quantity-order revenue (reference q17.sql): official brand +
# container constants over the derived p_container.
_register_official(
    "tpch_official_q17",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
           AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#23'
      AND p_container = 'MED BOX'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity)
        FROM lineitem
        WHERE l_partkey = p_partkey)
    """,
    doc="""Official TPC-H q17 (reference benchmarks/queries/q17.sql) on the
    derived p_container: verbatim correlated avg-quantity threshold
    (decorrelated by Catalyst to a partkey-grouped aggregate + rejoin),
    Brand#23 + MED BOX part filter broadcast against lineitem.  Quantities
    are integer-valued doubles, so the 0.2*avg threshold is exact on both
    engines.""",
    exts=("part",),
)

# q19: discounted revenue (reference q19.sql): the OR-of-ANDs over derived
# p_container + l_shipinstruct (+ the derived shipmode).  Adaptations:
# Brand#34 -> Brand#24 (synthetic brand domain is 1..25); money sum
# decimal-accumulated.  'AIR REG' matches nothing, exactly as in official
# TPC-H data (the real mode is spelled 'REG AIR') — kept verbatim.
_register_official(
    "tpch_official_q19",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE (
            p_partkey = l_partkey
        AND p_brand = 'Brand#12'
        AND p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
        AND l_quantity >= 1 AND l_quantity <= 1 + 10
        AND p_size BETWEEN 1 AND 5
        AND l_shipmode IN ('AIR', 'AIR REG')
        AND l_shipinstruct = 'DELIVER IN PERSON'
      ) OR (
            p_partkey = l_partkey
        AND p_brand = 'Brand#23'
        AND p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
        AND l_quantity >= 10 AND l_quantity <= 10 + 10
        AND p_size BETWEEN 1 AND 10
        AND l_shipmode IN ('AIR', 'AIR REG')
        AND l_shipinstruct = 'DELIVER IN PERSON'
      ) OR (
            p_partkey = l_partkey
        AND p_brand = 'Brand#24'
        AND p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
        AND l_quantity >= 20 AND l_quantity <= 20 + 10
        AND p_size BETWEEN 1 AND 15
        AND l_shipmode IN ('AIR', 'AIR REG')
        AND l_shipinstruct = 'DELIVER IN PERSON'
      )
    """,
    doc="""Official TPC-H q19 (reference benchmarks/queries/q19.sql) on the
    derived p_container/l_shipinstruct/l_shipmode: the signature
    OR-of-ANDs join predicate.  Catalyst extracts the common
    p_partkey = l_partkey equi-condition and ORs the residual — a hash
    join with a post-join filter, never a cartesian; the shared
    l_shipmode/l_shipinstruct conjuncts are pushed to the lineitem
    scan.""",
    exts=("part",),
    lineitem_ext=True,
)

# q22: global sales opportunity (reference q22.sql) on the derived c_phone.
# Adaptations: every synthetic customer has orders, so the official
# "customers with no orders at all" NOT EXISTS would be empty — it keeps
# the official shape but tests "no orders since 2000-01-01"; the avg
# accumulates in DECIMAL(38,6).
_register_official(
    "tpch_official_q22",
    """
    SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT substring(c_phone FROM 1 FOR 2) AS cntrycode, c_acctbal
      FROM customer
      WHERE substring(c_phone FROM 1 FOR 2) IN
            ('13', '31', '23', '29', '30', '18', '17')
        AND c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(c_acctbal)
          FROM customer
          WHERE c_acctbal > 0.00
            AND substring(c_phone FROM 1 FOR 2) IN
                ('13', '31', '23', '29', '30', '18', '17'))
        AND NOT EXISTS (
          SELECT * FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    doc="""Official TPC-H q22 (reference benchmarks/queries/q22.sql) on the
    derived c_phone (country code = 10 + nationkey, official format): the
    verbatim substring country-code filter, positive-balance average as a
    broadcast scalar subquery, and the anti-join — Spark plans the NOT
    EXISTS as a left-anti hash join on o_custkey with the date predicate
    pushed to the orders scan.""",
    exts=("customer",),
)
