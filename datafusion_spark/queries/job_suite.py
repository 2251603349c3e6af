"""JOB (Join Order Benchmark / IMDB) suite adapted to the star schema.

Reference: benchmarks/queries/imdb/1a.sql .. 33c.sql — the 113-query suite
DataFusion uses as its join-REORDERING acceptance benchmark: deep comma-join
graphs (5-8 relations), transitive join keys (t.id = mc.movie_id AND
mc.movie_id = mi.movie_id), highly selective string predicates on small
dimensions, and MIN() outputs with no GROUP BY.

The IMDB tables aren't in the driver testdata, so each family is re-expressed
on the TPC-H-ish schema PRESERVING its join graph and predicate structure:

    title          -> orders      (fact hub, key o_orderkey)
    movie_companies/movie_info/movie_keyword/cast_info
                   -> lineitem    (bridge facts, aliased per role; the
                                   redundant transitive equalities between
                                   bridges are kept verbatim)
    company_type/info_type/keyword/role_type
                   -> part        (typed dim: =/LIKE/IN on p_type, p_name)
    company_name/name -> supplier / customer (entity dims, LIKE on names)
    country_code   -> nation (via s_nationkey / c_nationkey)

The SQL text is fully portable: the SAME string is the Spark plan (via
registry.table_statement over the tables it reads) and the DuckDB oracle — so the
correctness gate also proves the SQL frontend handles comma-join syntax.
What the suite exercises on Spark: Catalyst's join-graph extraction from
WHERE equalities, CBO+AQE join reordering, broadcast selection for the dim
legs, and transitive predicate inference.  At 100 TB the wanted plan per query: every dim leg
broadcast, bridge-bridge joins co-partitioned on l_orderkey, zero shuffles
before the single-row aggregate (operator counts pinned in plans/manifest.json).
"""

from __future__ import annotations

from datafusion_spark.catalog import tables_in
from datafusion_spark.queries.registry import query, table_statement

_JOB: dict[str, str] = {}

# --- family 1 (ref 1a/1b): t + two bridges + 2 typed dims -------------------
_JOB["job_1a"] = """
SELECT MIN(mc.l_shipdate) AS first_ship, MIN(t.o_orderdate) AS first_order,
       MIN(t.o_totalprice) AS min_price
FROM supplier AS ct, part AS it, lineitem AS mc, lineitem AS mi_idx, orders AS t
WHERE ct.s_acctbal > 5000
  AND it.p_type = 'PROMO'
  AND mc.l_returnflag <> 'R' AND (mc.l_linestatus = 'O' OR mc.l_discount > 0.05)
  AND ct.s_suppkey = mc.l_suppkey
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND mc.l_orderkey = mi_idx.l_orderkey
  AND it.p_partkey = mi_idx.l_partkey
"""
# Replace l_shipdate/l_returnflag with alternate selectivities (ref 1b).
_JOB["job_1b"] = """
SELECT MIN(t.o_orderdate) AS movie_year, MIN(mc.l_extendedprice) AS min_note_price
FROM supplier AS ct, part AS it, lineitem AS mc, lineitem AS mi_idx, orders AS t
WHERE ct.s_acctbal BETWEEN 0 AND 3000
  AND it.p_type = 'ECONOMY'
  AND mc.l_quantity < 10
  AND t.o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1998-12-31'
  AND ct.s_suppkey = mc.l_suppkey
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND mc.l_orderkey = mi_idx.l_orderkey
  AND it.p_partkey = mi_idx.l_partkey
"""

# --- family 2 (ref 2a/2b): country-coded entity dim + keyword dim ----------
_JOB["job_2a"] = """
SELECT MIN(t.o_orderdate) AS movie_title
FROM nation AS cn, customer AS c, part AS k, lineitem AS mc, lineitem AS mk,
     orders AS t
WHERE cn.n_name = 'NATION_7'
  AND k.p_name = 'red widget'
  AND cn.n_nationkey = c.c_nationkey
  AND c.c_custkey = t.o_custkey
  AND mc.l_orderkey = t.o_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_partkey = k.p_partkey
  AND mc.l_orderkey = mk.l_orderkey
"""
_JOB["job_2b"] = """
SELECT MIN(t.o_orderdate) AS movie_title
FROM nation AS cn, customer AS c, part AS k, lineitem AS mc, lineitem AS mk,
     orders AS t
WHERE cn.n_name = 'NATION_3'
  AND k.p_name = 'blue bolt'
  AND cn.n_nationkey = c.c_nationkey
  AND c.c_custkey = t.o_custkey
  AND mc.l_orderkey = t.o_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_partkey = k.p_partkey
  AND mc.l_orderkey = mk.l_orderkey
"""

# --- family 3 (ref 3a/3b): LIKE keyword + IN-list bridge pred + year range --
_JOB["job_3a"] = """
SELECT MIN(t.o_orderdate) AS movie_title
FROM part AS k, lineitem AS mi, lineitem AS mk, orders AS t
WHERE k.p_name LIKE '%widget%'
  AND mi.l_returnflag IN ('A', 'N')
  AND t.o_orderdate > DATE '1998-01-01'
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_orderkey = mi.l_orderkey
  AND k.p_partkey = mk.l_partkey
"""
_JOB["job_3b"] = """
SELECT MIN(t.o_orderdate) AS movie_title
FROM part AS k, lineitem AS mi, lineitem AS mk, orders AS t
WHERE k.p_name LIKE '%bolt%'
  AND mi.l_linestatus IN ('F')
  AND t.o_orderdate > DATE '2000-01-01'
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_orderkey = mi.l_orderkey
  AND k.p_partkey = mk.l_partkey
"""

# --- family 4 (ref 4a): rating threshold on a bridge measure ----------------
_JOB["job_4a"] = """
SELECT MIN(mi_idx.l_quantity) AS rating, MIN(t.o_orderdate) AS movie_title
FROM part AS it, part AS k, lineitem AS mi_idx, lineitem AS mk, orders AS t
WHERE it.p_type = 'STANDARD'
  AND k.p_name LIKE '%ring%'
  AND mi_idx.l_quantity > 25
  AND t.o_orderdate > DATE '1999-01-01'
  AND t.o_orderkey = mi_idx.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_orderkey = mi_idx.l_orderkey
  AND k.p_partkey = mk.l_partkey
  AND it.p_partkey = mi_idx.l_partkey
"""

# --- family 5 (ref 5a): two-LIKE conjunction on the bridge ------------------
_JOB["job_5a"] = """
SELECT MIN(t.o_orderdate) AS typical_european_movie
FROM supplier AS ct, lineitem AS mc, lineitem AS mi, orders AS t, nation AS n
WHERE ct.s_name LIKE '%001%'
  AND mc.l_discount >= 0.05 AND mc.l_discount <= 0.07
  AND mi.l_returnflag IN ('A', 'N', 'R')
  AND t.o_orderdate > DATE '1997-01-01'
  AND n.n_name LIKE 'NATION_1%'
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND mc.l_orderkey = mi.l_orderkey
  AND ct.s_suppkey = mc.l_suppkey
  AND n.n_nationkey = ct.s_nationkey
"""

# --- family 6 (ref 6a): keyword equality + entity LIKE + year ---------------
_JOB["job_6a"] = """
SELECT MIN(k.p_name) AS movie_keyword, MIN(n.s_name) AS actor_name,
       MIN(t.o_orderdate) AS marvel_movie
FROM lineitem AS ci, part AS k, lineitem AS mk, supplier AS n, orders AS t
WHERE k.p_name = 'small ring'
  AND n.s_name LIKE '%00001%'
  AND t.o_orderdate > DATE '1996-06-01'
  AND k.p_partkey = mk.l_partkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND ci.l_orderkey = mk.l_orderkey
  AND n.s_suppkey = ci.l_suppkey
"""

# --- family 7 (ref 7a): 8 relations, disjunctive entity predicate -----------
_JOB["job_7a"] = """
SELECT MIN(n.c_name) AS of_person, MIN(t.o_orderdate) AS biography_movie
FROM customer AS an, lineitem AS ci, part AS it, region AS lt, nation AS ml,
     customer AS n, orders AS pi, orders AS t
WHERE an.c_name LIKE '%1%'
  AND it.p_type = 'MEDIUM'
  AND lt.r_name = 'ASIA'
  AND n.c_name BETWEEN 'Customer#000000100' AND 'Customer#000000600'
  AND (n.c_mktsegment = 'BUILDING'
       OR (n.c_mktsegment = 'AUTOMOBILE' AND n.c_name LIKE '%2%'))
  AND pi.o_orderpriority = '1-URGENT'
  AND t.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1999-12-31'
  AND n.c_custkey = an.c_custkey
  AND n.c_custkey = pi.o_custkey
  AND ci.l_orderkey = t.o_orderkey
  AND ml.n_regionkey = lt.r_regionkey
  AND ml.n_nationkey = n.c_nationkey
  AND it.p_partkey = ci.l_partkey
  AND pi.o_custkey = an.c_custkey
  AND t.o_custkey = n.c_custkey
"""

# --- family 8 (ref 8a): voice-note conjunction, country-coded company -------
_JOB["job_8a"] = """
SELECT MIN(an1.c_name) AS actress_pseudonym, MIN(t.o_orderdate) AS japanese_movie_dubbed
FROM customer AS an1, lineitem AS ci, nation AS cn, lineitem AS mc,
     customer AS n1, part AS rt, orders AS t
WHERE ci.l_returnflag = 'N' AND ci.l_linestatus = 'O'
  AND cn.n_name = 'NATION_11'
  AND mc.l_discount >= 0.02 AND mc.l_tax < 0.05
  AND n1.c_name LIKE '%3%' AND n1.c_name NOT LIKE '%8%'
  AND rt.p_type = 'LARGE'
  AND an1.c_custkey = n1.c_custkey
  AND n1.c_custkey = t.o_custkey
  AND ci.l_orderkey = t.o_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND cn.n_nationkey = n1.c_nationkey
  AND ci.l_partkey = rt.p_partkey
  AND ci.l_orderkey = mc.l_orderkey
"""

# --- family 9 (ref 9a): IN-list bridge pred + gendered entity LIKE ----------
_JOB["job_9a"] = """
SELECT MIN(an.c_name) AS alternative_name, MIN(chn.s_name) AS character_name,
       MIN(t.o_orderdate) AS movie
FROM customer AS an, supplier AS chn, lineitem AS ci, nation AS cn,
     lineitem AS mc, customer AS n, part AS rt, orders AS t
WHERE ci.l_returnflag IN ('A', 'N')
  AND cn.n_name = 'NATION_19'
  AND mc.l_quantity BETWEEN 5 AND 40
  AND n.c_mktsegment = 'FURNITURE' AND n.c_name LIKE '%5%'
  AND rt.p_type = 'SMALL'
  AND t.o_orderdate BETWEEN DATE '1996-01-01' AND DATE '2000-12-31'
  AND ci.l_orderkey = t.o_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND ci.l_orderkey = mc.l_orderkey
  AND cn.n_nationkey = n.c_nationkey
  AND ci.l_partkey = rt.p_partkey
  AND n.c_custkey = t.o_custkey
  AND chn.s_suppkey = ci.l_suppkey
  AND an.c_custkey = n.c_custkey
"""

# --- family 10 (ref 10a/10b/10c): two typed dims on one bridge --------------
_JOB["job_10a"] = """
SELECT MIN(chn.s_name) AS uncredited_voiced_character, MIN(t.o_orderdate) AS russian_movie
FROM supplier AS chn, lineitem AS ci, nation AS cn, part AS ct,
     lineitem AS mc, part AS rt, orders AS t
WHERE ci.l_discount >= 0.04 AND ci.l_returnflag = 'R'
  AND cn.n_name = 'NATION_21'
  AND rt.p_type = 'PROMO'
  AND t.o_orderdate > DATE '1999-01-01'
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND ci.l_orderkey = mc.l_orderkey
  AND chn.s_suppkey = ci.l_suppkey
  AND rt.p_partkey = ci.l_partkey
  AND cn.n_nationkey = chn.s_nationkey
  AND ct.p_partkey = mc.l_partkey
"""
_JOB["job_10b"] = """
SELECT MIN(chn.s_name) AS character_name, MIN(t.o_orderdate) AS russian_mov_with_actor_producer
FROM supplier AS chn, lineitem AS ci, nation AS cn, part AS ct,
     lineitem AS mc, part AS rt, orders AS t
WHERE ci.l_returnflag = 'N'
  AND cn.n_name = 'NATION_2'
  AND rt.p_type = 'STANDARD'
  AND t.o_orderdate > DATE '2000-01-01'
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND ci.l_orderkey = mc.l_orderkey
  AND chn.s_suppkey = ci.l_suppkey
  AND rt.p_partkey = ci.l_partkey
  AND cn.n_nationkey = chn.s_nationkey
  AND ct.p_partkey = mc.l_partkey
"""
_JOB["job_10c"] = """
SELECT MIN(chn.s_name) AS character_name, MIN(t.o_orderdate) AS movie_with_american_producer
FROM supplier AS chn, lineitem AS ci, nation AS cn, part AS ct,
     lineitem AS mc, part AS rt, orders AS t
WHERE ci.l_quantity > 30
  AND cn.n_name LIKE 'NATION_1%'
  AND rt.p_type = 'ECONOMY'
  AND t.o_orderdate > DATE '1995-06-01'
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND ci.l_orderkey = mc.l_orderkey
  AND chn.s_suppkey = ci.l_suppkey
  AND rt.p_partkey = ci.l_partkey
  AND cn.n_nationkey = chn.s_nationkey
  AND ct.p_partkey = mc.l_partkey
"""


def _register(name: str, sql: str) -> None:
    views = tables_in(sql)

    def fn(spark, sf_dir, _sql=sql):
        return table_statement(spark, _sql, sf_dir, views)

    fn.__name__ = name
    ref = name.replace("job_", "")
    fn.__doc__ = (
        f"JOB {ref} join graph (reference benchmarks/queries/imdb/{ref}.sql) "
        "re-keyed onto the star schema; same SQL text runs on Spark and DuckDB."
    )
    tags = ("job", "join", "optimizer") + (("bench",) if name in ("job_7a", "job_9a") else ())
    query(name, oracle=sql, tags=tags)(fn)


for _name, _sql in _JOB.items():
    _register(_name, _sql)

# --- families 11-17 (ref 11a..17a): three/four bridge facts, dual typed
# dims (it1/it2), chained dim legs (kind_type -> customer->nation->region),
# <>/IS NULL/LIKE-disjunction predicates --------------------------------------
_JOB2: dict[str, str] = {}

_JOB2["job_11a"] = """
SELECT MIN(cn.s_name) AS from_company, MIN(lt.p_name) AS movie_link_type,
       MIN(t.o_orderdate) AS non_polish_sequel_movie
FROM supplier AS cn, nation AS nn, part AS ct, part AS k, part AS lt,
     lineitem AS mc, lineitem AS mk, lineitem AS ml, orders AS t
WHERE nn.n_name <> 'NATION_5'
  AND (cn.s_name LIKE '%001%' OR cn.s_name LIKE '%002%')
  AND ct.p_type = 'PROMO'
  AND k.p_name = 'red widget'
  AND lt.p_name LIKE '%bolt%'
  AND NULLIF(mc.l_tax, 0.0) IS NULL
  AND t.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '2000-12-31'
  AND lt.p_partkey = ml.l_partkey
  AND ml.l_orderkey = t.o_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_partkey = k.p_partkey
  AND t.o_orderkey = mc.l_orderkey
  AND mc.l_suppkey = cn.s_suppkey
  AND nn.n_nationkey = cn.s_nationkey
  AND ct.p_partkey = mc.l_partkey
  AND ml.l_orderkey = mk.l_orderkey
  AND ml.l_orderkey = mc.l_orderkey
  AND mk.l_orderkey = mc.l_orderkey
"""

_JOB2["job_12a"] = """
SELECT MIN(cn.s_name) AS movie_company, MIN(mi_idx.l_quantity) AS rating,
       MIN(t.o_orderdate) AS drama_horror_movie
FROM supplier AS cn, nation AS nn, part AS ct, part AS it1, part AS it2,
     lineitem AS mc, lineitem AS mi, lineitem AS mi_idx, orders AS t
WHERE nn.n_name = 'NATION_4'
  AND ct.p_type = 'PROMO'
  AND it1.p_type = 'MEDIUM'
  AND it2.p_type = 'STANDARD'
  AND mi.l_returnflag IN ('A', 'N')
  AND mi_idx.l_quantity > 40
  AND t.o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1999-12-31'
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND mi.l_partkey = it1.p_partkey
  AND mi_idx.l_partkey = it2.p_partkey
  AND t.o_orderkey = mc.l_orderkey
  AND ct.p_partkey = mc.l_partkey
  AND cn.s_suppkey = mc.l_suppkey
  AND nn.n_nationkey = cn.s_nationkey
  AND mc.l_orderkey = mi.l_orderkey
  AND mc.l_orderkey = mi_idx.l_orderkey
  AND mi.l_orderkey = mi_idx.l_orderkey
"""

_JOB2["job_13a"] = """
SELECT MIN(mi.l_shipdate) AS release_date, MIN(miidx.l_quantity) AS rating,
       MIN(t.o_orderdate) AS german_movie
FROM supplier AS cn, nation AS nn, part AS ct, part AS it, part AS it2,
     customer AS c, nation AS kn, region AS kt,
     lineitem AS mc, lineitem AS mi, lineitem AS miidx, orders AS t
WHERE nn.n_name = 'NATION_8'
  AND ct.p_type = 'PROMO'
  AND it.p_type = 'STANDARD'
  AND it2.p_type = 'ECONOMY'
  AND kt.r_name = 'ASIA'
  AND mi.l_orderkey = t.o_orderkey
  AND it2.p_partkey = mi.l_partkey
  AND kt.r_regionkey = kn.n_regionkey
  AND kn.n_nationkey = c.c_nationkey
  AND c.c_custkey = t.o_custkey
  AND mc.l_orderkey = t.o_orderkey
  AND cn.s_suppkey = mc.l_suppkey
  AND nn.n_nationkey = cn.s_nationkey
  AND ct.p_partkey = mc.l_partkey
  AND miidx.l_orderkey = t.o_orderkey
  AND it.p_partkey = miidx.l_partkey
  AND mi.l_orderkey = miidx.l_orderkey
  AND mi.l_orderkey = mc.l_orderkey
  AND miidx.l_orderkey = mc.l_orderkey
"""

_JOB2["job_14a"] = """
SELECT MIN(mi_idx.l_quantity) AS rating, MIN(t.o_orderdate) AS northern_dark_movie
FROM part AS it1, part AS it2, part AS k,
     customer AS c, nation AS kn, region AS kt,
     lineitem AS mi, lineitem AS mi_idx, lineitem AS mk, orders AS t
WHERE it1.p_type = 'LARGE'
  AND it2.p_type = 'SMALL'
  AND k.p_name IN ('red widget', 'blue bolt', 'small ring', 'green gear')
  AND kt.r_name = 'EUROPE'
  AND mi.l_returnflag IN ('A', 'N', 'R')
  AND mi_idx.l_quantity < 45
  AND t.o_orderdate > DATE '1998-01-01'
  AND kt.r_regionkey = kn.n_regionkey
  AND kn.n_nationkey = c.c_nationkey
  AND c.c_custkey = t.o_custkey
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND mk.l_orderkey = mi.l_orderkey
  AND mk.l_orderkey = mi_idx.l_orderkey
  AND mi.l_orderkey = mi_idx.l_orderkey
  AND k.p_partkey = mk.l_partkey
  AND it1.p_partkey = mi.l_partkey
  AND it2.p_partkey = mi_idx.l_partkey
"""

_JOB2["job_15a"] = """
SELECT MIN(mi.l_shipdate) AS release_date, MIN(t.o_orderdate) AS internet_movie
FROM lineitem AS at2, supplier AS cn, nation AS nn, part AS ct, part AS it1,
     part AS k, lineitem AS mc, lineitem AS mi, lineitem AS mk, orders AS t
WHERE nn.n_name = 'NATION_6'
  AND it1.p_type = 'ECONOMY'
  AND mc.l_discount >= 0.03 AND mc.l_discount <= 0.08
  AND mi.l_quantity BETWEEN 10 AND 45
  AND t.o_orderdate > DATE '1996-01-01'
  AND t.o_orderkey = at2.l_orderkey
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND mk.l_orderkey = mi.l_orderkey
  AND mk.l_orderkey = mc.l_orderkey
  AND mk.l_orderkey = at2.l_orderkey
  AND mi.l_orderkey = mc.l_orderkey
  AND mi.l_orderkey = at2.l_orderkey
  AND mc.l_orderkey = at2.l_orderkey
  AND k.p_partkey = mk.l_partkey
  AND it1.p_partkey = mi.l_partkey
  AND cn.s_suppkey = mc.l_suppkey
  AND nn.n_nationkey = cn.s_nationkey
  AND ct.p_partkey = mc.l_partkey
"""

_JOB2["job_16a"] = """
SELECT MIN(an.c_name) AS cool_actor_pseudonym,
       MIN(t.o_orderdate) AS series_named_after_char
FROM customer AS an, lineitem AS ci, supplier AS cns, nation AS cn,
     part AS k, lineitem AS mc, lineitem AS mk, customer AS n, orders AS t
WHERE cn.n_name = 'NATION_9'
  AND k.p_name = 'small ring'
  AND t.o_totalprice >= 50000 AND t.o_totalprice < 200000
  AND an.c_custkey = n.c_custkey
  AND n.c_custkey = t.o_custkey
  AND ci.l_orderkey = t.o_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_partkey = k.p_partkey
  AND t.o_orderkey = mc.l_orderkey
  AND mc.l_suppkey = cns.s_suppkey
  AND cn.n_nationkey = cns.s_nationkey
  AND ci.l_orderkey = mc.l_orderkey
  AND ci.l_orderkey = mk.l_orderkey
  AND mc.l_orderkey = mk.l_orderkey
"""

_JOB2["job_17a"] = """
SELECT MIN(n.c_name) AS member_in_charnamed_american_movie, MIN(n.c_name) AS a1
FROM lineitem AS ci, supplier AS cns, nation AS cn, part AS k,
     lineitem AS mc, lineitem AS mk, customer AS n, orders AS t
WHERE cn.n_name = 'NATION_12'
  AND k.p_name = 'blue bolt'
  AND n.c_name LIKE 'Customer#0000001%'
  AND n.c_custkey = t.o_custkey
  AND ci.l_orderkey = t.o_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_partkey = k.p_partkey
  AND t.o_orderkey = mc.l_orderkey
  AND mc.l_suppkey = cns.s_suppkey
  AND cn.n_nationkey = cns.s_nationkey
  AND ci.l_orderkey = mc.l_orderkey
  AND ci.l_orderkey = mk.l_orderkey
  AND mc.l_orderkey = mk.l_orderkey
"""

for _name, _sql in _JOB2.items():
    _register(_name, _sql)

# b-variants of families 11-17 (reference 11b..17b): identical join graphs,
# shifted predicate selectivities — the pairs exercise whether the
# optimizer's ordering survives constant changes.
_JOB2B = {
    "job_11b": _JOB2["job_11a"]
    .replace("NATION_5", "NATION_20")
    .replace("'%001%'", "'%003%'").replace("'%002%'", "'%004%'")
    .replace("'PROMO'", "'LARGE'")
    .replace("'red widget'", "'small ring'")
    .replace("'%bolt%'", "'%gear%'")
    .replace("DATE '1995-01-01' AND DATE '2000-12-31'",
             "DATE '1997-01-01' AND DATE '2001-12-31'"),
    "job_12b": _JOB2["job_12a"]
    .replace("NATION_4", "NATION_14")
    .replace("'PROMO'", "'SMALL'").replace("'MEDIUM'", "'LARGE'")
    .replace("'STANDARD'", "'ECONOMY'")
    .replace("l_quantity > 40", "l_quantity > 30")
    .replace("DATE '1997-01-01' AND DATE '1999-12-31'",
             "DATE '1995-06-01' AND DATE '1998-06-30'"),
    "job_14b": _JOB2["job_14a"]
    .replace("'LARGE'", "'PROMO'").replace("'SMALL'", "'MEDIUM'")
    .replace("'EUROPE'", "'AMERICA'")
    .replace("l_quantity < 45", "l_quantity < 25")
    .replace("DATE '1998-01-01'", "DATE '1996-01-01'"),
    "job_17b": _JOB2["job_17a"]
    .replace("NATION_12", "NATION_22")
    .replace("'blue bolt'", "'red widget'")
    .replace("'Customer#0000001%'", "'Customer#0000004%'"),
}
for _name, _sql in _JOB2B.items():
    _register(_name, _sql)

# --- families 18-22 (ref 18a..22a): producer IN-lists, 10-relation graphs,
# dual tiny type-dims on one entity bridge, FOUR-bridge transitive cliques --
_JOB3: dict[str, str] = {}

_JOB3["job_18a"] = """
SELECT MIN(mi.l_shipdate) AS movie_budget, MIN(mi_idx.l_quantity) AS movie_votes,
       MIN(t.o_orderdate) AS movie_title
FROM lineitem AS ci, part AS it1, part AS it2, lineitem AS mi,
     lineitem AS mi_idx, supplier AS n, orders AS t
WHERE ci.l_returnflag IN ('A', 'R')
  AND it1.p_type = 'PROMO'
  AND it2.p_type = 'STANDARD'
  AND n.s_acctbal > 0 AND n.s_name LIKE '%7%'
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND ci.l_orderkey = mi.l_orderkey
  AND ci.l_orderkey = mi_idx.l_orderkey
  AND mi.l_orderkey = mi_idx.l_orderkey
  AND n.s_suppkey = ci.l_suppkey
  AND it1.p_partkey = mi.l_partkey
  AND it2.p_partkey = mi_idx.l_partkey
"""

_JOB3["job_19a"] = """
SELECT MIN(n.c_name) AS voicing_actress, MIN(t.o_orderdate) AS voiced_movie
FROM customer AS an, supplier AS chn, lineitem AS ci, nation AS cn,
     part AS it, lineitem AS mc, lineitem AS mi, customer AS n,
     part AS rt, orders AS t
WHERE ci.l_returnflag IN ('A', 'N', 'R')
  AND cn.n_name = 'NATION_15'
  AND it.p_type = 'MEDIUM'
  AND mc.l_tax IS NOT NULL AND (mc.l_discount >= 0.06 OR mc.l_tax >= 0.06)
  AND mi.l_quantity IS NOT NULL AND (mi.l_quantity < 15 OR mi.l_quantity > 35)
  AND n.c_mktsegment = 'HOUSEHOLD' AND n.c_name LIKE '%9%'
  AND rt.p_type = 'SMALL'
  AND t.o_orderdate BETWEEN DATE '1996-01-01' AND DATE '2000-12-31'
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND mc.l_orderkey = ci.l_orderkey
  AND mc.l_orderkey = mi.l_orderkey
  AND mi.l_orderkey = ci.l_orderkey
  AND cn.n_nationkey = n.c_nationkey
  AND it.p_partkey = mi.l_partkey
  AND n.c_custkey = t.o_custkey
  AND rt.p_partkey = ci.l_partkey
  AND n.c_custkey = an.c_custkey
  AND chn.s_suppkey = ci.l_suppkey
"""

_JOB3["job_20a"] = """
SELECT MIN(t.o_orderdate) AS complete_downey_ironman_movie
FROM customer AS cc, nation AS cct1, region AS cct2, supplier AS chn,
     lineitem AS ci, part AS k, part AS kt, lineitem AS mk, orders AS t
WHERE cct1.n_name LIKE 'NATION_1%'
  AND cct2.r_name LIKE '%E%'
  AND chn.s_name NOT LIKE '%9%'
  AND (chn.s_name LIKE '%01%' OR chn.s_name LIKE '%02%')
  AND k.p_name IN ('red widget', 'blue bolt', 'small ring', 'green gear',
                   'large cog')
  AND kt.p_type = 'LARGE'
  AND t.o_orderdate > DATE '1995-06-01'
  AND kt.p_partkey = ci.l_partkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND t.o_custkey = cc.c_custkey
  AND mk.l_orderkey = ci.l_orderkey
  AND chn.s_suppkey = ci.l_suppkey
  AND k.p_partkey = mk.l_partkey
  AND cct1.n_nationkey = cc.c_nationkey
  AND cct2.r_regionkey = cct1.n_regionkey
"""

_JOB3["job_21a"] = """
SELECT MIN(cn.s_name) AS company_name, MIN(lt.p_name) AS link_type,
       MIN(t.o_orderdate) AS western_follow_up
FROM supplier AS cn, nation AS nn, part AS ct, part AS k, part AS lt,
     lineitem AS mc, lineitem AS mi, lineitem AS mk, lineitem AS ml,
     orders AS t
WHERE nn.n_name <> 'NATION_5'
  AND (cn.s_name LIKE '%001%' OR cn.s_name LIKE '%002%')
  AND ct.p_type = 'PROMO'
  AND k.p_name = 'red widget'
  AND lt.p_name LIKE '%bolt%'
  AND NULLIF(mc.l_tax, 0.0) IS NULL
  AND mi.l_returnflag IN ('A', 'N')
  AND t.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '2000-12-31'
  AND lt.p_partkey = ml.l_partkey
  AND ml.l_orderkey = t.o_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_partkey = k.p_partkey
  AND t.o_orderkey = mc.l_orderkey
  AND mc.l_suppkey = cn.s_suppkey
  AND nn.n_nationkey = cn.s_nationkey
  AND ct.p_partkey = mc.l_partkey
  AND mi.l_orderkey = t.o_orderkey
  AND ml.l_orderkey = mk.l_orderkey
  AND ml.l_orderkey = mc.l_orderkey
  AND mk.l_orderkey = mc.l_orderkey
  AND ml.l_orderkey = mi.l_orderkey
  AND mk.l_orderkey = mi.l_orderkey
  AND mc.l_orderkey = mi.l_orderkey
"""

_JOB3["job_22a"] = """
SELECT MIN(cn.s_name) AS movie_company, MIN(mi_idx.l_quantity) AS rating,
       MIN(t.o_orderdate) AS western_violent_movie
FROM supplier AS cn, nation AS nn, part AS ct, part AS it1, part AS it2,
     part AS k, customer AS c, nation AS kn,
     lineitem AS mc, lineitem AS mi, lineitem AS mi_idx, lineitem AS mk,
     orders AS t
WHERE nn.n_name <> 'NATION_0'
  AND it1.p_type = 'LARGE'
  AND it2.p_type = 'SMALL'
  AND k.p_name IN ('red widget', 'blue bolt', 'small ring', 'green gear')
  AND kn.n_name LIKE 'NATION_%'
  AND mc.l_discount >= 0.01 AND mc.l_returnflag <> 'R'
  AND mi.l_returnflag IN ('A', 'N')
  AND mi_idx.l_quantity < 35
  AND t.o_orderdate > DATE '1997-01-01'
  AND kn.n_nationkey = c.c_nationkey
  AND c.c_custkey = t.o_custkey
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND mk.l_orderkey = mi.l_orderkey
  AND mk.l_orderkey = mi_idx.l_orderkey
  AND mk.l_orderkey = mc.l_orderkey
  AND mi.l_orderkey = mi_idx.l_orderkey
  AND mi.l_orderkey = mc.l_orderkey
  AND mc.l_orderkey = mi_idx.l_orderkey
  AND k.p_partkey = mk.l_partkey
  AND it1.p_partkey = mi.l_partkey
  AND it2.p_partkey = mi_idx.l_partkey
  AND ct.p_partkey = mc.l_partkey
  AND cn.s_suppkey = mc.l_suppkey
  AND nn.n_nationkey = cn.s_nationkey
"""

for _name, _sql in _JOB3.items():
    _register(_name, _sql)

# --- families 23-33 (ref 23a..33c.sql): the deepest graphs in the suite ----
# New structural elements preserved from the reference:
#   * complete_cast (cc) as a FIFTH bridge fact -> 5-bridge transitive
#     cliques (10 pairwise equalities) in families 27-30;
#   * comp_cast_type cct1/cct2 = two dims hung off ONE bridge row -> part
#     via cc.l_partkey + supplier via cc.l_suppkey;
#   * kind_type kt = a dim keyed off the FACT (kt.id = t.kind_id) ->
#     customer via t.o_custkey (or the customer->nation->region chain);
#   * person-side star (name/aka_name/person_info/char_name/role_type) ->
#     customer + customer alias + orders alias + supplier + part, keyed on
#     o_custkey / l_suppkey exactly like families 7-9;
#   * movie_link (ml) = a LINK bridge with two distinct FKs into the same
#     relation (ml.movie_id -> t1, ml.linked_movie_id -> t2): re-keyed as
#     lineitem with l_orderkey -> t1 and l_suppkey -> t2 (o_orderkey is
#     dense 0..N so suppkey values all resolve) — the fact-self-join-via-
#     link shape of families 32/33, the hardest ordering case in JOB.
_JOB4: dict[str, str] = {}

# 11 relations, 4-bridge clique + fact-keyed dim (ref 23a).
_JOB4["job_23a"] = """
SELECT MIN(kt.c_mktsegment) AS movie_kind, MIN(t.o_orderdate) AS complete_us_internet_movie
FROM lineitem AS cc, part AS cct1, supplier AS cn, part AS ct, part AS it1,
     part AS k, customer AS kt, lineitem AS mc, lineitem AS mi,
     lineitem AS mk, orders AS t
WHERE cct1.p_type = 'STANDARD'
  AND cn.s_acctbal > 2000
  AND it1.p_type = 'PROMO'
  AND kt.c_mktsegment IN ('BUILDING')
  AND mi.l_returnflag = 'N'
  AND mi.l_quantity IS NOT NULL AND (mi.l_quantity < 15 OR mi.l_quantity > 40)
  AND t.o_orderdate > DATE '1999-01-01'
  AND kt.c_custkey = t.o_custkey
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = cc.l_orderkey
  AND mk.l_orderkey = mi.l_orderkey
  AND mk.l_orderkey = mc.l_orderkey
  AND mk.l_orderkey = cc.l_orderkey
  AND mi.l_orderkey = mc.l_orderkey
  AND mi.l_orderkey = cc.l_orderkey
  AND mc.l_orderkey = cc.l_orderkey
  AND k.p_partkey = mk.l_partkey
  AND it1.p_partkey = mi.l_partkey
  AND cn.s_suppkey = mc.l_suppkey
  AND ct.p_partkey = mc.l_partkey
  AND cct1.p_partkey = cc.l_partkey
"""
_JOB4["job_23b"] = (
    _JOB4["job_23a"]
    .replace("'STANDARD'", "'ECONOMY'")
    .replace("s_acctbal > 2000", "s_acctbal > 4500")
    .replace("'PROMO'", "'LARGE'")
    .replace("('BUILDING')", "('MACHINERY', 'HOUSEHOLD')")
    .replace("l_returnflag = 'N'", "l_returnflag = 'R'")
    .replace("DATE '1999-01-01'", "DATE '1997-01-01'")
)

# 12 relations, person-side star: n + an aliases, chn, rt (ref 24a).
_JOB4["job_24a"] = """
SELECT MIN(chn.s_name) AS voiced_char_name, MIN(n.c_name) AS voicing_actress_name,
       MIN(t.o_orderdate) AS voiced_action_movie_jap_eng
FROM customer AS an, supplier AS chn, lineitem AS ci, supplier AS cn,
     part AS it, part AS k, lineitem AS mc, lineitem AS mi, lineitem AS mk,
     customer AS n, part AS rt, orders AS t
WHERE ci.l_returnflag IN ('A', 'N')
  AND cn.s_acctbal >= 0
  AND it.p_type = 'PROMO'
  AND k.p_name IN ('red widget', 'blue bolt', 'small ring')
  AND mi.l_quantity IS NOT NULL AND (mi.l_quantity < 12 OR mi.l_quantity > 42)
  AND n.c_mktsegment = 'AUTOMOBILE' AND n.c_name LIKE '%1%'
  AND rt.p_type = 'SMALL'
  AND t.o_orderdate > DATE '1998-01-01'
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mc.l_orderkey = ci.l_orderkey
  AND mc.l_orderkey = mi.l_orderkey
  AND mc.l_orderkey = mk.l_orderkey
  AND mi.l_orderkey = ci.l_orderkey
  AND mi.l_orderkey = mk.l_orderkey
  AND ci.l_orderkey = mk.l_orderkey
  AND cn.s_suppkey = mc.l_suppkey
  AND it.p_partkey = mi.l_partkey
  AND n.c_custkey = t.o_custkey
  AND rt.p_partkey = ci.l_partkey
  AND n.c_custkey = an.c_custkey
  AND chn.s_suppkey = ci.l_suppkey
  AND k.p_partkey = mk.l_partkey
"""

# 9 relations, 4-bridge clique + dual typed dims + person dim (ref 25a).
_JOB4["job_25a"] = """
SELECT MIN(mi.l_shipdate) AS movie_budget, MIN(mi_idx.l_quantity) AS movie_votes,
       MIN(n.s_name) AS male_writer, MIN(t.o_orderdate) AS violent_movie_title
FROM lineitem AS ci, part AS it1, part AS it2, part AS k, lineitem AS mi,
     lineitem AS mi_idx, lineitem AS mk, supplier AS n, orders AS t
WHERE ci.l_returnflag IN ('A', 'R')
  AND it1.p_type = 'MEDIUM'
  AND it2.p_type = 'STANDARD'
  AND k.p_name IN ('red widget', 'blue bolt', 'green gear', 'small ring', 'blue ring')
  AND mi.l_linestatus = 'F'
  AND n.s_acctbal > 0
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND ci.l_orderkey = mi.l_orderkey
  AND ci.l_orderkey = mi_idx.l_orderkey
  AND ci.l_orderkey = mk.l_orderkey
  AND mi.l_orderkey = mi_idx.l_orderkey
  AND mi.l_orderkey = mk.l_orderkey
  AND mi_idx.l_orderkey = mk.l_orderkey
  AND n.s_suppkey = ci.l_suppkey
  AND it1.p_partkey = mi.l_partkey
  AND it2.p_partkey = mi_idx.l_partkey
  AND k.p_partkey = mk.l_partkey
"""

# 12 relations: cc bridge with dims on BOTH its keys + chained fact dim
# (ref 26a).
_JOB4["job_26a"] = """
SELECT MIN(chn.s_name) AS character_name, MIN(mi_idx.l_quantity) AS rating,
       MIN(n.c_name) AS playing_actor, MIN(t.o_orderdate) AS complete_hero_movie
FROM lineitem AS cc, part AS cct1, supplier AS cct2, supplier AS chn,
     lineitem AS ci, part AS it2, part AS k, nation AS kt,
     lineitem AS mi_idx, lineitem AS mk, customer AS n, orders AS t
WHERE cct1.p_type = 'LARGE'
  AND cct2.s_name LIKE '%00%'
  AND chn.s_name IS NOT NULL AND (chn.s_name LIKE '%1%' OR chn.s_name LIKE '%2%')
  AND it2.p_type = 'MEDIUM'
  AND k.p_name IN ('red widget', 'blue bolt', 'small ring', 'green gear',
                   'blue gizmo', 'cold anvil', 'blue plate', 'blue rod',
                   'cold bolt', 'cold gear')
  AND kt.n_name LIKE 'NATION_%'
  AND mi_idx.l_quantity > 35
  AND t.o_orderdate > DATE '1998-01-01'
  AND kt.n_nationkey = n.c_nationkey
  AND n.c_custkey = t.o_custkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND t.o_orderkey = cc.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND mk.l_orderkey = ci.l_orderkey
  AND mk.l_orderkey = cc.l_orderkey
  AND mk.l_orderkey = mi_idx.l_orderkey
  AND ci.l_orderkey = cc.l_orderkey
  AND ci.l_orderkey = mi_idx.l_orderkey
  AND cc.l_orderkey = mi_idx.l_orderkey
  AND chn.s_suppkey = ci.l_suppkey
  AND k.p_partkey = mk.l_partkey
  AND cct1.p_partkey = cc.l_partkey
  AND cct2.s_suppkey = cc.l_suppkey
  AND it2.p_partkey = mi_idx.l_partkey
"""

# 12 relations, FIVE-bridge clique incl. the link bridge ml (ref 27a).
_JOB4["job_27a"] = """
SELECT MIN(cn.s_name) AS producing_company, MIN(lt.p_name) AS link_type,
       MIN(t.o_orderdate) AS complete_western_sequel
FROM lineitem AS cc, part AS cct1, supplier AS cct2, supplier AS cn,
     part AS ct, part AS k, part AS lt, lineitem AS mc, lineitem AS mi,
     lineitem AS mk, lineitem AS ml, orders AS t
WHERE cct1.p_type IN ('SMALL', 'MEDIUM')
  AND cct2.s_name LIKE '%0%'
  AND cn.s_name NOT LIKE '%9%'
  AND (cn.s_name LIKE '%01%' OR cn.s_name LIKE '%02%')
  AND ct.p_type = 'PROMO'
  AND k.p_name = 'red widget'
  AND lt.p_name LIKE '%bolt%'
  AND NULLIF(mc.l_tax, 0.0) IS NULL
  AND mi.l_returnflag IN ('A', 'N')
  AND t.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1999-12-31'
  AND lt.p_partkey = ml.l_partkey
  AND ml.l_orderkey = t.o_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND mk.l_partkey = k.p_partkey
  AND t.o_orderkey = mc.l_orderkey
  AND mc.l_partkey = ct.p_partkey
  AND mc.l_suppkey = cn.s_suppkey
  AND mi.l_orderkey = t.o_orderkey
  AND t.o_orderkey = cc.l_orderkey
  AND cct1.p_partkey = cc.l_partkey
  AND cct2.s_suppkey = cc.l_suppkey
  AND ml.l_orderkey = mk.l_orderkey
  AND ml.l_orderkey = mc.l_orderkey
  AND mk.l_orderkey = mc.l_orderkey
  AND ml.l_orderkey = mi.l_orderkey
  AND mk.l_orderkey = mi.l_orderkey
  AND mc.l_orderkey = mi.l_orderkey
  AND ml.l_orderkey = cc.l_orderkey
  AND mk.l_orderkey = cc.l_orderkey
  AND mc.l_orderkey = cc.l_orderkey
  AND mi.l_orderkey = cc.l_orderkey
"""

# 14 relations, 5-bridge clique + fact-keyed dim + <>/NOT LIKE (ref 28a).
_JOB4["job_28a"] = """
SELECT MIN(cn.s_name) AS movie_company, MIN(mi_idx.l_quantity) AS rating,
       MIN(t.o_orderdate) AS complete_euro_dark_movie
FROM lineitem AS cc, part AS cct1, supplier AS cct2, supplier AS cn,
     part AS ct, part AS it1, part AS it2, part AS k, customer AS kt,
     lineitem AS mc, lineitem AS mi, lineitem AS mi_idx, lineitem AS mk,
     orders AS t
WHERE cct1.p_type = 'LARGE'
  AND cct2.s_name <> 'Supplier#000000001'
  AND cn.s_acctbal > 1000
  AND it1.p_type = 'ECONOMY'
  AND it2.p_type = 'MEDIUM'
  AND k.p_name IN ('red widget', 'blue bolt', 'blue ring', 'green gear')
  AND kt.c_mktsegment IN ('BUILDING', 'MACHINERY')
  AND mc.l_linestatus <> 'F' AND mc.l_discount BETWEEN 0.02 AND 0.08
  AND mi.l_returnflag IN ('A', 'N', 'R')
  AND mi_idx.l_quantity < 42
  AND t.o_orderdate > DATE '1998-06-01'
  AND kt.c_custkey = t.o_custkey
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = cc.l_orderkey
  AND mk.l_orderkey = mi.l_orderkey
  AND mk.l_orderkey = mi_idx.l_orderkey
  AND mk.l_orderkey = mc.l_orderkey
  AND mk.l_orderkey = cc.l_orderkey
  AND mi.l_orderkey = mi_idx.l_orderkey
  AND mi.l_orderkey = mc.l_orderkey
  AND mi.l_orderkey = cc.l_orderkey
  AND mc.l_orderkey = mi_idx.l_orderkey
  AND mc.l_orderkey = cc.l_orderkey
  AND mi_idx.l_orderkey = cc.l_orderkey
  AND k.p_partkey = mk.l_partkey
  AND it1.p_partkey = mi.l_partkey
  AND it2.p_partkey = mi_idx.l_partkey
  AND ct.p_partkey = mc.l_partkey
  AND cn.s_suppkey = mc.l_suppkey
  AND cct1.p_partkey = cc.l_partkey
  AND cct2.s_suppkey = cc.l_suppkey
"""
_JOB4["job_28b"] = (
    _JOB4["job_28a"]
    .replace("cct1.p_type = 'LARGE'", "cct1.p_type = 'SMALL'")
    .replace("'Supplier#000000001'", "'Supplier#000000002'")
    .replace("s_acctbal > 1000", "s_acctbal > 3000")
    .replace("'ECONOMY'", "'STANDARD'")
    .replace("it2.p_type = 'MEDIUM'", "it2.p_type = 'PROMO'")
    .replace("('BUILDING', 'MACHINERY')", "('FURNITURE', 'HOUSEHOLD')")
    .replace("l_quantity < 42", "l_quantity < 30")
    .replace("DATE '1998-06-01'", "DATE '1996-06-01'")
)

# 17 relations — the deepest graph in the suite: 5-bridge clique +
# full person-side star + company dims + a chained nation/region leg
# (ref 29a, the 17-relation maximum of JOB).
_JOB4["job_29a"] = """
SELECT MIN(chn.s_name) AS voiced_char, MIN(n.c_name) AS voicing_actress,
       MIN(t.o_orderdate) AS voiced_animation
FROM customer AS an, lineitem AS cc, part AS cct1, nation AS cct2,
     supplier AS chn, lineitem AS ci, supplier AS cn, part AS it,
     region AS it3, part AS k, lineitem AS mc, lineitem AS mi,
     lineitem AS mk, customer AS n, orders AS pi, part AS rt, orders AS t
WHERE cct1.p_type = 'LARGE'
  AND cct2.n_name LIKE 'NATION_1%'
  AND chn.s_name LIKE '%0%'
  AND ci.l_returnflag = 'N'
  AND cn.s_acctbal >= 0
  AND it.p_type = 'STANDARD'
  AND it3.r_name <> 'AFRICA'
  AND k.p_name IN ('blue gizmo', 'red widget', 'blue bolt', 'small ring')
  AND mi.l_quantity IS NOT NULL AND (mi.l_quantity BETWEEN 5 AND 20 OR mi.l_quantity > 40)
  AND n.c_mktsegment = 'HOUSEHOLD' AND n.c_name LIKE '%2%'
  AND pi.o_orderpriority = '1-URGENT'
  AND rt.p_type = 'MEDIUM'
  AND t.o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1999-12-31'
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = cc.l_orderkey
  AND mc.l_orderkey = ci.l_orderkey
  AND mc.l_orderkey = mi.l_orderkey
  AND mc.l_orderkey = mk.l_orderkey
  AND mc.l_orderkey = cc.l_orderkey
  AND mi.l_orderkey = ci.l_orderkey
  AND mi.l_orderkey = mk.l_orderkey
  AND mi.l_orderkey = cc.l_orderkey
  AND ci.l_orderkey = mk.l_orderkey
  AND ci.l_orderkey = cc.l_orderkey
  AND mk.l_orderkey = cc.l_orderkey
  AND cn.s_suppkey = mc.l_suppkey
  AND it.p_partkey = mi.l_partkey
  AND n.c_custkey = t.o_custkey
  AND rt.p_partkey = ci.l_partkey
  AND n.c_custkey = an.c_custkey
  AND chn.s_suppkey = ci.l_suppkey
  AND n.c_custkey = pi.o_custkey
  AND pi.o_custkey = an.c_custkey
  AND cct2.n_nationkey = chn.s_nationkey
  AND it3.r_regionkey = cct2.n_regionkey
  AND k.p_partkey = mk.l_partkey
  AND cct1.p_partkey = cc.l_partkey
"""

# 12 relations, 5-bridge clique + person dim (ref 30a).
_JOB4["job_30a"] = """
SELECT MIN(mi.l_shipdate) AS movie_budget, MIN(mi_idx.l_quantity) AS movie_votes,
       MIN(n.s_name) AS writer, MIN(t.o_orderdate) AS complete_violent_movie
FROM lineitem AS cc, part AS cct1, supplier AS cct2, lineitem AS ci,
     part AS it1, part AS it2, part AS k, lineitem AS mi,
     lineitem AS mi_idx, lineitem AS mk, supplier AS n, orders AS t
WHERE cct1.p_type IN ('SMALL', 'LARGE')
  AND cct2.s_name LIKE '%0%'
  AND ci.l_returnflag IN ('A', 'R')
  AND it1.p_type = 'MEDIUM'
  AND it2.p_type = 'STANDARD'
  AND k.p_name IN ('red widget', 'blue bolt', 'green gear', 'small ring',
                   'blue ring', 'cold gizmo', 'blue anvil')
  AND mi.l_linestatus = 'F'
  AND n.s_acctbal > 0
  AND t.o_orderdate > DATE '1998-01-01'
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = cc.l_orderkey
  AND ci.l_orderkey = mi.l_orderkey
  AND ci.l_orderkey = mi_idx.l_orderkey
  AND ci.l_orderkey = mk.l_orderkey
  AND ci.l_orderkey = cc.l_orderkey
  AND mi.l_orderkey = mi_idx.l_orderkey
  AND mi.l_orderkey = mk.l_orderkey
  AND mi.l_orderkey = cc.l_orderkey
  AND mi_idx.l_orderkey = mk.l_orderkey
  AND mi_idx.l_orderkey = cc.l_orderkey
  AND mk.l_orderkey = cc.l_orderkey
  AND n.s_suppkey = ci.l_suppkey
  AND it1.p_partkey = mi.l_partkey
  AND it2.p_partkey = mi_idx.l_partkey
  AND k.p_partkey = mk.l_partkey
  AND cct1.p_partkey = cc.l_partkey
  AND cct2.s_suppkey = cc.l_suppkey
"""

# 11 relations, 25a + company leg with LIKE-prefix dim (ref 31a).
_JOB4["job_31a"] = """
SELECT MIN(mi.l_shipdate) AS movie_budget, MIN(mi_idx.l_quantity) AS movie_votes,
       MIN(n.s_name) AS writer, MIN(t.o_orderdate) AS violent_liongate_movie
FROM lineitem AS ci, supplier AS cn, part AS it1, part AS it2, part AS k,
     lineitem AS mc, lineitem AS mi, lineitem AS mi_idx, lineitem AS mk,
     supplier AS n, orders AS t
WHERE ci.l_returnflag IN ('A', 'R')
  AND cn.s_name LIKE 'Supplier#00000001%'
  AND it1.p_type = 'MEDIUM'
  AND it2.p_type = 'STANDARD'
  AND k.p_name IN ('red widget', 'blue bolt', 'green gear', 'small ring',
                   'blue ring', 'cold gizmo', 'blue anvil')
  AND mi.l_linestatus = 'F'
  AND n.s_acctbal > 0
  AND t.o_orderkey = mi.l_orderkey
  AND t.o_orderkey = mi_idx.l_orderkey
  AND t.o_orderkey = ci.l_orderkey
  AND t.o_orderkey = mk.l_orderkey
  AND t.o_orderkey = mc.l_orderkey
  AND ci.l_orderkey = mi.l_orderkey
  AND ci.l_orderkey = mi_idx.l_orderkey
  AND ci.l_orderkey = mk.l_orderkey
  AND ci.l_orderkey = mc.l_orderkey
  AND mi.l_orderkey = mi_idx.l_orderkey
  AND mi.l_orderkey = mk.l_orderkey
  AND mi.l_orderkey = mc.l_orderkey
  AND mi_idx.l_orderkey = mk.l_orderkey
  AND mi_idx.l_orderkey = mc.l_orderkey
  AND mk.l_orderkey = mc.l_orderkey
  AND n.s_suppkey = ci.l_suppkey
  AND it1.p_partkey = mi.l_partkey
  AND it2.p_partkey = mi_idx.l_partkey
  AND k.p_partkey = mk.l_partkey
  AND cn.s_suppkey = mc.l_suppkey
"""

# 6 relations, link bridge joining TWO copies of the fact (ref 32a):
# ml.l_orderkey -> t1, ml.l_suppkey -> t2 (o_orderkey dense 0..N, so every
# suppkey resolves to a second order — the movie_id/linked_movie_id shape).
_JOB4["job_32a"] = """
SELECT MIN(lt.p_name) AS link_type, MIN(t1.o_orderdate) AS first_movie,
       MIN(t2.o_orderdate) AS second_movie
FROM part AS k, part AS lt, lineitem AS mk, lineitem AS ml,
     orders AS t1, orders AS t2
WHERE k.p_name = 'red widget'
  AND mk.l_partkey = k.p_partkey
  AND t1.o_orderkey = mk.l_orderkey
  AND ml.l_orderkey = t1.o_orderkey
  AND t2.o_orderkey = ml.l_suppkey
  AND lt.p_partkey = ml.l_partkey
  AND mk.l_orderkey = ml.l_orderkey
"""

# 14 relations, TWO full dimension stars around the linked facts t1/t2
# (ref 33a/33b/33c — the join-enumeration stress maximum of the suite).
_JOB4["job_33a"] = """
SELECT MIN(cn1.s_name) AS first_company, MIN(cn2.s_name) AS second_company,
       MIN(mi_idx1.l_quantity) AS first_rating, MIN(mi_idx2.l_quantity) AS second_rating,
       MIN(t1.o_orderdate) AS first_movie, MIN(t2.o_orderdate) AS second_movie
FROM supplier AS cn1, supplier AS cn2, part AS it1, part AS it2,
     customer AS kt1, customer AS kt2, part AS lt, lineitem AS mc1,
     lineitem AS mc2, lineitem AS mi_idx1, lineitem AS mi_idx2,
     lineitem AS ml, orders AS t1, orders AS t2
WHERE cn1.s_acctbal >= 0
  AND it1.p_type = 'MEDIUM'
  AND it2.p_type = 'MEDIUM'
  AND kt1.c_mktsegment IN ('BUILDING')
  AND kt2.c_mktsegment IN ('BUILDING')
  AND lt.p_name IN ('red widget', 'blue bolt', 'green gear')
  AND mi_idx2.l_quantity < 15
  AND t2.o_orderdate BETWEEN DATE '1998-01-01' AND DATE '1999-12-31'
  AND lt.p_partkey = ml.l_partkey
  AND t1.o_orderkey = ml.l_orderkey
  AND t2.o_orderkey = ml.l_suppkey
  AND it1.p_partkey = mi_idx1.l_partkey
  AND t1.o_orderkey = mi_idx1.l_orderkey
  AND kt1.c_custkey = t1.o_custkey
  AND cn1.s_suppkey = mc1.l_suppkey
  AND t1.o_orderkey = mc1.l_orderkey
  AND ml.l_orderkey = mi_idx1.l_orderkey
  AND ml.l_orderkey = mc1.l_orderkey
  AND mi_idx1.l_orderkey = mc1.l_orderkey
  AND it2.p_partkey = mi_idx2.l_partkey
  AND t2.o_orderkey = mi_idx2.l_orderkey
  AND kt2.c_custkey = t2.o_custkey
  AND cn2.s_suppkey = mc2.l_suppkey
  AND t2.o_orderkey = mc2.l_orderkey
  AND ml.l_suppkey = mi_idx2.l_orderkey
  AND ml.l_suppkey = mc2.l_orderkey
  AND mi_idx2.l_orderkey = mc2.l_orderkey
"""
_JOB4["job_33b"] = (
    _JOB4["job_33a"]
    .replace("cn1.s_acctbal >= 0", "cn1.s_name LIKE '%005%'")
    .replace("lt.p_name IN ('red widget', 'blue bolt', 'green gear')",
             "lt.p_name LIKE '%bolt%'")
    .replace("mi_idx2.l_quantity < 15", "mi_idx2.l_quantity <= 10")
    .replace("DATE '1998-01-01' AND DATE '1999-12-31'",
             "DATE '1997-01-01' AND DATE '2000-12-31'")
)
_JOB4["job_33c"] = (
    _JOB4["job_33a"]
    .replace("cn1.s_acctbal >= 0", "cn1.s_name NOT LIKE '%000001%'")
    .replace("it1.p_type = 'MEDIUM'", "it1.p_type = 'LARGE'")
    .replace("it2.p_type = 'MEDIUM'", "it2.p_type = 'LARGE'")
    .replace("kt1.c_mktsegment IN ('BUILDING')",
             "kt1.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')")
    .replace("kt2.c_mktsegment IN ('BUILDING')",
             "kt2.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')")
    .replace("mi_idx2.l_quantity < 15", "mi_idx2.l_quantity < 18")
    .replace("DATE '1998-01-01' AND DATE '1999-12-31'",
             "DATE '1996-01-01' AND DATE '2000-12-31'")
)

for _name, _sql in _JOB4.items():
    _register(_name, _sql)

# --- c/d variants for families 1-10 (ref 1c.sql, 1d.sql, 2c, 2d, 3c, 4b, 4c,
# 5b, 5c, 6b, 6c, 6d, 7b, 7c, 8b, 8c, 8d, 9b, 9c, 9d): the reference's
# within-family variants keep the join graph IDENTICAL and move only the
# predicate constants/selectivities (tighter LIKE pairs, different country
# codes, shifted year windows, broader/narrower IN-lists) — that is exactly
# what stresses a cost-based reorderer, because cardinality estimates shift
# while the graph does not.  Derived here the same way (textual predicate
# substitution on the family base), so graph identity is guaranteed.
_JOB5: dict[str, str] = {}

_JOB5["job_1c"] = (
    _JOB["job_1a"]
    .replace("mc.l_returnflag <> 'R' AND (mc.l_linestatus = 'O' OR mc.l_discount > 0.05)",
             "mc.l_returnflag NOT IN ('R') AND mc.l_linestatus LIKE 'O%'")
    .replace("it.p_type = 'PROMO'", "it.p_type = 'STANDARD'")
    .replace("ct.s_acctbal > 5000", "ct.s_acctbal > 8000")
)
_JOB5["job_1d"] = (
    _JOB["job_1b"]
    .replace("it.p_type = 'ECONOMY'", "it.p_type = 'LARGE'")
    .replace("mc.l_quantity < 10", "mc.l_quantity < 5")
    .replace("DATE '1996-01-01' AND DATE '1998-12-31'",
             "DATE '1999-01-01' AND DATE '2001-12-31'")
)
_JOB5["job_2c"] = (
    _JOB["job_2a"]
    .replace("cn.n_name = 'NATION_7'", "cn.n_name = 'NATION_12'")
    .replace("k.p_name = 'red widget'", "k.p_name = 'small gear'")
)
_JOB5["job_2d"] = (
    _JOB["job_2a"]
    .replace("cn.n_name = 'NATION_7'", "cn.n_name = 'NATION_21'")
    .replace("k.p_name = 'red widget'", "k.p_name = 'hot ring'")
)
_JOB5["job_3c"] = (
    _JOB["job_3a"]
    .replace("k.p_name LIKE '%widget%'", "k.p_name LIKE '%gear%'")
    .replace("mi.l_returnflag IN ('A', 'N')", "mi.l_returnflag IN ('R')")
    .replace("DATE '1998-01-01'", "DATE '2001-01-01'")
)
_JOB5["job_4b"] = (
    _JOB["job_4a"]
    .replace("it.p_type = 'STANDARD'", "it.p_type = 'PROMO'")
    .replace("mi_idx.l_quantity > 25", "mi_idx.l_quantity > 45")
    .replace("DATE '1999-01-01'", "DATE '2000-06-01'")
)
_JOB5["job_4c"] = (
    _JOB["job_4a"]
    .replace("k.p_name LIKE '%ring%'", "k.p_name LIKE '%wid%'")
    .replace("mi_idx.l_quantity > 25", "mi_idx.l_quantity > 10")
)
_JOB5["job_5b"] = (
    _JOB["job_5a"]
    .replace("mc.l_discount >= 0.05 AND mc.l_discount <= 0.07",
             "mc.l_discount >= 0.08 AND mc.l_discount <= 0.10")
    .replace("DATE '1997-01-01'", "DATE '2000-01-01'")
)
_JOB5["job_5c"] = (
    _JOB["job_5a"]
    .replace("mi.l_returnflag IN ('A', 'N', 'R')", "mi.l_returnflag IN ('A')")
    .replace("ct.s_name LIKE '%001%'", "ct.s_name LIKE '%002%'")
    .replace("DATE '1997-01-01'", "DATE '1995-06-01'")
)
_JOB5["job_6b"] = (
    _JOB["job_6a"]
    .replace("k.p_name = 'small ring'", "k.p_name = 'large rod'")
    .replace("n.s_name LIKE '%00001%'", "n.s_name LIKE '%00002%'")
    .replace("DATE '1996-06-01'", "DATE '1999-06-01'")
)
_JOB5["job_6c"] = (
    _JOB["job_6a"]
    .replace("k.p_name = 'small ring'", "k.p_name = 'red widget'")
    .replace("n.s_name LIKE '%00001%'", "n.s_name LIKE '%0001%'")
    .replace("DATE '1996-06-01'", "DATE '2000-01-01'")
)
_JOB5["job_6d"] = (
    _JOB["job_6a"]
    .replace("k.p_name = 'small ring'", "k.p_name = 'hot bolt'")
    .replace("DATE '1996-06-01'", "DATE '1995-01-01'")
)
_JOB5["job_7b"] = (
    _JOB["job_7a"]
    .replace("it.p_type = 'MEDIUM'", "it.p_type = 'SMALL'")
    .replace("AND (n.c_mktsegment = 'BUILDING'\n"
             "       OR (n.c_mktsegment = 'AUTOMOBILE' AND n.c_name LIKE '%2%'))",
             "AND n.c_mktsegment = 'HOUSEHOLD'")
    .replace("BETWEEN 'Customer#000000100' AND 'Customer#000000600'",
             "BETWEEN 'Customer#000000050' AND 'Customer#000000250'")
)
_JOB5["job_7c"] = (
    _JOB["job_7a"]
    .replace("lt.r_name = 'ASIA'", "lt.r_name = 'EUROPE'")
    .replace("pi.o_orderpriority = '1-URGENT'", "pi.o_orderpriority = '2-HIGH'")
    .replace("BETWEEN 'Customer#000000100' AND 'Customer#000000600'",
             "BETWEEN 'Customer#000000100' AND 'Customer#000001500'")
)
_JOB5["job_8b"] = (
    _JOB["job_8a"]
    .replace("cn.n_name = 'NATION_11'", "cn.n_name = 'NATION_3'")
    .replace("rt.p_type = 'LARGE'", "rt.p_type = 'SMALL'")
)
_JOB5["job_8c"] = (
    _JOB["job_8a"]
    .replace("n1.c_name LIKE '%3%' AND n1.c_name NOT LIKE '%8%'",
             "n1.c_name LIKE '%4%'")
    .replace("mc.l_discount >= 0.02 AND mc.l_tax < 0.05",
             "mc.l_discount >= 0.01 AND mc.l_tax < 0.08")
)
_JOB5["job_8d"] = (
    _JOB["job_8a"]
    .replace("cn.n_name = 'NATION_11'", "cn.n_name LIKE 'NATION_2%'")
    .replace("mc.l_discount >= 0.02 AND mc.l_tax < 0.05",
             "mc.l_discount >= 0.05 AND mc.l_tax < 0.05")
)
_JOB5["job_9b"] = (
    _JOB["job_9a"]
    .replace("n.c_mktsegment = 'FURNITURE' AND n.c_name LIKE '%5%'",
             "n.c_mktsegment = 'MACHINERY' AND n.c_name LIKE '%5%'")
    .replace("rt.p_type = 'SMALL'", "rt.p_type = 'PROMO'")
    .replace("cn.n_name = 'NATION_19'", "cn.n_name = 'NATION_6'")
)
_JOB5["job_9c"] = (
    _JOB["job_9a"]
    .replace("n.c_mktsegment = 'FURNITURE' AND n.c_name LIKE '%5%'",
             "n.c_mktsegment = 'FURNITURE' AND n.c_name LIKE '%7%'")
    .replace("mc.l_quantity BETWEEN 5 AND 40", "mc.l_quantity BETWEEN 10 AND 20")
)
_JOB5["job_9d"] = (
    _JOB["job_9a"]
    .replace("n.c_mktsegment = 'FURNITURE' AND n.c_name LIKE '%5%'",
             "n.c_name LIKE '%5%'")
    .replace("DATE '1996-01-01' AND DATE '2000-12-31'",
             "DATE '1995-01-01' AND DATE '2001-12-31'")
)

for _name, _sql in _JOB5.items():
    assert _sql not in _JOB.values(), f"{_name}: replace() did not change the base"
    _register(_name, _sql)

# --- remaining reference variants (11c..32b): completes the 113-query JOB
# suite.  Same derivation rule as _JOB5: identical join graph per family,
# predicate constants/selectivities moved per the reference's variant files
# (each asserted to differ from every other entry at registration).
_JOB6: dict[str, str] = {}

_JOB6["job_11c"] = (
    _JOB2["job_11a"]
    .replace("nn.n_name <> 'NATION_5'", "nn.n_name <> 'NATION_17'")
    .replace("ct.p_type = 'PROMO'", "ct.p_type = 'MEDIUM'")
    .replace("k.p_name = 'red widget'", "k.p_name = 'hot plate'")
    .replace("lt.p_name LIKE '%bolt%'", "lt.p_name LIKE '%rod%'")
)
_JOB6["job_11d"] = (
    _JOB2["job_11a"]
    .replace("(cn.s_name LIKE '%001%' OR cn.s_name LIKE '%002%')",
             "cn.s_name LIKE '%00%'")
    .replace("NULLIF(mc.l_tax, 0.0) IS NULL", "mc.l_tax >= 0.0")
    .replace("DATE '1995-01-01' AND DATE '2000-12-31'",
             "DATE '1996-01-01' AND DATE '1999-12-31'")
)
_JOB6["job_12c"] = (
    _JOB2["job_12a"]
    .replace("nn.n_name = 'NATION_4'", "nn.n_name = 'NATION_23'")
    .replace("it1.p_type = 'MEDIUM'", "it1.p_type = 'SMALL'")
    .replace("mi_idx.l_quantity > 40", "mi_idx.l_quantity > 20")
    .replace("mi.l_returnflag IN ('A', 'N')", "mi.l_returnflag IN ('R')")
)
_JOB6["job_13b"] = (
    _JOB2["job_13a"]
    .replace("nn.n_name = 'NATION_8'", "nn.n_name = 'NATION_16'")
    .replace("kt.r_name = 'ASIA'", "kt.r_name = 'AMERICA'")
    .replace("it.p_type = 'STANDARD'", "it.p_type = 'LARGE'")
)
_JOB6["job_13c"] = (
    _JOB2["job_13a"]
    .replace("ct.p_type = 'PROMO'", "ct.p_type = 'SMALL'")
    .replace("it2.p_type = 'ECONOMY'", "it2.p_type = 'MEDIUM'")
    .replace("kt.r_name = 'ASIA'", "kt.r_name = 'EUROPE'")
)
_JOB6["job_13d"] = (
    _JOB2["job_13a"]
    .replace("nn.n_name = 'NATION_8'", "nn.n_name LIKE 'NATION_2%'")
    .replace("kt.r_name = 'ASIA'", "kt.r_name <> 'ASIA'")
)
_JOB6["job_14c"] = (
    _JOB2["job_14a"]
    .replace("it1.p_type = 'LARGE'", "it1.p_type = 'ECONOMY'")
    .replace("mi_idx.l_quantity < 45", "mi_idx.l_quantity < 15")
    .replace("('red widget', 'blue bolt', 'small ring', 'green gear')",
             "('hot plate', 'old rod', 'blue ring')")
    .replace("DATE '1998-01-01'", "DATE '1995-06-01'")
)
_JOB6["job_15b"] = (
    _JOB2["job_15a"]
    .replace("nn.n_name = 'NATION_6'", "nn.n_name = 'NATION_18'")
    .replace("mc.l_discount >= 0.03 AND mc.l_discount <= 0.08",
             "mc.l_discount >= 0.06 AND mc.l_discount <= 0.09")
    .replace("DATE '1996-01-01'", "DATE '1999-01-01'")
)
_JOB6["job_15c"] = (
    _JOB2["job_15a"]
    .replace("it1.p_type = 'ECONOMY'", "it1.p_type = 'STANDARD'")
    .replace("mi.l_quantity BETWEEN 10 AND 45", "mi.l_quantity BETWEEN 25 AND 50")
)
_JOB6["job_15d"] = (
    _JOB2["job_15a"]
    .replace("nn.n_name = 'NATION_6'", "nn.n_name LIKE 'NATION_1%'")
    .replace("DATE '1996-01-01'", "DATE '1995-01-01'")
)
_JOB6["job_16b"] = (
    _JOB2["job_16a"]
    .replace("cn.n_name = 'NATION_9'", "cn.n_name = 'NATION_24'")
    .replace("k.p_name = 'small ring'", "k.p_name = 'red plate'")
    .replace("t.o_totalprice >= 50000 AND t.o_totalprice < 200000",
             "t.o_totalprice >= 100000 AND t.o_totalprice < 300000")
)
_JOB6["job_16c"] = (
    _JOB2["job_16a"]
    .replace("k.p_name = 'small ring'", "k.p_name = 'small widget'")
    .replace("t.o_totalprice >= 50000 AND t.o_totalprice < 200000",
             "t.o_totalprice >= 20000 AND t.o_totalprice < 120000")
)
_JOB6["job_16d"] = (
    _JOB2["job_16a"]
    .replace("cn.n_name = 'NATION_9'", "cn.n_name LIKE 'NATION_1%'")
    .replace("t.o_totalprice >= 50000 AND t.o_totalprice < 200000",
             "t.o_totalprice >= 50000")
)
_JOB6["job_17c"] = (
    _JOB2["job_17a"]
    .replace("n.c_name LIKE 'Customer#0000001%'", "n.c_name LIKE 'Customer#0000002%'")
    .replace("k.p_name = 'blue bolt'", "k.p_name = 'hot gizmo'")
)
_JOB6["job_17d"] = (
    _JOB2["job_17a"]
    .replace("cn.n_name = 'NATION_12'", "cn.n_name = 'NATION_2'")
    .replace("n.c_name LIKE 'Customer#0000001%'", "n.c_name LIKE 'Customer#00000005%'")
)
_JOB6["job_17e"] = (
    _JOB2["job_17a"]
    .replace("cn.n_name = 'NATION_12'", "cn.n_name LIKE 'NATION_%'")
    .replace("k.p_name = 'blue bolt'", "k.p_name = 'old rod'")
)
_JOB6["job_17f"] = (
    _JOB2["job_17a"]
    .replace("n.c_name LIKE 'Customer#0000001%'", "n.c_name LIKE '%00003%'")
    .replace("k.p_name = 'blue bolt'", "k.p_name = 'blue ring'")
)
_JOB6["job_18b"] = (
    _JOB3["job_18a"]
    .replace("ci.l_returnflag IN ('A', 'R')", "ci.l_returnflag IN ('N')")
    .replace("it1.p_type = 'PROMO'", "it1.p_type = 'SMALL'")
    .replace("n.s_acctbal > 0 AND n.s_name LIKE '%7%'",
             "n.s_acctbal > 2000 AND n.s_name LIKE '%3%'")
)
_JOB6["job_18c"] = (
    _JOB3["job_18a"]
    .replace("it2.p_type = 'STANDARD'", "it2.p_type = 'LARGE'")
    .replace("n.s_acctbal > 0 AND n.s_name LIKE '%7%'", "n.s_acctbal > 0")
)
_JOB6["job_19b"] = (
    _JOB3["job_19a"]
    .replace("cn.n_name = 'NATION_15'", "cn.n_name = 'NATION_7'")
    .replace("it.p_type = 'MEDIUM'", "it.p_type = 'LARGE'")
    .replace("n.c_mktsegment = 'HOUSEHOLD' AND n.c_name LIKE '%9%'",
             "n.c_mktsegment = 'BUILDING' AND n.c_name LIKE '%4%'")
)
_JOB6["job_19c"] = (
    _JOB3["job_19a"]
    .replace("(mi.l_quantity < 15 OR mi.l_quantity > 35)",
             "(mi.l_quantity < 8 OR mi.l_quantity > 44)")
    .replace("DATE '1996-01-01' AND DATE '2000-12-31'",
             "DATE '1998-01-01' AND DATE '2001-12-31'")
)
_JOB6["job_19d"] = (
    _JOB3["job_19a"]
    .replace("n.c_mktsegment = 'HOUSEHOLD' AND n.c_name LIKE '%9%'",
             "n.c_name LIKE '%9%'")
    .replace("rt.p_type = 'SMALL'", "rt.p_type = 'ECONOMY'")
)
_JOB6["job_20b"] = (
    _JOB3["job_20a"]
    .replace("kt.p_type = 'LARGE'", "kt.p_type = 'MEDIUM'")
    .replace("chn.s_name NOT LIKE '%9%'", "chn.s_name NOT LIKE '%8%'")
    .replace("DATE '1995-06-01'", "DATE '1998-06-01'")
)
_JOB6["job_20c"] = (
    _JOB3["job_20a"]
    .replace("cct1.n_name LIKE 'NATION_1%'", "cct1.n_name LIKE 'NATION_2%'")
    .replace("('red widget', 'blue bolt', 'small ring', 'green gear',\n"
             "                   'large cog')",
             "('red plate', 'hot ring', 'old rod')")
)
_JOB6["job_21b"] = (
    _JOB3["job_21a"]
    .replace("nn.n_name <> 'NATION_5'", "nn.n_name <> 'NATION_11'")
    .replace("k.p_name = 'red widget'", "k.p_name = 'blue widget'")
    .replace("mi.l_returnflag IN ('A', 'N')", "mi.l_returnflag IN ('R')")
)
_JOB6["job_21c"] = (
    _JOB3["job_21a"]
    .replace("lt.p_name LIKE '%bolt%'", "lt.p_name LIKE '%plate%'")
    .replace("DATE '1995-01-01' AND DATE '2000-12-31'",
             "DATE '1997-01-01' AND DATE '2001-12-31'")
)
_JOB6["job_22b"] = (
    _JOB3["job_22a"]
    .replace("nn.n_name <> 'NATION_0'", "nn.n_name <> 'NATION_13'")
    .replace("it1.p_type = 'LARGE'", "it1.p_type = 'PROMO'")
    .replace("mi_idx.l_quantity < 35", "mi_idx.l_quantity < 20")
)
_JOB6["job_22c"] = (
    _JOB3["job_22a"]
    .replace("('red widget', 'blue bolt', 'small ring', 'green gear')",
             "('red plate', 'small widget', 'hot bolt')")
    .replace("DATE '1997-01-01'", "DATE '1995-01-01'")
)
_JOB6["job_22d"] = (
    _JOB3["job_22a"]
    .replace("mc.l_discount >= 0.01 AND mc.l_returnflag <> 'R'",
             "mc.l_discount >= 0.04 AND mc.l_returnflag <> 'A'")
    .replace("it2.p_type = 'SMALL'", "it2.p_type = 'ECONOMY'")
)
_JOB6["job_23c"] = (
    _JOB4["job_23a"]
    .replace("kt.c_mktsegment IN ('BUILDING')", "kt.c_mktsegment IN ('FURNITURE')")
    .replace("mi.l_returnflag = 'N'", "mi.l_returnflag = 'A'")
    .replace("(mi.l_quantity < 15 OR mi.l_quantity > 40)",
             "(mi.l_quantity < 25 OR mi.l_quantity > 45)")
    .replace("DATE '1999-01-01'", "DATE '2000-01-01'")
)
_JOB6["job_24b"] = (
    _JOB4["job_24a"]
    .replace("n.c_mktsegment = 'AUTOMOBILE' AND n.c_name LIKE '%1%'",
             "n.c_mktsegment = 'MACHINERY' AND n.c_name LIKE '%8%'")
    .replace("('red widget', 'blue bolt', 'small ring')",
             "('hot plate', 'large rod')")
    .replace("it.p_type = 'PROMO'", "it.p_type = 'ECONOMY'")
)
_JOB6["job_25b"] = (
    _JOB4["job_25a"]
    .replace("it1.p_type = 'MEDIUM'", "it1.p_type = 'PROMO'")
    .replace("mi.l_linestatus = 'F'", "mi.l_linestatus = 'O'")
    .replace("('red widget', 'blue bolt', 'green gear', 'small ring', 'blue ring')",
             "('red plate', 'hot ring')")
)
_JOB6["job_25c"] = (
    _JOB4["job_25a"]
    .replace("ci.l_returnflag IN ('A', 'R')", "ci.l_returnflag IN ('N')")
    .replace("n.s_acctbal > 0", "n.s_acctbal > 3000")
)
_JOB6["job_26b"] = (
    _JOB4["job_26a"]
    .replace("cct1.p_type = 'LARGE'", "cct1.p_type = 'ECONOMY'")
    .replace("mi_idx.l_quantity > 35", "mi_idx.l_quantity > 45")
    .replace("DATE '1998-01-01'", "DATE '2000-06-01'")
)
_JOB6["job_26c"] = (
    _JOB4["job_26a"]
    .replace("it2.p_type = 'MEDIUM'", "it2.p_type = 'SMALL'")
    .replace("(chn.s_name LIKE '%1%' OR chn.s_name LIKE '%2%')",
             "(chn.s_name LIKE '%3%' OR chn.s_name LIKE '%4%')")
)
_JOB6["job_27b"] = (
    _JOB4["job_27a"]
    .replace("cct1.p_type IN ('SMALL', 'MEDIUM')", "cct1.p_type IN ('LARGE')")
    .replace("k.p_name = 'red widget'", "k.p_name = 'small gear'")
    .replace("DATE '1995-01-01' AND DATE '1999-12-31'",
             "DATE '1997-01-01' AND DATE '2000-12-31'")
)
_JOB6["job_27c"] = (
    _JOB4["job_27a"]
    .replace("lt.p_name LIKE '%bolt%'", "lt.p_name LIKE '%ring%'")
    .replace("mi.l_returnflag IN ('A', 'N')", "mi.l_returnflag IN ('A')")
)
_JOB6["job_28c"] = (
    _JOB4["job_28a"]
    .replace("cn.s_acctbal > 1000", "cn.s_acctbal > 5000")
    .replace("kt.c_mktsegment IN ('BUILDING', 'MACHINERY')",
             "kt.c_mktsegment IN ('AUTOMOBILE')")
    .replace("mi_idx.l_quantity < 42", "mi_idx.l_quantity < 12")
)
_JOB6["job_29b"] = (
    _JOB4["job_29a"]
    .replace("n.c_mktsegment = 'HOUSEHOLD' AND n.c_name LIKE '%2%'",
             "n.c_mktsegment = 'FURNITURE' AND n.c_name LIKE '%6%'")
    .replace("('blue gizmo', 'red widget', 'blue bolt', 'small ring')",
             "('hot plate', 'red plate')")
    .replace("it3.r_name <> 'AFRICA'", "it3.r_name <> 'EUROPE'")
)
_JOB6["job_29c"] = (
    _JOB4["job_29a"]
    .replace("(mi.l_quantity BETWEEN 5 AND 20 OR mi.l_quantity > 40)",
             "(mi.l_quantity BETWEEN 15 AND 30 OR mi.l_quantity > 45)")
    .replace("pi.o_orderpriority = '1-URGENT'", "pi.o_orderpriority = '5-LOW'")
)
_JOB6["job_30b"] = (
    _JOB4["job_30a"]
    .replace("cct1.p_type IN ('SMALL', 'LARGE')", "cct1.p_type IN ('MEDIUM')")
    .replace("mi.l_linestatus = 'F'", "mi.l_linestatus = 'O'")
    .replace("DATE '1998-01-01'", "DATE '2000-01-01'")
)
_JOB6["job_30c"] = (
    _JOB4["job_30a"]
    .replace("ci.l_returnflag IN ('A', 'R')", "ci.l_returnflag IN ('N')")
    .replace("n.s_acctbal > 0", "n.s_acctbal > 4000")
)
_JOB6["job_31b"] = (
    _JOB4["job_31a"]
    .replace("cn.s_name LIKE 'Supplier#00000001%'",
             "cn.s_name LIKE 'Supplier#00000002%'")
    .replace("mi.l_linestatus = 'F'", "mi.l_linestatus = 'O'")
)
_JOB6["job_31c"] = (
    _JOB4["job_31a"]
    .replace("ci.l_returnflag IN ('A', 'R')", "ci.l_returnflag IN ('A')")
    .replace("it1.p_type = 'MEDIUM'", "it1.p_type = 'LARGE'")
)
_JOB6["job_32b"] = (
    _JOB4["job_32a"]
    .replace("k.p_name = 'red widget'", "k.p_name = 'hot bolt'")
)

for _name, _sql in _JOB6.items():
    _all_prior = (set(_JOB.values()) | set(_JOB2.values()) | set(_JOB2B.values())
                  | set(_JOB3.values()) | set(_JOB4.values()) | set(_JOB5.values())
                  | {v for k, v in _JOB6.items() if k != _name})
    if _sql in _all_prior:
        raise RuntimeError(f"{_name}: replace() produced a duplicate of another entry")
    _register(_name, _sql)

# 6e/6f close the family (ref 6e.sql broadens the year, 6f drops the
# entity filter entirely — the lowest-selectivity member of family 6).
_JOB7 = {
    "job_6e": _JOB["job_6a"]
    .replace("k.p_name = 'small ring'", "k.p_name = 'blue widget'")
    .replace("DATE '1996-06-01'", "DATE '1995-01-01'"),
    "job_6f": _JOB["job_6a"]
    .replace("  AND n.s_name LIKE '%00001%'\n", "")
    .replace("DATE '1996-06-01'", "DATE '1995-01-01'"),
}
for _name, _sql in _JOB7.items():
    if _sql in _JOB.values() or _sql in _JOB5.values() or _sql in _JOB6.values():
        raise RuntimeError(f"{_name}: duplicate SQL")
    _register(_name, _sql)
