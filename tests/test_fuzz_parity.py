"""Property-based cross-engine parity fuzz: hypothesis composes random
query specs (filter predicate × group keys × aggregate set) over the
orders table, runs the SAME logical query through Spark SQL and DuckDB,
and compares row-for-row.  This generalizes the fixed oracle suite (the
driver's gate checks ~200 hand-written queries; this checks the query
GENERATOR's whole space) — the strategy mirrors the reference's
sqllogictest fuzz configs (aggregate_fuzz / join_fuzz in
datafusion/core/tests/fuzz_cases/).

Determinism rules from SURVEY.md §4 are baked into the generator:
money sums go through DECIMAL(38,6), counts are BIGINT on both sides,
and every aggregate column is identically aliased.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMALL

# (sql fragment, duckdb fragment) — identical unless noted
_FILTERS = [
    "o_totalprice > 50000.0",
    "o_totalprice <= 120000.0",
    "o_orderstatus = 'F'",
    "o_orderstatus <> 'O'",
    "o_orderpriority IN ('1-URGENT', '3-MEDIUM')",
    "o_orderkey % 7 = 3",
    "o_custkey BETWEEN 100 AND 900",
    "o_orderdate >= TIMESTAMP '2024-03-01'",
    "(o_totalprice > 80000.0 OR o_orderstatus = 'P')",
    "o_orderkey IS NOT NULL",
]

_GROUP_KEYS = [
    "o_orderstatus",
    "o_orderpriority",
    "CAST(o_custkey % 10 AS BIGINT)",
    "year(CAST(o_orderdate AS TIMESTAMP))",
]

_AGGS = [
    "COUNT(*)",
    "COUNT(DISTINCT o_custkey)",
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)",
    "MIN(o_totalprice)",
    "MAX(o_totalprice)",
    "CAST(MIN(o_orderkey) AS BIGINT)",
    "CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)",
]


@st.composite
def query_spec(draw):
    filters = draw(st.lists(st.sampled_from(_FILTERS), min_size=0, max_size=3))
    keys = draw(
        st.lists(st.sampled_from(_GROUP_KEYS), min_size=1, max_size=2, unique=True)
    )
    aggs = draw(st.lists(st.sampled_from(_AGGS), min_size=1, max_size=3, unique=True))
    return filters, keys, aggs


def _build_sql(filters, keys, aggs):
    where = f"WHERE {' AND '.join(filters)}" if filters else ""
    key_cols = ", ".join(f"{k} AS k{i}" for i, k in enumerate(keys))
    agg_cols = ", ".join(f"{a} AS a{i}" for i, a in enumerate(aggs))
    group = ", ".join(f"k{i}" for i in range(len(keys)))
    return (
        f"SELECT {key_cols}, {agg_cols} FROM orders {where} "
        f"GROUP BY {group} ORDER BY {group}"
    )


@pytest.fixture(scope="module")
def duck(spark):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/orders.parquet')"
    )
    # register the Spark-side view once too
    from datafusion_spark.catalog import load_table

    load_table(spark, SF_SMALL, "orders").createOrReplaceTempView("orders")
    return con


@given(query_spec())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_aggregation_parity(spark, duck, spec):
    filters, keys, aggs = spec
    sql = _build_sql(filters, keys, aggs)
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(got) == len(want), sql
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) and wv is not None:
                assert gv == pytest.approx(float(wv), abs=1e-9, rel=1e-12), sql
            else:
                assert (gv == wv) or (gv is None and wv is None), sql


_JOIN_TYPES = ["INNER", "LEFT", "RIGHT", "FULL"]
_JOIN_FILTERS = [
    "",
    "WHERE o.o_totalprice > 60000.0",
    "WHERE c.c_acctbal > 0.0",
    "WHERE o.o_orderkey IS NULL OR o.o_orderkey % 3 = 0",
]


@st.composite
def join_spec(draw):
    jt = draw(st.sampled_from(_JOIN_TYPES))
    jf = draw(st.sampled_from(_JOIN_FILTERS))
    limit_left = draw(st.sampled_from([400, 900, 1500]))
    return jt, jf, limit_left


@pytest.fixture(scope="module")
def duck_join(spark):
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    from datafusion_spark.catalog import load_table

    for t in ("orders", "customer"):
        load_table(spark, SF_SMALL, t).createOrReplaceTempView(t)
    return con


@given(join_spec())
@settings(
    max_examples=16,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_join_parity(spark, duck_join, spec):
    """Join-type × filter fuzz: outer-join NULL padding, filter-over-
    outer-join semantics (a classic optimizer bug source: pushing a
    filter below the null-producing side changes results)."""
    jt, jf, limit_left = spec
    sql = f"""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total,
           COUNT(*) AS n_rows
    FROM (SELECT * FROM customer WHERE c_custkey < {limit_left}) c
    {jt} JOIN orders o ON c.c_custkey = o.o_custkey
    {jf}
    GROUP BY c.c_custkey ORDER BY c.c_custkey
    """
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck_join.execute(sql).fetchall()]
    assert len(got) == len(want), sql
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) and wv is not None:
                assert gv == pytest.approx(float(wv), abs=1e-9, rel=1e-12), sql
            else:
                assert (gv == wv) or (gv is None and wv is None), sql


_WINDOW_FNS = [
    "row_number()",
    "rank()",
    "dense_rank()",
    "lag(o_orderkey, 1) ",
    "lead(o_orderkey, 2, -1)",
    "count(*) OVER_FRAME",
]
_FRAMES = [
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING",
    "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
]


@given(
    st.sampled_from(_WINDOW_FNS),
    st.sampled_from(_FRAMES),
    st.sampled_from(["o_orderstatus", "o_orderpriority"]),
)
@settings(
    max_examples=14,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_window_parity(spark, duck, fn, frame, pkey):
    """Window-function × frame fuzz over a unique total order."""
    if "OVER_FRAME" in fn:
        expr = fn.replace(
            "OVER_FRAME",
            f"OVER (PARTITION BY {pkey} ORDER BY o_orderkey {frame})",
        )
    else:
        expr = f"{fn} OVER (PARTITION BY {pkey} ORDER BY o_orderkey)"
    sql = f"""
    SELECT o_orderkey, {pkey} AS pk, {expr} AS w
    FROM orders WHERE o_orderkey < 2000
    ORDER BY o_orderkey
    """
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


_SETOPS = [
    "UNION",
    "UNION ALL",
    "INTERSECT",
    "EXCEPT",
    "INTERSECT ALL",
    "EXCEPT ALL",
]
_SETOP_SIDES = [
    "SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0",
    "SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey % 3 = 0",
    "SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 90000.0",
    "SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_custkey < 500",
]


@given(
    st.sampled_from(_SETOPS),
    st.sampled_from(_SETOP_SIDES),
    st.sampled_from(_SETOP_SIDES),
)
@settings(
    max_examples=18,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_setop_parity(spark, duck, op, lhs, rhs):
    """Set-operation fuzz (reference fuzz_cases cover union/distinct
    paths): bag vs set semantics across engines, including the ALL
    multiset variants — compared as sorted multisets."""
    sql = f"SELECT * FROM ({lhs} {op} {rhs}) t ORDER BY 1, 2"
    got = sorted(tuple(r) for r in spark.sql(sql).collect())
    want = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    assert got == want, sql


# --- scalar edge-value fuzz (reference math.slt / cast.slt / timestamps.slt
# corners: signed zero, NaN ordering, overflow-to-NULL TRY arithmetic,
# calendar-interval clamping, unicode folding).  Each atom is a
# (spark fragment, duckdb fragment) pair probed to agree; hypothesis
# composes random column sets and optional numeric wrappers, so the corners
# are exercised INSIDE larger expressions, not just as standalone points.
_EDGE_ATOMS = [
    # signed zero / NaN
    ("CAST(-0.0 AS DOUBLE) = CAST(0.0 AS DOUBLE)",) * 2,
    ("CAST('NaN' AS DOUBLE) > CAST('Infinity' AS DOUBLE)",) * 2,
    ("isnan(CAST('NaN' AS DOUBLE) * 2.0)",) * 2,
    ("try_divide(1.0, CAST('-0.0' AS DOUBLE))", "1.0/CAST('-0.0' AS DOUBLE)"),
    # overflow-to-NULL arithmetic
    ("try_add(9223372036854775807, CAST(1 AS BIGINT))",
     "TRY_CAST(9223372036854775807::HUGEINT + 1 AS BIGINT)"),
    ("try_multiply(CAST(4611686018427387904 AS BIGINT), 4)",
     "TRY_CAST(4611686018427387904::HUGEINT * 4 AS BIGINT)"),
    ("try_divide(CAST(1 AS BIGINT), 0)", "CAST(1 AS BIGINT)/NULLIF(0, 0)"),
    # lossy casts
    ("try_cast(300 AS TINYINT)", "TRY_CAST(300 AS TINYINT)"),
    ("try_cast('12ab' AS DOUBLE)", "TRY_CAST('12ab' AS DOUBLE)"),
    ("CAST(CAST(-2.7 AS BIGINT) AS BIGINT)", "CAST(trunc(-2.7) AS BIGINT)"),
    ("try_cast(1e19 AS BIGINT)", "TRY_CAST(1e19 AS BIGINT)"),
    # calendar intervals (strings so clamping is value-visible)
    ("CAST(DATE '2024-01-31' + INTERVAL 1 MONTH AS STRING)",
     "CAST(CAST(DATE '2024-01-31' + INTERVAL 1 MONTH AS DATE) AS VARCHAR)"),
    ("CAST(DATE '2024-02-29' + INTERVAL 1 YEAR AS STRING)",
     "CAST(CAST(DATE '2024-02-29' + INTERVAL 1 YEAR AS DATE) AS VARCHAR)"),
    # unicode folding
    ("upper('çödé')",) * 2,
    ("lower('ΣΟΦΟ')",) * 2,
    ("CAST(length('👩‍👩‍👧‍👦') AS INT)", "CAST(length('👩‍👩‍👧‍👦') AS INT)"),
    # NULL string propagation
    ("concat('a', NULL, 'b')", "'a' || NULL || 'b'"),
    ("concat_ws('-', 'a', NULL, 'b')",) * 2,
]

# numeric-only wrappers (applied when the atom yields a number/NULL)
_EDGE_WRAPPERS = [
    ("{0}",) * 2,
    ("coalesce({0}, CAST(-1 AS BIGINT))",) * 2,
    ("({0}) IS NULL",) * 2,
]
_NUMERIC_ATOM_IDXS = [4, 5, 6, 7, 10]  # BIGINT-or-NULL atoms safe to wrap


@st.composite
def edge_spec(draw):
    idxs = draw(
        st.lists(
            st.integers(0, len(_EDGE_ATOMS) - 1), min_size=1, max_size=5, unique=True
        )
    )
    wrap = draw(st.sampled_from(_EDGE_WRAPPERS))
    return idxs, wrap


@given(edge_spec())
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_edge_scalar_parity(spark, duck, spec):
    idxs, wrap = spec
    s_cols, d_cols = [], []
    for n, i in enumerate(idxs):
        s_frag, d_frag = _EDGE_ATOMS[i]
        if i in _NUMERIC_ATOM_IDXS:
            s_frag, d_frag = wrap[0].format(s_frag), wrap[1].format(d_frag)
        s_cols.append(f"{s_frag} AS c{n}")
        d_cols.append(f"{d_frag} AS c{n}")
    s_sql = "SELECT " + ", ".join(s_cols)
    d_sql = "SELECT " + ", ".join(d_cols)
    got = tuple(spark.sql(s_sql).collect()[0])
    want = tuple(duck.execute(d_sql).fetchone())
    for gv, wv in zip(got, want):
        if isinstance(gv, float) and wv is not None and gv == gv:
            assert gv == pytest.approx(float(wv), abs=0.0), (s_sql, d_sql)
        else:
            assert (gv == wv) or (gv is None and wv is None) or (
                isinstance(gv, float) and gv != gv and wv != wv
            ), (s_sql, d_sql)


# --- window-function fuzz (reference fuzz_cases/window_fuzz.rs) -------------

_WIN_PARTS = ["o_orderstatus", "o_orderpriority", "CAST(o_custkey % 5 AS BIGINT)"]
_WIN_ORDERS = ["o_orderkey", "o_totalprice, o_orderkey", "o_orderdate, o_orderkey"]
_WIN_FRAMES = [
    "",
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING",
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
    "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
]
# fn sql (identical both engines), takes_frame
_WIN_FNS = [
    ("ROW_NUMBER() OVER w", False),
    ("RANK() OVER w", False),
    ("DENSE_RANK() OVER w", False),
    ("CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE)", True),
    ("CAST(COUNT(*) OVER w AS BIGINT)", True),
    ("MIN(o_totalprice) OVER w", True),
    ("MAX(o_totalprice) OVER w", True),
    ("LAG(o_orderkey, 1) OVER w", False),
    ("LEAD(o_orderkey, 2, -1) OVER w", False),
    ("NTILE(4) OVER w", False),
    ("CAST(PERCENT_RANK() OVER w AS DOUBLE)", False),
    ("CUME_DIST() OVER w", False),
]


@st.composite
def window_spec(draw):
    part = draw(st.sampled_from(_WIN_PARTS))
    order = draw(st.sampled_from(_WIN_ORDERS))
    fn, takes_frame = draw(st.sampled_from(_WIN_FNS))
    frame = draw(st.sampled_from(_WIN_FRAMES)) if takes_frame else ""
    return part, order, fn, frame


@given(window_spec())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_window_spec_parity(spark, duck, spec):
    """Window specs (partition x total order x frame x function) run
    identically in both engines — the generator's whole space, not just
    the hand-written window entries.  Every ORDER BY is made total with
    o_orderkey so frame contents are engine-independent."""
    part, order, fn, frame = spec
    sql = (
        f"SELECT o_orderkey, {fn} AS val FROM orders "
        f"WINDOW w AS (PARTITION BY {part} ORDER BY {order} {frame}) "
        "ORDER BY o_orderkey LIMIT 500"
    )
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(got) == len(want), sql
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) and wv is not None:
                assert gv == pytest.approx(float(wv), abs=1e-9), sql
            else:
                assert (gv == wv) or (gv is None and wv is None), sql


# ---------------------------------------------------------------------------
# Compositional scalar-expression trees (reference fuzz_cases/ expression
# fuzzers; expr.slt, simplify_expr.slt).  Everything is evaluated in the
# DOUBLE domain: IEEE-754 binary64 +,-,*,/ are defined bit-exactly, so both
# engines must agree to the last bit as long as operand magnitudes stay well
# under 2^53 (leaves are bounded by small moduli) and division is
# NULL-guarded.  NULL leaves exercise 3VL propagation through whole trees;
# CASE branches exercise predicate-under-expression planning.

_EXPR_LEAVES = [
    "CAST(o_orderkey % 31 AS DOUBLE)",
    "CAST(o_custkey % 29 AS DOUBLE)",
    "CAST(o_orderkey % 13 - 6 AS DOUBLE)",
    "CAST(2 AS DOUBLE)",
    "CAST(-3 AS DOUBLE)",
    "CAST(0 AS DOUBLE)",
    "CAST(NULL AS DOUBLE)",
]

_EXPR_NODE_KINDS = [
    "add", "sub", "mul", "div", "abs", "neg",
    "least", "greatest", "coalesce", "case_min",
]


def _grow_expr(draw, st, depth):
    if depth >= 3:
        return draw(st.sampled_from(_EXPR_LEAVES))
    if depth > 0 and draw(st.booleans()):
        return draw(st.sampled_from(_EXPR_LEAVES))
    kind = draw(st.sampled_from(_EXPR_NODE_KINDS))
    a = _grow_expr(draw, st, depth + 1)
    if kind == "abs":
        return f"abs({a})"
    if kind == "neg":
        return f"(- {a})"
    b = _grow_expr(draw, st, depth + 1)
    if kind == "add":
        return f"({a} + {b})"
    if kind == "sub":
        return f"({a} - {b})"
    if kind == "mul":
        return f"({a} * {b})"
    if kind == "div":
        return f"({a} / nullif({b}, CAST(0 AS DOUBLE)))"
    if kind == "least":
        return f"least({a}, {b})"
    if kind == "greatest":
        return f"greatest({a}, {b})"
    if kind == "coalesce":
        return f"coalesce({a}, {b})"
    return f"(CASE WHEN {a} < {b} THEN {a} ELSE {b} END)"


@st.composite
def expr_tree_spec(draw):
    n_cols = draw(st.integers(1, 4))
    return [_grow_expr(draw, st, 0) for _ in range(n_cols)]


@given(expr_tree_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_expression_tree_parity(spark, duck, exprs):
    """Random expression trees (depth ≤3) over orders columns: the SAME SQL
    text runs on both engines; doubles must match bit-for-bit (IEEE ops),
    NULLs must land in the same rows."""
    import math

    cols = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    sql = (
        f"SELECT {cols} FROM orders "
        "WHERE o_orderkey % 17 = 3 ORDER BY o_orderkey LIMIT 120"
    )
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(got) == len(want), sql
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if gv is None or wv is None:
                assert gv is None and wv is None, sql
            elif isinstance(gv, float) and math.isnan(gv):
                assert math.isnan(float(wv)), sql
            else:
                assert float(gv) == float(wv), sql


# ---------------------------------------------------------------------------
# Sort-spec fuzz (reference core/tests/fuzz_cases/sort_fuzz.rs, order.slt):
# random multi-key ORDER BY with mixed directions and NULLS placement over a
# derived nullable column.  The trailing o_orderkey key makes the total
# order unique, so both engines must produce the identical row sequence —
# compared POSITIONALLY (this is the one axis where order is the subject).
#
# Known engine-default divergence (documented out by always spelling the
# placement): Spark defaults ASC to NULLS FIRST / DESC to NULLS LAST
# (NULLS-smallest), DuckDB defaults to NULLS LAST on ASC (NULLS-largest,
# Postgres-style).  Explicit NULLS FIRST/LAST agrees everywhere.

_SORT_KEYS = [
    "o_orderstatus",
    "o_orderpriority",
    "CAST(o_custkey % 7 AS BIGINT)",
    # nullable derived key: NULL for ~1/3 of rows
    "CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END",
]
_DIRS = ["ASC", "DESC"]
_NULLS = ["NULLS FIRST", "NULLS LAST"]


@st.composite
def sort_spec(draw):
    n_keys = draw(st.integers(1, 3))
    keys = draw(
        st.lists(st.sampled_from(_SORT_KEYS), min_size=n_keys, max_size=n_keys,
                 unique=True)
    )
    specs = [
        (k, draw(st.sampled_from(_DIRS)), draw(st.sampled_from(_NULLS)))
        for k in keys
    ]
    return specs


@given(sort_spec())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_sort_spec_parity(spark, duck, specs):
    order = ", ".join(f"{k} {d} {n}".strip() for k, d, n in specs)
    sql = (
        "SELECT o_orderkey FROM orders "
        f"WHERE o_orderkey % 5 = 1 ORDER BY {order}, o_orderkey LIMIT 200"
    )
    got = [r[0] for r in spark.sql(sql).collect()]
    want = [r[0] for r in duck.execute(sql).fetchall()]
    assert got == want, sql


# ---------------------------------------------------------------------------
# Higher-order array-function trees (reference array/{array_transform,
# array_filter,array_sort,array_distinct}.slt + fuzz_cases/ philosophy):
# random compositions of transform/filter/sort/distinct/reverse/concat over
# integer arrays derived from orders columns, reduced to scalars.  The two
# engines spell the combinators differently (transform ⇔ list_transform,
# || ⇔ concat, aggregate-fold ⇔ list_sum), so every node carries a dual
# template; the integer domain keeps every value exact.

_HOF_LEAVES = [
    ("sequence(1, CAST(o_orderkey % 5 + 1 AS INT))",
     "generate_series(1, CAST(o_orderkey % 5 + 1 AS INT))"),
    ("array(CAST(o_orderkey % 7 AS INT), CAST(o_custkey % 5 AS INT), 2)",
     "[CAST(o_orderkey % 7 AS INT), CAST(o_custkey % 5 AS INT), 2]"),
    ("array(3, 1, 2, 1)", "[3, 1, 2, 1]"),
]


def _grow_hof(draw, st, depth):
    if depth >= 3 or (depth > 0 and draw(st.booleans())):
        return draw(st.sampled_from(_HOF_LEAVES))
    kind = draw(st.sampled_from(
        ["transform", "filter", "sort", "distinct", "reverse", "concat"]))
    s_a, d_a = _grow_hof(draw, st, depth + 1)
    if kind == "transform":
        k = draw(st.sampled_from([2, 3]))
        return (f"transform({s_a}, x -> x * {k} + 1)",
                f"list_transform({d_a}, x -> x * {k} + 1)")
    if kind == "filter":
        k = draw(st.sampled_from([2, 3]))
        return (f"filter({s_a}, x -> x % {k} = 0)",
                f"list_filter({d_a}, x -> x % {k} = 0)")
    if kind == "sort":
        return (f"array_sort({s_a})", f"list_sort({d_a})")
    if kind == "distinct":
        # distinct order is engine-defined; always sort after
        return (f"array_sort(array_distinct({s_a}))",
                f"list_sort(list_distinct({d_a}))")
    if kind == "reverse":
        return (f"reverse({s_a})", f"list_reverse({d_a})")
    s_b, d_b = _grow_hof(draw, st, depth + 1)
    return (f"concat({s_a}, {s_b})", f"({d_a} || {d_b})")


_HOF_REDUCERS = [
    ("CAST(aggregate({s}, 0L, (acc, x) -> acc + x) AS BIGINT)",
     "CAST(coalesce(list_sum({d}), 0) AS BIGINT)"),
    ("CAST(size({s}) AS BIGINT)", "CAST(len({d}) AS BIGINT)"),
    ("element_at(concat({s}, array(0)), 1)", "({d} || [0])[1]"),
]


@st.composite
def hof_spec(draw):
    cols = []
    for _ in range(draw(st.integers(1, 3))):
        s, d = _grow_hof(draw, st, 0)
        rs, rd = draw(st.sampled_from(_HOF_REDUCERS))
        cols.append((rs.format(s=s), rd.format(d=d)))
    return cols


@given(hof_spec())
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_hof_array_parity(spark, duck, cols):
    s_sql = ("SELECT " + ", ".join(f"{s} AS c{i}" for i, (s, _) in enumerate(cols))
             + " FROM orders WHERE o_orderkey % 23 = 5 ORDER BY o_orderkey LIMIT 80")
    d_sql = ("SELECT " + ", ".join(f"{d} AS c{i}" for i, (_, d) in enumerate(cols))
             + " FROM orders WHERE o_orderkey % 23 = 5 ORDER BY o_orderkey LIMIT 80")
    got = [tuple(r) for r in spark.sql(s_sql).collect()]
    want = [tuple(r) for r in duck.execute(d_sql).fetchall()]
    assert got == want, f"{s_sql}\n{d_sql}"


# --- axis 9 (r6): aggregate FILTER × grouping sets -------------------------
#
# The reference fuzzes aggregates over GROUPING SETS/ROLLUP/CUBE
# (aggregate_fuzz.rs + aggregates_topk/grouping coverage); FILTER (WHERE)
# composes with every aggregate and with grouping-id NULLs in subtle ways
# (a filtered-out group still emits a row with NULL/0).  NULLS FIRST is
# spelled explicitly in the ORDER BY: Spark ASC defaults NULLS FIRST,
# DuckDB NULLS LAST — the sort-spec axis (r5) found that divergence.

_GSET_SHAPES = [
    "GROUPING SETS ((k0), (k1), (k0, k1))",
    "GROUPING SETS ((k0, k1), ())",
    "ROLLUP (k0, k1)",
    "CUBE (k0, k1)",
]

_FILTERED_AGGS = [
    "CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000.0) AS BIGINT)",
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))"
    " FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)",
    "MIN(o_totalprice) FILTER (WHERE o_orderkey % 2 = 0)",
    "CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_custkey % 3 = 1) AS BIGINT)",
    "MAX(o_orderpriority) FILTER (WHERE o_totalprice < 150000.0)",
]


@st.composite
def gset_spec(draw):
    shape = draw(st.sampled_from(_GSET_SHAPES))
    aggs = draw(
        st.lists(st.sampled_from(_FILTERED_AGGS), min_size=1, max_size=3,
                 unique=True)
    )
    flt = draw(st.sampled_from([""] + _FILTERS[:6]))
    return shape, aggs, flt


@given(gset_spec())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_filter_grouping_sets_parity(spark, duck, spec):
    shape, aggs, flt = spec
    where = f"WHERE {flt}" if flt else ""
    agg_cols = ", ".join(f"{a} AS a{i}" for i, a in enumerate(aggs))
    sql = (
        "SELECT o_orderstatus AS k0, o_orderpriority AS k1, "
        "CAST(GROUPING(o_orderstatus) AS INT) AS g0, "
        "CAST(GROUPING(o_orderpriority) AS INT) AS g1, "
        f"{agg_cols} FROM orders {where} "
        f"GROUP BY {shape.replace('k0', 'o_orderstatus').replace('k1', 'o_orderpriority')} "
        "ORDER BY g0 ASC NULLS FIRST, g1 ASC NULLS FIRST, "
        "k0 ASC NULLS FIRST, k1 ASC NULLS FIRST"
    )
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(got) == len(want), sql
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) and wv is not None:
                assert gv == pytest.approx(float(wv), abs=1e-9, rel=1e-12), sql
            else:
                assert (gv == wv) or (gv is None and wv is None), sql


# --- axis 10 (r6): decimal precision/scale arithmetic ----------------------
#
# Random DECIMAL(p,s) casts composed with + - * (division excluded: the
# two engines' result-scale rules legitimately differ, so quotients are
# only comparable through DOUBLE — covered by the agg axis).  Operand
# scales are >= 2 so casting the 2-decimal source columns never rounds
# (the module header documents the HALF_UP-vs-truncate cast divergence),
# and total product scale stays <= 8 so the final normalizing CAST to
# DECIMAL(38,10) pads exactly.  Values compare as strings — exact to the
# last digit, which is the point of the axis.

# precision windows stay small (p <= 14) so even a product of two
# operands fits DuckDB's int128 decimal comfortably — at (18,*)×(18,*)
# DuckDB's multiply overflows where Spark widens, a storage-width
# divergence this axis is NOT hunting (documented here instead).
# Likewise above 38 digits: a product whose exact precision p1 + p2 + 1
# exceeds 38 is cut by Spark's precision-loss rule to DECIMAL(38, s') with
# s' = max(38 - integer digits, min(s, 6)), rounding HALF_UP, while DuckDB
# keeps the exact scale.  The generator tracks precision as it tracks
# scale and draws no such product; the fixed case below pins the rule.
# (template, scale range, integer-digit need, max precision)
_DEC_OPERANDS = [
    ("CAST(o_totalprice AS DECIMAL({p},{s}))", (2, 4), 7, 14),
    ("CAST(o_custkey AS DECIMAL({p},{s}))", (0, 2), 7, 12),
    ("CAST(o_orderkey % 1000 AS DECIMAL({p},{s}))", (0, 2), 4, 10),
    ("CAST(1.25 AS DECIMAL({p},{s}))", (2, 4), 2, 9),
    ("CAST(-7.5 AS DECIMAL({p},{s}))", (2, 3), 2, 9),
]


@st.composite
def decimal_expr(draw, depth=0):
    """(expression, scale, precision), the exact Spark result type."""
    if depth >= 2 or draw(st.booleans()):
        tmpl, (s_lo, s_hi), need, p_hi = draw(st.sampled_from(_DEC_OPERANDS))
        s = draw(st.integers(s_lo, s_hi))
        p = draw(st.integers(s + need, p_hi))
        return tmpl.format(p=p, s=s), s, p
    left, ls, lp = draw(decimal_expr(depth=depth + 1))
    right, rs, rp = draw(decimal_expr(depth=depth + 1))
    op = draw(st.sampled_from(["+", "-", "*"]))
    scale = ls + rs if op == "*" else max(ls, rs)
    # keep the normalizing cast exact (no rounding) and the product inside
    # 38 digits (no precision-loss rounding): the left factor is widened to
    # p=24 below, so the product's precision is 24 + rp + 1
    if scale > 8 or (op == "*" and 24 + rp + 1 > 38):
        op = draw(st.sampled_from(["+", "-"]))
        scale = max(ls, rs)
    if op != "*":
        return (f"({left} {op} {right})", scale,
                scale + max(lp - ls, rp - rs) + 1)
    # Divergence found by this axis, pinned here: DuckDB clamps a
    # multiply's result width to the operands' STORAGE class —
    # (12,4)×(13,3) → DECIMAL(18,7), overflowing at runtime where
    # Spark widens to (26,7).  Pre-widening one operand to p=24
    # forces DuckDB's int128 path; both engines are then exact.
    left = f"CAST({left} AS DECIMAL(24,{ls}))"
    return f"({left} * {right})", scale, 24 + rp + 1


@st.composite
def decimal_spec(draw):
    return [draw(decimal_expr()) for _ in range(draw(st.integers(1, 3)))]


@given(decimal_spec())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_decimal_precision_parity(spark, duck, exprs):
    cols = ", ".join(
        f"CAST(CAST({e} AS DECIMAL(38,10)) AS STRING) AS c{i}"
        for i, (e, _, _) in enumerate(exprs)
    )
    sql = (
        f"SELECT {cols} FROM orders WHERE o_orderkey % 17 = 4 "
        "ORDER BY o_orderkey LIMIT 60"
    )
    duck_sql = sql.replace("AS STRING)", "AS VARCHAR)")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(duck_sql).fetchall()]
    assert got == want, f"{sql}\nfirst spark={got[:2]} duck={want[:2]}"


def test_decimal_product_above_38_digits_loses_scale(spark, duck):
    """The product the generator no longer draws (a saved failing example
    of the axis above): (24,4) × (34,4) needs 59 digits, so Spark types it
    DECIMAL(38,6) and rounds HALF_UP where DuckDB keeps scale 8.  Spark's
    value is DuckDB's rounded to scale 6 (``round``: DuckDB's CAST to a
    smaller scale truncates), and the two differ on some rows, so the
    divergence stays covered."""
    x = ("(CAST(CAST(o_totalprice AS DECIMAL(9,2)) AS DECIMAL(24,2))"
         " * CAST(o_totalprice AS DECIMAL(9,2)))")
    e = f"(CAST({x} AS DECIMAL(24,4)) * {x})"
    rows = "FROM orders WHERE o_orderkey % 17 = 4 ORDER BY o_orderkey LIMIT 60"
    assert spark.sql(f"SELECT {e} AS c FROM orders").dtypes == [
        ("c", "decimal(38,6)")]
    got = [r[0] for r in spark.sql(
        f"SELECT CAST(CAST({e} AS DECIMAL(38,10)) AS STRING) {rows}").collect()]
    rounded, exact = zip(*duck.execute(
        f"SELECT CAST(CAST(round({e}, 6) AS DECIMAL(38,10))"
        f" AS VARCHAR), CAST(CAST({e} AS DECIMAL(38,10)) AS VARCHAR) {rows}"
    ).fetchall())
    assert got == list(rounded)
    assert list(rounded) != list(exact)


# --- axis 11 (r7): join type x predicate placement (ON vs WHERE) -----------
#
# The null-extension semantics of outer joins make filter PLACEMENT
# semantically load-bearing: a predicate in ON preserves the outer side's
# unmatched rows, the same predicate in WHERE eliminates them (and lets
# the optimizer convert the join to inner / push the filter down —
# push_down_filter_outer_joins.slt is the fixed-case mirror, this is the
# generator).  Both engines run the identical text; results are compared
# through a row-collapsing aggregate so every query checks join
# cardinality, null-extension counts and a value checksum at once.

_PLACEMENT_JOIN_TYPES = ["INNER JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN"]

_JOIN_PREDS = [
    # (predicate, side) — side tells the generator which relation it
    # constrains so it can be placed in ON or WHERE meaningfully
    ("o.o_totalprice > 100000.0", "left"),
    ("o.o_orderstatus = 'F'", "left"),
    ("o.o_orderkey % 5 = 0", "left"),
    ("c.c_acctbal > 0.0", "right"),
    ("c.c_mktsegment = 'BUILDING'", "right"),
    ("c.c_custkey % 3 = 1", "right"),
]


@st.composite
def join_placement_spec(draw):
    jt = draw(st.sampled_from(_PLACEMENT_JOIN_TYPES))
    pred, _side = draw(st.sampled_from(_JOIN_PREDS))
    placement = draw(st.sampled_from(["on", "where"]))
    return jt, pred, placement


@given(join_placement_spec())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_join_predicate_placement_parity(spark, duck_join, spec):
    jt, pred, placement = spec
    on = "o.o_custkey = c.c_custkey"
    where = ""
    if placement == "on":
        on = f"{on} AND {pred}"
    else:
        where = f"WHERE {pred}"
    sql = (
        "SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS left_only, "
        "CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS right_only, "
        "CAST(SUM(CAST(COALESCE(o.o_totalprice, 0) AS DECIMAL(38,6))) "
        "AS DOUBLE) AS checksum_price, "
        "CAST(SUM(CAST(COALESCE(c.c_custkey, 0) AS BIGINT)) AS BIGINT) "
        "AS checksum_cust "
        f"FROM orders o {jt} customer c ON {on} {where}"
    )
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck_join.execute(sql).fetchall()]
    assert len(got) == len(want) == 1, sql
    for gv, wv in zip(got[0], want[0]):
        if isinstance(gv, float) and wv is not None:
            assert gv == pytest.approx(float(wv), abs=1e-6), sql
        else:
            assert (gv == wv) or (gv is None and wv is None), sql


# --- axis 12 (r7): subquery membership x NULL-bearing inner keys -----------
#
# NOT IN over a subquery whose key set contains NULL is the classic
# three-valued-logic trap: `x NOT IN (S)` is UNKNOWN (not TRUE) for every
# x once S contains a NULL, so the whole predicate filters to empty —
# engines implement this as a null-aware anti join (the reference's
# null_aware_anti_join.slt is the fixed-case mirror; this is the
# generator).  EXISTS/NOT EXISTS by contrast never null-trap (they test
# row existence, not value membership).  The axis crosses the four
# predicates with inner key expressions that are never-null, sometimes-
# null and mostly-null, and an optional inner filter.

_SUBQ_PREDICATES = ["IN", "NOT IN", "EXISTS", "NOT EXISTS"]
_SUBQ_INNER_KEYS = [
    # (expr over orders, has_nulls) — NULLIF injects NULLs deterministically
    "o_custkey",
    "NULLIF(o_custkey, 7)",
    "CASE WHEN o_totalprice > 150000.0 THEN o_custkey END",
]
_SUBQ_INNER_FILTERS = [
    "",
    "WHERE o_orderstatus = 'O'",
    "WHERE o_totalprice < 50000.0",
]


@st.composite
def subq_spec(draw):
    pred = draw(st.sampled_from(_SUBQ_PREDICATES))
    key = draw(st.sampled_from(_SUBQ_INNER_KEYS))
    flt = draw(st.sampled_from(_SUBQ_INNER_FILTERS))
    return pred, key, flt


@given(subq_spec())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_subquery_membership_parity(spark, duck_join, spec):
    pred, key, flt = spec
    if pred in ("IN", "NOT IN"):
        where = f"c_custkey {pred} (SELECT {key} FROM orders {flt})"
    else:
        corr = f"{key} = c_custkey"
        inner_flt = f"{flt} AND" if flt else "WHERE"
        where = (
            f"{pred} (SELECT 1 FROM orders {inner_flt} {corr})"
        )
    sql = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS checksum
    FROM customer WHERE {where}
    """
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck_join.execute(sql).fetchall()]
    assert got == want, sql


# --- axis 13 (r7): boolean three-valued logic trees ------------------------
# Reference misc.slt WHERE-NULL cases + the Kleene-logic corners scattered
# through predicates.slt / case.slt: random boolean expression trees over
# {TRUE, FALSE, NULL, null-bearing comparisons} with AND / OR / NOT /
# IS NULL / IS NOT DISTINCT FROM / COALESCE / CASE nodes, evaluated BOTH
# in projection position (tri-state value parity) and in WHERE position
# (NULL-is-not-TRUE row filtering).  The same SQL text runs on both
# engines; o_orderkey rides along so row identity is positional.

_BOOL_LEAVES = [
    "TRUE",
    "FALSE",
    "CAST(NULL AS BOOLEAN)",
    "(o_custkey % 7 = 3)",
    "(o_custkey % 11 > 6)",
    "(nullif(o_custkey % 5, 2) = 1)",
    "(nullif(o_orderkey % 3, 0) > 1)",
    "(CASE WHEN o_orderkey % 4 = 0 THEN CAST(NULL AS BOOLEAN) "
    "ELSE o_orderkey % 2 = 0 END)",
]

_BOOL_NODE_KINDS = [
    "and", "or", "not", "is_null", "is_not_distinct", "coalesce", "case",
]


def _grow_bool(draw, st_, depth):
    if depth >= 3:
        return draw(st_.sampled_from(_BOOL_LEAVES))
    if depth > 0 and draw(st_.booleans()):
        return draw(st_.sampled_from(_BOOL_LEAVES))
    kind = draw(st_.sampled_from(_BOOL_NODE_KINDS))
    a = _grow_bool(draw, st_, depth + 1)
    if kind == "not":
        return f"(NOT {a})"
    if kind == "is_null":
        return f"({a} IS NULL)"
    b = _grow_bool(draw, st_, depth + 1)
    if kind == "and":
        return f"({a} AND {b})"
    if kind == "or":
        return f"({a} OR {b})"
    if kind == "is_not_distinct":
        return f"({a} IS NOT DISTINCT FROM {b})"
    if kind == "coalesce":
        return f"coalesce({a}, {b})"
    return f"(CASE WHEN {a} THEN {b} ELSE {a} END)"


@st.composite
def bool_tree_spec(draw):
    n_cols = draw(st.integers(1, 3))
    sel = [_grow_bool(draw, st, 0) for _ in range(n_cols)]
    where = _grow_bool(draw, st, 1)
    return (sel, where)


@given(bool_tree_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_bool_three_valued_parity(spark, duck, spec):
    """Random Kleene-logic trees in SELECT and WHERE position: tri-state
    values must match per row, and WHERE must drop NULL rows identically
    (NULL is not TRUE) on both engines."""
    sel, where = spec
    cols = ", ".join(f"{e} AS c{i}" for i, e in enumerate(sel))
    sql = (
        f"SELECT o_orderkey, {cols} FROM orders "
        f"WHERE o_orderkey % 13 = 5 AND ({where} OR o_custkey % 9 = 1) "
        "ORDER BY o_orderkey LIMIT 150"
    )
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(got) == len(want), sql
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if gv is None or wv is None:
                assert gv is None and wv is None, sql
            else:
                assert bool(gv) == bool(wv), sql


# --- axis 14 (r7): string-function trees ------------------------------------
# Reference strings.slt / string/*.slt + scalar.slt string corners: random
# compositions of the shared string surface (case folding, trim family,
# pad/truncate, repeat, split_part, substr, ||, translate, position,
# out-of-range starts and indexes) over real multi-word columns plus
# unicode/empty/whitespace literals.  The same SQL text runs on both
# engines; length() of the final expression rides along so width bugs
# can't hide behind rendering.
#
# Divergences found by this axis's probe runs, excluded from the
# generator and documented here (engine-identity facts, same class as
# the functions_edge.py header list):
#   * left(s, -n) / right(s, -n): Spark returns '' for any negative
#     count; DuckDB follows PostgreSQL (all but the last/first n chars).
#     The generator only draws counts >= 0.
#   * upper('ß') -> 'SS' (JVM full case fold) vs 'ẞ' (ICU single char):
#     already pinned in functions_edge.py; sharp-s kept out of the
#     literal pool.
#   * overlay(... PLACING ...) does not exist in DuckDB; left out.

_STR_LEAVES = [
    "p_name",
    "p_type",
    "p_brand",
    "'abcXYZ '",
    "'Ünïcødé-x'",
    "''",
    "' sp ace '",
]


def _grow_str(draw, depth):
    if depth >= 3:
        return draw(st.sampled_from(_STR_LEAVES))
    if depth > 0 and draw(st.booleans()):
        return draw(st.sampled_from(_STR_LEAVES))
    a = _grow_str(draw, depth + 1)
    kind = draw(st.sampled_from([
        "upper", "lower", "reverse", "ltrim", "rtrim", "trim",
        "replace", "left", "right", "lpad", "rpad", "repeat",
        "split_part", "substr", "substr_far", "concat", "trim_chars",
        "translate",
    ]))
    if kind in ("upper", "lower", "reverse", "ltrim", "rtrim", "trim"):
        return f"{kind}({a})"
    if kind == "replace":
        return f"replace({a}, 'a', 'Z')"
    if kind == "left":
        return f"left({a}, {draw(st.integers(0, 5))})"
    if kind == "right":
        return f"right({a}, {draw(st.integers(0, 5))})"
    if kind == "lpad":
        return f"lpad({a}, {draw(st.integers(0, 12))}, '*x')"
    if kind == "rpad":
        return f"rpad({a}, {draw(st.integers(0, 12))}, '*x')"
    if kind == "repeat":
        return f"repeat({a}, {draw(st.integers(0, 3))})"
    if kind == "split_part":
        return f"split_part({a}, ' ', {draw(st.integers(1, 8))})"
    if kind == "substr":
        return f"substr({a}, {draw(st.integers(1, 6))}, {draw(st.integers(0, 8))})"
    if kind == "substr_far":
        return f"substr({a}, {draw(st.integers(20, 60))}, {draw(st.integers(0, 5))})"
    if kind == "trim_chars":
        return f"trim('ax' from {a})"
    if kind == "translate":
        return f"translate({a}, 'aeiou', '12345')"
    b = _grow_str(draw, depth + 1)
    return f"({a} || {b})"


@st.composite
def string_tree_spec(draw):
    return [_grow_str(draw, 0) for _ in range(draw(st.integers(1, 3)))]


@pytest.fixture(scope="module")
def duck_part(spark):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/part.parquet')"
    )
    from datafusion_spark.catalog import load_table

    load_table(spark, SF_SMALL, "part").createOrReplaceTempView("part")
    return con


@given(string_tree_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_string_tree_parity(spark, duck_part, spec):
    """Random string-function trees: value AND length parity per row on
    both engines (position() of a fixed needle rides along as an extra
    integer channel through one tree)."""
    cols = ", ".join(
        f"{e} AS v{i}, cast(length({e}) as bigint) AS n{i}"
        for i, e in enumerate(spec)
    )
    pos = f"cast(position('a' in {spec[0]}) as bigint) AS p0"
    sql = (
        f"SELECT p_partkey, {cols}, {pos} FROM part "
        "WHERE p_partkey % 7 = 3 ORDER BY p_partkey LIMIT 40"
    )
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck_part.execute(sql).fetchall()]
    assert got == want, sql


# --- axis 15 (r7): date/timestamp arithmetic trees --------------------------
# Reference timestamps.slt / expr.slt calendar corners: random chains of
# date_trunc, EXTRACT, calendar-interval +/- (with intervals bigger than
# their unit: 26 hours, 90 days), last_day and ordering comparisons over
# the orders timestamp column.  Shared SQL text on both engines.
#
# Representation/known divergences handled structurally:
#   * DuckDB date_trunc('day'|'week'|'month'|...) returns DATE where
#     Spark keeps TIMESTAMP — every trunc is wrapped in
#     CAST(... AS TIMESTAMP) so the VALUE is what's compared.
#   * EXTRACT(dow): Spark counts Sunday=1..7, DuckDB (PostgreSQL)
#     Sunday=0..6 — excluded from the field pool, divergence pinned
#     here (same class as the NULLS-default sort divergence axis 8
#     found).
#   * months_between / date_diff spell differently per engine — out of
#     the shared-text surface, exercised by fn_datetime_* entries
#     instead.

_DT_UNITS = ["year", "quarter", "month", "week", "day", "hour"]
_DT_FIELDS = ["year", "month", "day", "doy", "hour", "minute"]
_DT_IVS = [
    "INTERVAL '1' DAY",
    "INTERVAL '3' MONTH",
    "INTERVAL '1' YEAR",
    "INTERVAL '90' DAY",
    "INTERVAL '26' HOUR",
]


def _grow_dt(draw, depth):
    """Grow a timestamp-valued expression."""
    if depth >= 3 or (depth > 0 and draw(st.booleans())):
        return "o_orderdate"
    a = _grow_dt(draw, depth + 1)
    kind = draw(st.sampled_from(["trunc", "plus", "minus"]))
    if kind == "trunc":
        u = draw(st.sampled_from(_DT_UNITS))
        return f"cast(date_trunc('{u}', {a}) as timestamp)"
    iv = draw(st.sampled_from(_DT_IVS))
    return f"({a} {'+' if kind == 'plus' else '-'} {iv})"


@st.composite
def datetime_tree_spec(draw):
    ts = _grow_dt(draw, 0)
    field = draw(st.sampled_from(_DT_FIELDS))
    cmp_iv = draw(st.sampled_from(_DT_IVS))
    return (ts, field, cmp_iv)


@given(datetime_tree_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_datetime_tree_parity(spark, duck, spec):
    """Random calendar-arithmetic trees: the timestamp value, an EXTRACT
    field, last_day of it, and an interval-shifted ordering predicate
    must agree per row on both engines."""
    ts, field, cmp_iv = spec
    sql = (
        f"SELECT o_orderkey, {ts} AS t, "
        f"cast(extract({field} FROM {ts}) as bigint) AS f, "
        f"last_day(cast({ts} as date)) AS ld, "
        f"({ts} + {cmp_iv} > TIMESTAMP '2024-06-01 00:00:00') AS c "
        "FROM orders WHERE o_orderkey % 23 = 3 ORDER BY o_orderkey LIMIT 40"
    )
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


# --- axis 16 (r8): map/struct-typed expression trees ------------------------
# Reference functions-nested (map_extract.rs, struct.rs) + sqllogictest
# map.slt / struct.slt: random NESTED struct trees and string-keyed maps
# over orders-derived DOUBLE scalars, projected back to scalars (field
# access along the grown path, map extraction hit + miss, cardinality,
# map_values element) so results stay row-comparable across engines.
#
# Constructors spell differently per engine, so this is the first PAIRED
# axis: one spec tree renders twice — Spark named_struct/map(...) vs
# DuckDB struct_pack(:=)/MAP literal — with identical semantics.
# Normalizations + divergences handled structurally:
#   * DuckDB map extraction m['k'] returns a LIST ([] on miss); the duck
#     rendering appends [1] so both engines yield the VALUE or NULL —
#     Spark's m['k'] is value-or-NULL natively (element_at semantics).
#   * Struct comparison with NULL-able fields DIVERGES: Spark compares
#     with total ordering (NULL smallest: struct(NULL) = struct(NULL) is
#     TRUE, struct(NULL,1) < struct(1,1) is TRUE) while DuckDB propagates
#     NULL three-valued logic (both are NULL).  Pinned here, same class
#     as the axis-8 NULLS-default and axis-13 dow findings: comparison
#     operands draw from the NON-NULL leaf pool only.

_MS_SCALARS = [
    "CAST(o_totalprice AS DOUBLE)",
    "CAST(o_orderkey % 7 AS DOUBLE)",
    "CAST(o_custkey % 5 + 1 AS DOUBLE)",
    "CAST(o_custkey % 13 AS DOUBLE)",
]
_MS_NULLABLE = "CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS DOUBLE) " \
    "ELSE CAST(o_totalprice AS DOUBLE) END"


def _grow_struct(draw, depth, allow_null):
    """Grow a struct/scalar tree; returns (spark_txt, duck_txt, path) where
    path is a field-access chain reaching a scalar leaf."""
    leaves = _MS_SCALARS + ([_MS_NULLABLE] if allow_null else [])
    if depth >= 2 or (depth > 0 and draw(st.booleans())):
        leaf = draw(st.sampled_from(leaves))
        return leaf, leaf, ""
    a_s, a_d, a_p = _grow_struct(draw, depth + 1, allow_null)
    b_s, b_d, _ = _grow_struct(draw, depth + 1, allow_null)
    sp = f"named_struct('a', {a_s}, 'b', {b_s})"
    du = f"struct_pack(a := {a_d}, b := {b_d})"
    return sp, du, ".a" + a_p


@st.composite
def map_struct_spec(draw):
    s_sp, s_du, path = _grow_struct(draw, 0, allow_null=True)
    # map values: two random scalar exprs (nullable allowed)
    v1 = draw(st.sampled_from(_MS_SCALARS + [_MS_NULLABLE]))
    v2 = draw(st.sampled_from(_MS_SCALARS + [_MS_NULLABLE]))
    # comparison pair: one shape (flat 2-field struct), two non-null fills
    c = [draw(st.sampled_from(_MS_SCALARS)) for _ in range(4)]
    miss_key = draw(st.sampled_from(["zz", "K1", "k1 ", ""]))
    return (s_sp, s_du, path, v1, v2, c, miss_key)


@given(map_struct_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_map_struct_parity(spark, duck, spec):
    """Random nested-struct access paths + string-keyed map operations must
    agree per row on both engines (values compared, not container reprs)."""
    s_sp, s_du, path, v1, v2, c, miss = spec
    m_sp = f"map('k1', {v1}, 'k2', {v2})"
    m_du = f"MAP {{'k1': {v1}, 'k2': {v2}}}"
    cmp_sp = (f"(named_struct('a', {c[0]}, 'b', {c[1]}) < "
              f"named_struct('a', {c[2]}, 'b', {c[3]}))")
    cmp_du = (f"(struct_pack(a := {c[0]}, b := {c[1]}) < "
              f"struct_pack(a := {c[2]}, b := {c[3]}))")
    eq_sp = cmp_sp.replace(" < ", " = ")
    eq_du = cmp_du.replace(" < ", " = ")
    sel_sp = (
        f"({s_sp}){path} AS s_access, {m_sp}['k1'] AS m_hit, "
        f"{m_sp}['{miss}'] AS m_miss, "
        f"CAST(cardinality({m_sp}) AS BIGINT) AS m_card, "
        f"element_at(map_values({m_sp}), 2) AS m_val2, "
        f"{cmp_sp} AS s_lt, {eq_sp} AS s_eq"
    )
    sel_du = (
        f"({s_du}){path} AS s_access, ({m_du})['k1'][1] AS m_hit, "
        f"({m_du})['{miss}'][1] AS m_miss, "
        f"CAST(cardinality({m_du}) AS BIGINT) AS m_card, "
        f"(map_values({m_du}))[2] AS m_val2, "
        f"{cmp_du} AS s_lt, {eq_du} AS s_eq"
    )
    tail = "FROM orders WHERE o_orderkey % 19 = 3 ORDER BY o_orderkey LIMIT 60"
    got = [tuple(r) for r in spark.sql(f"SELECT {sel_sp} {tail}").collect()]
    want = [tuple(r) for r in duck.execute(f"SELECT {sel_du} {tail}").fetchall()]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if gv is None or wv is None:
                assert gv is None and wv is None, (g, w)
            elif isinstance(gv, bool):
                assert gv == bool(wv), (g, w)
            else:
                assert float(gv) == float(wv), (g, w)


# --- axis 17 (r8): statistical aggregate estimators --------------------------
# Reference aggregate.slt statistics rows (stddev/variance, covar_pop/samp,
# corr, regr_slope/intercept/r2/count/avgx/avgy/sxx/sxy/syy — the full
# regression family the reference implements in
# functions-aggregate/src/regr.rs) plus ordered-set percentile_cont/disc and
# median: random (function × operand expr × group shape) combos, shared SQL
# text on both engines.  Group shapes include a high-cardinality key
# (_ST_GROUP_HICARD: o_orderkey % 5000 → mostly 1-2 row groups at the test
# SF) so the n<2 guard paths (NULL, not error) are continuously exercised —
# for the ONE-ARG estimators only: two-arg ratio functions (corr, regr_*)
# over an n>=2 micro-group can land zero variance (e.g. equal o_custkey % 89
# pair), which is exactly the pinned DIVIDE_BY_ZERO divergence below, so the
# random pool keeps two-arg functions on the large-group keys.
#
# Probe-sweep findings baked in:
#   * corr / regr_r2 over a ZERO-VARIANCE operand with n>=2: Spark (ANSI
#     mode, the session default) raises DIVIDE_BY_ZERO where DuckDB
#     returns NULL — generator operands all vary with the row, group keys
#     never derive from an operand column (a same-column key would pin the
#     operand constant within each group); the divergence itself is pinned
#     in test_stat_zero_variance_divergence below.
#   * skewness / kurtosis DIVERGE by ESTIMATOR DEFINITION: Spark computes
#     the population moments (g1 = m3/m2^1.5, g2 = m4/m2^2 - 3), DuckDB
#     the bias-corrected sample estimators (G1, G2), and the small-n guard
#     thresholds differ too (DuckDB NULLs at n=2 resp. n<=3 where Spark
#     returns values).  Excluded from the shared pool; the exact
#     conversion formulas are pinned in
#     test_stat_skew_kurtosis_estimator_divergence below.
#   * approx_count_distinct is sketch-implementation-defined (HLL++ vs
#     DuckDB's HLL: 151 vs 150 on the same 150-key column) — out of scope
#     here; the registry compares approx entries via exact twins instead.
#   * Distributed co-moment merge (Spark) vs serial accumulation (DuckDB)
#     differs only in float tail digits — compared at rel 1e-6.

_ST_ONE = [
    "stddev_samp({x})", "stddev_pop({x})", "var_samp({x})", "var_pop({x})",
    "avg({x})", "median({x})",
    "percentile_cont(0.25) WITHIN GROUP (ORDER BY {x})",
    "percentile_disc(0.75) WITHIN GROUP (ORDER BY {x})",
]
_ST_TWO = [
    "corr({y}, {x})", "covar_samp({y}, {x})", "covar_pop({y}, {x})",
    "regr_slope({y}, {x})", "regr_intercept({y}, {x})", "regr_r2({y}, {x})",
    "CAST(regr_count({y}, {x}) AS BIGINT)",
    "regr_avgx({y}, {x})", "regr_avgy({y}, {x})",
    "regr_sxx({y}, {x})", "regr_sxy({y}, {x})", "regr_syy({y}, {x})",
]
# Operands vary per row; group keys (below) never reuse these columns.
_ST_XS = [
    "o_totalprice",
    "CAST(o_orderkey % 997 AS DOUBLE)",
    "CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS DOUBLE) "
    "ELSE o_totalprice END",
]
_ST_YS = [
    "CAST(o_custkey % 89 AS DOUBLE)",
    "o_totalprice * 1e-3",
    "CASE WHEN o_custkey % 7 = 0 THEN CAST(NULL AS DOUBLE) "
    "ELSE CAST(o_custkey % 53 AS DOUBLE) END",
]
_ST_GROUPS = [
    None,  # global aggregate
    "o_orderstatus",
    "o_orderpriority",
    "year(CAST(o_orderdate AS TIMESTAMP))",
]
# High-cardinality key: mostly singleton/pair groups — the small-n guard
# path.  One-arg estimators only (see header comment re zero-variance
# DIVIDE_BY_ZERO divergence for the two-arg ratios).
_ST_GROUP_HICARD = "o_orderkey % 5000"


@st.composite
def stat_agg_spec(draw):
    key = draw(st.sampled_from(_ST_GROUPS + [_ST_GROUP_HICARD]))
    pool = _ST_ONE if key == _ST_GROUP_HICARD else _ST_ONE + _ST_TWO
    fns = draw(st.lists(st.sampled_from(pool), min_size=1,
                        max_size=3, unique=True))
    x = draw(st.sampled_from(_ST_XS))
    y = draw(st.sampled_from(_ST_YS))
    return fns, x, y, key


@given(stat_agg_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_stat_aggregate_parity(spark, duck, spec):
    """Random statistical-aggregate combos must agree on both engines
    within float-merge tolerance (NULL pattern exactly)."""
    fns, x, y, key = spec
    sel = ", ".join(
        f"{f.format(x=x, y=y)} AS a{i}" for i, f in enumerate(fns)
    )
    if key is None:
        sql = f"SELECT {sel} FROM orders"
    else:
        sql = (f"SELECT {key} AS k, {sel} FROM orders "
               f"GROUP BY {key} ORDER BY k")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(got) == len(want), sql
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if gv is None or wv is None:
                assert gv is None and wv is None, (sql, g, w)
            elif isinstance(gv, float):
                assert gv == pytest.approx(float(wv), rel=1e-6, abs=1e-9), \
                    (sql, g, w)
            else:
                assert gv == wv, (sql, g, w)


def test_stat_zero_variance_divergence(spark, duck):
    """Pinned axis-17 divergence: corr (and the regr ratios) over a
    zero-variance operand with n>=2.  Spark under ANSI mode (the session
    default) raises DIVIDE_BY_ZERO; DuckDB returns NULL.  Same
    permissive-vs-strict class as the error-parity negative-substring
    finding — recorded, not reconciled."""
    sql = ("SELECT corr(x, CAST(o_custkey AS DOUBLE)) AS v FROM "
           "(SELECT 5.0 AS x, o_custkey FROM orders) t")
    assert duck.execute(sql).fetchone()[0] is None
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        spark.sql(sql).collect()
    # n=1 (single-row group) is the NON-divergent guard path: both NULL.
    one = ("SELECT corr(o_totalprice, CAST(o_custkey AS DOUBLE)) AS v "
           "FROM orders WHERE o_orderkey = "
           "(SELECT MIN(o_orderkey) FROM orders)")
    assert spark.sql(one).collect()[0][0] is None
    assert duck.execute(one).fetchone()[0] is None


def test_stat_skew_kurtosis_estimator_divergence(spark, duck):
    """Pinned axis-17 divergence: higher-moment estimator DEFINITIONS.

    Spark's skewness/kurtosis are the population moments
        g1 = m3 / m2^1.5          g2 = m4 / m2^2 - 3
    while DuckDB computes the bias-corrected sample estimators
        G1 = g1 * sqrt(n(n-1)) / (n-2)
        G2 = ((n-1) / ((n-2)(n-3))) * ((n+1) * g2 + 6)
    so the two engines agree only through the conversion formulas (and
    DuckDB guards to NULL below the correction's domain: n<3 resp. n<4,
    where Spark still returns the population value)."""
    sql = ("SELECT CAST(COUNT(o_totalprice) AS BIGINT) AS n, "
           "skewness(o_totalprice) AS sk, kurtosis(o_totalprice) AS ku "
           "FROM orders")
    n, g1, g2 = spark.sql(sql).collect()[0]
    _, G1, G2 = duck.execute(sql).fetchone()
    assert G1 == pytest.approx(g1 * (n * (n - 1)) ** 0.5 / (n - 2), rel=1e-9)
    assert G2 == pytest.approx(
        (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * g2 + 6), rel=1e-9)
    # guard thresholds: n=2 → Spark numeric skewness, DuckDB NULL;
    # n=3 → Spark numeric kurtosis, DuckDB NULL (domain of the correction)
    two = ("SELECT skewness(o_totalprice) AS sk, kurtosis(o_totalprice) AS ku "
           "FROM orders WHERE o_orderkey IN "
           "(SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT {k})")
    s2 = spark.sql(two.format(k=2)).collect()[0]
    d2 = duck.execute(two.format(k=2)).fetchone()
    assert s2[0] is not None and s2[1] is not None
    assert d2 == (None, None)
    s3 = spark.sql(two.format(k=3)).collect()[0]
    d3 = duck.execute(two.format(k=3)).fetchone()
    assert s3[1] is not None and d3[1] is None
    assert d3[0] == pytest.approx(s3[0] * (3 * 2) ** 0.5 / 1, rel=1e-9)


# --- axis 18 (r9): window FRAME BOUNDS × aggregate interplay -----------------
# Reference window.slt frame coverage (functions-window + window exec ROWS/
# RANGE offset frames): random (frame mode × bound pair × aggregate ×
# partition × direction) combos, shared SQL text on both engines — the
# frame-edge space the hand suite (window.py, window_edge_frames_nulls)
# samples only pointwise.
#
# Domain constraints baked in:
#   * GROUPS mode is DuckDB-only (Spark has ROWS/RANGE) — out of scope.
#   * ORDER BY key is o_orderkey, UNIQUE within every partition: RANGE
#     frames are then peer-free (same membership logic as ROWS) and
#     first_value/last_value are deterministic on both engines.
#   * Operands are exact integers (sum/min/max/count stay exact; avg is
#     one double division of exact ints — bit-equal on both engines).
#   * Bound pairs are rank-ordered (start never after end) — the
#     frame-start>end shapes are rejected at parse/run time by both
#     engines, nothing to fuzz there.  Empty frames (e.g. BETWEEN
#     3 FOLLOWING AND 5 FOLLOWING at the partition tail) DO occur and
#     pin the NULL-vs-0 guard behavior (count → 0, others → NULL).
#
# Probe-sweep finding baked in (found by this axis on its FIRST run):
#   * RANGE mode with an END bound of exactly `0 PRECEDING`: Spark
#     includes the current row (0 PRECEDING ≡ CURRENT ROW, the SQL-
#     standard reading), DuckDB EXCLUDES it (first row's frame is
#     empty → NULL).  ROWS mode and `0 FOLLOWING`/start-side zero
#     bounds agree.  Excluded from the random pool; pinned in
#     test_window_frame_zero_preceding_divergence below.

_WF_FNS = [
    "sum({x})", "min({x})", "max({x})", "count({x})", "avg({x})",
    "first_value({x})", "last_value({x})",
]
_WF_XS = [
    "o_orderkey % 97",
    "CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS BIGINT) "
    "ELSE o_custkey % 53 END",
]
_WF_PARTS = [None, "o_orderstatus", "o_orderpriority"]
# (rank, template): a frame start must have rank <= the end's rank
_WF_BOUNDS = [
    (0, "UNBOUNDED PRECEDING"),
    (1, "{n} PRECEDING"),
    (2, "CURRENT ROW"),
    (3, "{n} FOLLOWING"),
    (4, "UNBOUNDED FOLLOWING"),
]


@st.composite
def window_frame_spec(draw):
    mode = draw(st.sampled_from(["ROWS", "RANGE"]))
    r1, t1 = draw(st.sampled_from(_WF_BOUNDS[:4]))
    r2, t2 = draw(st.sampled_from([b for b in _WF_BOUNDS if b[0] >= max(r1, 1)]))
    n1, n2 = draw(st.integers(0, 6)), draw(st.integers(0, 6))
    if r1 == r2 == 1:
        n1, n2 = max(n1, n2), min(n1, n2)  # k PRECEDING pairs: larger first
    if r1 == r2 == 3:
        n1, n2 = min(n1, n2), max(n1, n2)  # k FOLLOWING pairs: smaller first
    if mode == "RANGE" and r2 == 1 and n2 == 0:
        # END `0 PRECEDING` in RANGE: pinned divergence — shift both
        # bounds up one (preserves start >= end for PRECEDING pairs)
        n2 = 1
        if r1 == 1:
            n1 = max(n1, n2)
    start, end = t1.format(n=n1), t2.format(n=n2)
    fns = draw(st.lists(st.sampled_from(_WF_FNS), min_size=1, max_size=3,
                        unique=True))
    x = draw(st.sampled_from(_WF_XS))
    part = draw(st.sampled_from(_WF_PARTS))
    desc = draw(st.booleans())
    return mode, start, end, fns, x, part, desc


@given(window_frame_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_window_frame_parity(spark, duck, spec):
    """Random frame-bound × aggregate windows must agree on both engines
    (NULL pattern exactly; ints exactly; avg at 1e-9)."""
    mode, start, end, fns, x, part, desc = spec
    over = (f"OVER ({'PARTITION BY ' + part + ' ' if part else ''}"
            f"ORDER BY o_orderkey {'DESC' if desc else 'ASC'} "
            f"{mode} BETWEEN {start} AND {end})")
    sel = ", ".join(f"{f.format(x=x)} {over} AS a{i}"
                    for i, f in enumerate(fns))
    sql = (f"SELECT o_orderkey, {sel} FROM orders "
           f"WHERE o_orderkey % 7 = 1 ORDER BY o_orderkey LIMIT 150")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(got) == len(want), sql
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if gv is None or wv is None:
                assert gv is None and wv is None, (sql, g, w)
            elif isinstance(gv, float):
                assert gv == pytest.approx(float(wv), rel=1e-9), (sql, g, w)
            else:
                assert gv == wv, (sql, g, w)


def test_window_frame_zero_preceding_divergence(spark, duck):
    """Pinned axis-18 divergence (found by the random sweep's first run):
    a RANGE frame whose END bound is `0 PRECEDING`.  Spark reads
    0 PRECEDING as CURRENT ROW — the SQL-standard identity — so the
    frame includes the current row's peers; DuckDB excludes the current
    row (its first row's frame is EMPTY → NULL).  ROWS mode and
    zero-offset start bounds / 0 FOLLOWING agree on both engines."""
    sql = ("SELECT o_orderkey, sum(o_orderkey % 97) OVER ("
           "ORDER BY o_orderkey RANGE BETWEEN UNBOUNDED PRECEDING "
           "AND 0 PRECEDING) AS s FROM orders "
           "ORDER BY o_orderkey LIMIT 3")
    got = [r.s for r in spark.sql(sql).collect()]
    want = [r[1] for r in duck.execute(sql).fetchall()]
    assert got[0] is not None          # Spark: frame = {current row}
    assert want[0] is None             # DuckDB: frame empty on row 1
    # every later DuckDB frame lags Spark's by exactly the current row
    assert want[1] == got[0] and want[2] == got[1]
    # the agreeing neighbours: ROWS mode and 0 FOLLOWING end bound
    for frame in ("ROWS BETWEEN UNBOUNDED PRECEDING AND 0 PRECEDING",
                  "RANGE BETWEEN UNBOUNDED PRECEDING AND 0 FOLLOWING",
                  "RANGE BETWEEN 0 PRECEDING AND UNBOUNDED FOLLOWING"):
        q = (f"SELECT sum(o_orderkey % 97) OVER (ORDER BY o_orderkey "
             f"{frame}) AS s FROM orders ORDER BY o_orderkey LIMIT 5")
        assert [r.s for r in spark.sql(q).collect()] == \
            [r[0] for r in duck.execute(q).fetchall()], frame


# --- axis 19 (r10): multi-window-function queries ----------------------------
# Two or three window functions with INDEPENDENT specs in one SELECT
# (different partition keys, directions, frames), optionally with a second
# window LAYER over the first's output — exercises WindowExec chaining,
# window-spec grouping, and projection pushthrough (reference: window.slt
# multi-function blocks; the r9 verdict named this space as axis-19
# candidate).  Spark compiles each distinct (partition, order) spec into
# its own Window operator stacked over a single sort-reuse chain; the axis
# checks the chaining never leaks between specs.
#
# Domain constraints baked in:
#   * row_number/ntile/lead/lag/nth_value/first/last_value draw the UNIQUE
#     order key (o_orderkey) — with ties their output is legitimately
#     nondeterministic on both engines, nothing to compare.
#   * Over NON-UNIQUE order keys only peer-insensitive functions are
#     drawn: rank/dense_rank/percent_rank/cume_dist and aggregates under
#     the DEFAULT frame (RANGE ... CURRENT ROW includes all peers, so the
#     result is tie-order-free).  ROWS frames with ties are excluded for
#     the same nondeterminism reason.
#   * IGNORE NULLS is a SPELLING divergence, excluded from the shared-SQL
#     pool and pinned below: Spark puts the modifier OUTSIDE the call
#     (`lead(x, 1) IGNORE NULLS OVER ...`), DuckDB INSIDE the argument
#     list (`lead(x, 1 IGNORE NULLS) OVER ...`); each engine rejects the
#     other's syntax at parse time.  Values agree once spelled per
#     dialect (test_ignore_nulls_spelling_divergence).
#
# Probe sweeps before landing: 280 random multi-spec combos + 8 hand
# corner cases (window-over-aggregate in one block, negative lead/lag
# offsets, percent_rank/cume_dist on single-row partitions, ntile >
# partition size, nth_value beyond frame, two-layer frames) — all
# value-identical across engines.

_MW_TIE_FNS = [
    "rank()", "dense_rank()", "percent_rank()", "cume_dist()",
    "sum({x})", "min({x})", "max({x})", "count({x})", "avg({x})",
]
_MW_UNIQ_FNS = [
    "row_number()", "ntile(3)", "ntile(7)",
    "lead({x}, 1, -1)", "lag({x}, 2, 0)", "nth_value({x}, 2)",
    "first_value({x})", "last_value({x})",
    "sum({x})", "count({x})",
]
_MW_XS = [
    "o_orderkey % 97",
    "CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS BIGINT) "
    "ELSE o_custkey % 53 END",
]
_MW_PARTS = [None, "o_orderstatus", "o_orderpriority", "o_orderkey % 3"]
_MW_FRAMES = [
    None,
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING",
    "ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING",
]
_MW_RANKING = ("row_number()", "rank()", "dense_rank()", "percent_rank()",
               "cume_dist()")


@st.composite
def multi_window_spec(draw):
    n = draw(st.integers(2, 3))
    exprs = []
    for i in range(n):
        tie = draw(st.booleans())
        if tie:
            fn = draw(st.sampled_from(_MW_TIE_FNS))
            okey = draw(st.sampled_from(["o_custkey % 11", "o_orderstatus"]))
            frame = None  # default frame only: peer-inclusive, tie-safe
        else:
            fn = draw(st.sampled_from(_MW_UNIQ_FNS))
            okey = "o_orderkey"
            frame = (None if fn.split("(")[0] + "()" in _MW_RANKING
                     or fn.startswith(("lead", "lag", "ntile"))
                     else draw(st.sampled_from(_MW_FRAMES)))
        x = draw(st.sampled_from(_MW_XS))
        part = draw(st.sampled_from(_MW_PARTS))
        d = draw(st.sampled_from(["ASC", "DESC"]))
        over = (f"OVER ({'PARTITION BY ' + part + ' ' if part else ''}"
                f"ORDER BY {okey} {d}{' ' + frame if frame else ''})")
        exprs.append(f"{fn.format(x=x)} {over} AS a{i}")
    outer = draw(st.booleans())
    return exprs, outer


@given(multi_window_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_multi_window_parity(spark, duck, spec):
    """Random multi-spec window blocks (and a second window layer over
    the first's output) must agree on both engines."""
    exprs, outer = spec
    inner = (f"SELECT o_orderkey, {', '.join(exprs)} FROM orders "
             f"WHERE o_orderkey % 7 = 1")
    if outer:
        sql = (f"SELECT o_orderkey, a0, sum(a0) OVER (ORDER BY o_orderkey "
               f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s "
               f"FROM ({inner}) t ORDER BY o_orderkey LIMIT 120")
    else:
        sql = inner + " ORDER BY o_orderkey LIMIT 120"
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert len(got) == len(want), sql
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if gv is None or wv is None:
                assert gv is None and wv is None, (sql, g, w)
            elif isinstance(gv, float):
                assert gv == pytest.approx(float(wv), rel=1e-9), (sql, g, w)
            else:
                assert gv == wv, (sql, g, w)


def test_window_over_aggregate_single_block(spark, duck):
    """Window functions OVER aggregate results in ONE query block (no
    subquery) — the GROUP BY runs first, the window sees group rows.
    Both engines implement the SQL-standard two-phase evaluation."""
    sql = ("SELECT o_orderstatus, count(*) AS c, "
           "sum(count(*)) OVER (ORDER BY o_orderstatus) AS rc "
           "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want and got


def test_ignore_nulls_spelling_divergence(spark, duck):
    """Pinned axis-19 finding: IGNORE NULLS placement is a hard SYNTAX
    divergence — Spark takes the modifier after the call, DuckDB inside
    the argument list; each engine parse-errors on the other's form.
    The SEMANTICS agree once spelled per dialect (checked here), which
    is why the unparser must refuse ignoreNulls renderings rather than
    pass Spark text through (compat/unparser.py _IGNORE_NULLS_CLASSES
    pins the companion silent-drop bug in Expression.sql)."""
    x = ("CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS BIGINT) "
         "ELSE o_custkey % 53 END")
    s_sql = (f"SELECT lead({x}, 1) IGNORE NULLS OVER (ORDER BY o_orderkey)"
             f" AS v, last_value({x}) IGNORE NULLS OVER "
             f"(ORDER BY o_orderkey) AS w FROM orders "
             f"WHERE o_orderkey < 400 ORDER BY o_orderkey LIMIT 30")
    d_sql = (f"SELECT lead({x}, 1 IGNORE NULLS) OVER (ORDER BY o_orderkey)"
             f" AS v, last_value({x} IGNORE NULLS) OVER "
             f"(ORDER BY o_orderkey) AS w FROM orders "
             f"WHERE o_orderkey < 400 ORDER BY o_orderkey LIMIT 30")
    got = [tuple(r) for r in spark.sql(s_sql).collect()]
    want = [tuple(r) for r in duck.execute(d_sql).fetchall()]
    assert got == want and got            # same values, per-dialect text
    with pytest.raises(Exception):        # DuckDB rejects Spark's form
        duck.execute(s_sql)
    with pytest.raises(Exception):        # Spark rejects DuckDB's form
        spark.sql(d_sql).collect()


# --- axis 20 (r10): array-generator (explode/UNNEST) parity -------------------
# Spark's generator family (explode / explode_outer / posexplode, both
# the select-list form and LATERAL VIEW) against DuckDB's select-list
# unnest() — the reference covers this space in unnest.slt.  There is NO
# shared spelling (Spark rejects unnest, DuckDB rejects explode/LATERAL
# VIEW), so this axis renders PER-DIALECT text for the same semantics
# and value-compares, pinning the emulation identities:
#   * explode(a)        ≡ unnest(a)            — NULL elements kept, and
#     NULL/empty arrays drop the row in BOTH engines;
#   * explode_outer(a)  ≡ unnest(CASE WHEN a IS NULL OR len(a) = 0
#     THEN [NULL] ELSE a END) — one NULL row survives;
#   * posexplode(a)     ≡ unnest(range(len(a))) zipped with unnest(a) —
#     DuckDB zips multiple same-SELECT unnests positionally and range()
#     is 0-based, exactly posexplode's pos numbering.
# Source-function note (spelling, not a same-text divergence): Spark
# sequence(start, stop) auto-steps -1 when start > stop where DuckDB
# range(start, stop) is empty — the generator pairs below keep
# stop >= start so the axis tests the GENERATORS, not sequence().
#
# Probe sweep before landing: all 15 (array-shape × variant) combos over
# part at sf0.01 — value-identical.

_GEN_ARRS = [
    # (spark spelling, duckdb spelling) — same semantics
    ("array(p_size, CAST(NULL AS INT), p_size + 1)",
     "[p_size, CAST(NULL AS INT), p_size + 1]"),
    ("sequence(1, p_size % 4 + 1)", "range(1, p_size % 4 + 2)"),
    ("split(p_name, ' ')", "string_split(p_name, ' ')"),
    # empty for p_size % 3 = 0 rows (exercises the drop/outer paths)
    ("slice(array(p_size, p_size * 2), 1, p_size % 3)",
     "list_slice([p_size, p_size * 2], 1, p_size % 3)"),
    ("filter(array(p_size, p_size * 2, 7), x -> x > 8)",
     "list_filter([p_size, p_size * 2, 7], x -> x > 8)"),
]
_GEN_PREDS = ["p_partkey < 300", "p_partkey BETWEEN 100 AND 500",
              "p_size % 2 = 0 AND p_partkey < 600"]


@st.composite
def generator_spec(draw):
    arr = draw(st.sampled_from(_GEN_ARRS))
    variant = draw(st.sampled_from(["explode", "outer", "pos"]))
    pred = draw(st.sampled_from(_GEN_PREDS))
    return arr, variant, pred


def _null_last_key(r):
    return [(v is None, repr(v)) for v in r]


@given(generator_spec())
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_generator_parity(spark, duck_part, spec):
    (sa, da), variant, pred = spec
    if variant == "explode":
        ss = f"SELECT p_partkey, explode({sa}) AS v FROM part WHERE {pred}"
        ds = f"SELECT p_partkey, unnest({da}) AS v FROM part WHERE {pred}"
    elif variant == "outer":
        ss = (f"SELECT p_partkey, explode_outer({sa}) AS v "
              f"FROM part WHERE {pred}")
        ds = (f"SELECT p_partkey, unnest(CASE WHEN ({da}) IS NULL OR "
              f"len({da}) = 0 THEN [NULL] ELSE {da} END) AS v "
              f"FROM part WHERE {pred}")
    else:
        ss = (f"SELECT p_partkey, pos, v FROM (SELECT p_partkey, {sa} AS a "
              f"FROM part WHERE {pred}) t LATERAL VIEW posexplode(a) ex "
              f"AS pos, v")
        ds = (f"SELECT p_partkey, unnest(range(len(a))) AS pos, "
              f"unnest(a) AS v FROM (SELECT p_partkey, {da} AS a "
              f"FROM part WHERE {pred}) t")
    got = sorted(map(tuple, spark.sql(ss).collect()), key=_null_last_key)
    want = sorted(map(tuple, duck_part.execute(ds).fetchall()),
                  key=_null_last_key)
    assert got == want, (ss, ds, got[:3], want[:3])
    assert got or variant != "outer"      # outer always emits >= 1/row


def test_generator_nested_and_reaggregate(spark, duck_part):
    """Corner pins: one-level unnest of a nested array yields the inner
    LISTS in both engines, and a post-explode re-aggregation (the
    flatten-transform-regroup pipeline shape) returns identical group
    results."""
    ss = ("SELECT p_partkey, sort_array(collect_list(v)) AS vs FROM ("
          "SELECT p_partkey, explode(array(p_size, p_size * 2)) AS v "
          "FROM part WHERE p_partkey < 200) t GROUP BY p_partkey")
    ds = ("SELECT p_partkey, list_sort(list(v), 'ASC', 'NULLS FIRST') "
          "AS vs FROM (SELECT p_partkey, unnest([p_size, p_size * 2]) "
          "AS v FROM part WHERE p_partkey < 200) t GROUP BY p_partkey")
    got = sorted(map(repr, (tuple(r) for r in spark.sql(ss).collect())))
    want = sorted(map(repr, ((r[0], list(r[1]))
                             for r in duck_part.execute(ds).fetchall())))
    assert got == want and got
    # nested: explode of array<array<int>> yields inner lists
    s2 = ("SELECT explode(array(array(p_size), array(p_size, 7))) AS v "
          "FROM part WHERE p_partkey < 50")
    d2 = ("SELECT unnest([[p_size], [p_size, 7]]) AS v "
          "FROM part WHERE p_partkey < 50")
    g2 = sorted(map(repr, (tuple(r.v) for r in spark.sql(s2).collect())))
    w2 = sorted(map(repr, (tuple(r[0])
                           for r in duck_part.execute(d2).fetchall())))
    assert g2 == w2 and g2


# --- axis 21 (r10): correlated SCALAR subqueries × decorrelation --------------
#
# The reference dedicates optimizer passes to turning correlated scalar
# subqueries into joins (datafusion/optimizer/src/scalar_subquery_to_join.rs
# + decorrelate.rs); Spark runs the same rewrite in DecorrelateInnerQuery /
# RewriteCorrelatedScalarSubquery.  The classic decorrelation trap is the
# EMPTY correlated group: after the rewrite the inner aggregate becomes a
# LEFT OUTER join, so `COUNT(*)` over a customer with no matching orders
# must still produce 0 (the rewrite has to patch NULL -> 0), while
# SUM/MIN/MAX/AVG must stay NULL — getting this wrong is a recurring bug
# class in every engine that decorrelates.  The axis crosses:
#   placement    SELECT-list scalar vs WHERE comparison vs COALESCE-wrapped
#   inner agg    COUNT(*) / COUNT(col) / SUM / MIN / MAX / AVG
#   inner filter none / half-selective / mostly-empty (forces empty groups)
#   outer slice  full customer table vs an acctbal band
# Aggregates are decimal-cast per the SURVEY §4 determinism rules so both
# engines quantize identically before the compare.

_CSQ_AGGS = [
    # (expr over orders, needs_null_patch) — COUNTs are the 0-vs-NULL class
    ("CAST(COUNT(*) AS BIGINT)", True),
    ("CAST(COUNT(o_orderkey) AS BIGINT)", True),
    ("CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)", False),
    ("MIN(o_totalprice)", False),
    ("MAX(o_totalprice)", False),
    ("CAST(AVG(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,6))", False),
]
_CSQ_INNER_FILTERS = [
    "",                                   # every customer with orders matches
    "AND o_orderstatus = 'F'",            # half-selective
    "AND o_totalprice > 400000.0",        # mostly-empty correlated groups
]
_CSQ_OUTER_FILTERS = [
    "",
    "WHERE c_acctbal BETWEEN 0.0 AND 5000.0",
]


@st.composite
def csq_spec(draw):
    agg, _ = draw(st.sampled_from(_CSQ_AGGS))
    inner_flt = draw(st.sampled_from(_CSQ_INNER_FILTERS))
    outer_flt = draw(st.sampled_from(_CSQ_OUTER_FILTERS))
    placement = draw(st.sampled_from(["select", "coalesce", "where"]))
    return agg, inner_flt, outer_flt, placement


@given(csq_spec())
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_correlated_scalar_subquery_parity(spark, duck_join, spec):
    agg, inner_flt, outer_flt, placement = spec
    sub = (f"(SELECT {agg} FROM orders "
           f"WHERE o_custkey = c_custkey {inner_flt})")
    if placement == "where":
        # comparison in WHERE: UNKNOWN (NULL scalar) must filter the row,
        # and the empty-group COUNT=0 path must compare as 0, not NULL
        sql = (f"SELECT CAST(COUNT(*) AS BIGINT) AS n, "
               f"CAST(SUM(c_custkey) AS BIGINT) AS checksum "
               f"FROM customer {outer_flt} "
               f"{'AND' if outer_flt else 'WHERE'} {sub} >= 2")
    else:
        v = f"COALESCE({sub}, -1)" if placement == "coalesce" else sub
        sql = (f"SELECT c_custkey, {v} AS v FROM customer {outer_flt} "
               f"ORDER BY c_custkey")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck_join.execute(sql).fetchall()]
    assert got == want, sql


def test_correlated_count_empty_group_is_zero(spark, duck_join):
    """Corner pin (the decorrelation trap the axis hunts): a correlated
    COUNT(*) over a predicate no order satisfies must be 0 for EVERY
    customer — a decorrelation that forgets the NULL->0 patch after its
    LEFT OUTER rewrite returns NULL (or drops rows) instead."""
    sql = ("SELECT CAST(COUNT(*) AS BIGINT) AS n_customers, "
           "CAST(SUM(cnt) AS BIGINT) AS total "
           "FROM (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders "
           "WHERE o_custkey = c_custkey AND o_totalprice > 1e12) AS cnt "
           "FROM customer) t")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck_join.execute(sql).fetchall()]
    assert got == want
    n, total = got[0]
    assert n > 0 and total == 0      # every count is exactly 0, never NULL


def test_correlated_top1_subquery_parity(spark, duck_join):
    """Corner pin: correlated scalar subquery with ORDER BY ... LIMIT 1
    (the top-1-per-group decorrelation — Spark rewrites it through a
    window/aggregate, DuckDB through its DelimJoin).  Tie-broken by
    o_orderkey so the top-1 is unique and the compare deterministic."""
    sql = ("SELECT c_custkey, (SELECT o_totalprice FROM orders "
           "WHERE o_custkey = c_custkey "
           "ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) AS v "
           "FROM customer ORDER BY c_custkey")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck_join.execute(sql).fetchall()]
    assert got == want and got


def test_correlated_boolean_projection_parity(spark, duck_join):
    """Axis-21 companion: EXISTS as a PROJECTED boolean (not a WHERE
    predicate) — the decorrelation must preserve the value in a context
    where UNKNOWN can't be filtered away.  Parity holds for EXISTS and
    for IN over a NULL-free inner set."""
    sql = ("SELECT c_custkey, "
           "EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey "
           "AND o_totalprice > 200000.0) AS has_big, "
           "c_custkey IN (SELECT o_custkey FROM orders "
           "WHERE o_orderstatus = 'F') AS in_f "
           "FROM customer ORDER BY c_custkey")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck_join.execute(sql).fetchall()]
    assert got == want and got


def test_in_subquery_projection_null_divergence(spark, duck_join):
    """Pinned axis-21 finding (first run): `x IN (subquery whose set
    contains NULL)` PROJECTED as a value is FALSE in Spark for
    non-members but UNKNOWN→NULL per the SQL standard (DuckDB agrees
    with the standard; so does Spark's own LITERAL in-list `1 IN (2,
    NULL)` = NULL!).  Spark's InSubquery rewrite keeps null-awareness
    only where the predicate is a FILTER (the axis-12 NOT IN anti-join
    path); in a projection the existence-join lowering loses the
    UNKNOWN state.  In a WHERE clause FALSE and UNKNOWN both drop the
    row, so the divergence is invisible there — only the projected
    value exposes it."""
    q = ("SELECT 1 IN (SELECT x FROM VALUES (2), (CAST(NULL AS INT)) "
         "AS t(x)) AS v")
    assert spark.sql(q).collect()[0].v is False          # Spark: FALSE
    dq = q.replace("AS t(x)", "t(x)")
    assert duck_join.execute(dq).fetchall()[0][0] is None  # standard: NULL
    # Spark's literal in-list follows the standard — the divergence is
    # specific to the subquery lowering
    assert spark.sql("SELECT 1 IN (2, NULL) AS v").collect()[0].v is None
    # membership TRUE is unaffected
    q2 = q.replace("SELECT 1 IN", "SELECT 2 IN")
    assert spark.sql(q2).collect()[0].v is True
    assert duck_join.execute(q2.replace("AS t(x)", "t(x)")
                             ).fetchall()[0][0] is True


# --- axis 22 (r10): multi-DISTINCT aggregates × Expand lowering ---------------
#
# Spark lowers a query with MULTIPLE DISTINCT aggregates through Expand
# (one row replica per distinct group, null-padded) — a rewrite with a
# long history of wrong-result bugs (mixed plain+distinct aggs, FILTER
# clauses landing on the wrong replica, NULL keys merging replicas);
# DuckDB plans each distinct aggregate as its own hash table.  The
# reference runs the analogous shapes in its aggregate fuzz (distinct
# aggregation in fuzz_cases/aggregate_fuzz.rs).  The axis crosses 1-3
# distinct aggregates over DIFFERENT columns (some NULL-bearing via
# NULLIF) with an optional plain aggregate alongside (the mixed lowering
# is the hard path), an optional FILTER clause on one distinct agg, and
# 0-2 group keys including a NULL-bearing key.

_DAGG_POOL = [
    "CAST(COUNT(DISTINCT o_custkey) AS BIGINT)",
    "CAST(COUNT(DISTINCT NULLIF(o_orderpriority, '1-URGENT')) AS BIGINT)",
    "CAST(SUM(DISTINCT o_orderkey % 100) AS BIGINT)",
    "CAST(AVG(DISTINCT CAST(o_orderkey % 7 AS DOUBLE)) AS DOUBLE)",
    "CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 100000.0)"
    " AS BIGINT)",
    "CAST(MIN(DISTINCT o_totalprice) AS DOUBLE)",
]
_DAGG_PLAIN = [
    None,
    "CAST(COUNT(*) AS BIGINT)",
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)",
]
_DAGG_KEYS = [
    [],
    ["o_orderstatus"],
    ["NULLIF(o_orderstatus, 'P')"],            # NULL-bearing group key
    ["o_orderstatus", "CAST(o_custkey % 5 AS BIGINT)"],
]


@st.composite
def dagg_spec(draw):
    daggs = draw(st.lists(st.sampled_from(_DAGG_POOL),
                          min_size=1, max_size=3, unique=True))
    plain = draw(st.sampled_from(_DAGG_PLAIN))
    keys = draw(st.sampled_from(_DAGG_KEYS))
    flt = draw(st.sampled_from(["", "WHERE o_totalprice > 50000.0"]))
    return daggs, plain, keys, flt


@given(dagg_spec())
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_multi_distinct_aggregate_parity(spark, duck, spec):
    daggs, plain, keys, flt = spec
    aggs = list(daggs) + ([plain] if plain else [])
    key_cols = ", ".join(f"{k} AS k{i}" for i, k in enumerate(keys))
    agg_cols = ", ".join(f"{a} AS a{i}" for i, a in enumerate(aggs))
    sel = f"{key_cols}, {agg_cols}" if keys else agg_cols
    group = (" GROUP BY " + ", ".join(f"k{i}" for i in range(len(keys)))
             if keys else "")
    sql = f"SELECT {sel} FROM orders {flt}{group}"
    # order-insensitive compare (the axis-8 NULLS-default divergence is
    # a separate, already-pinned finding — this axis is about VALUES)
    got = sorted(map(repr, (tuple(r) for r in spark.sql(sql).collect())))
    want = sorted(map(repr, map(tuple, duck.execute(sql).fetchall())))
    assert got == want, sql


# --- axis 23 (r10): set-operation branch TYPE UNIFICATION ---------------------
#
# UNION branches of different types force an engine to pick a unified
# column type (Spark: TypeCoercion widerTypeFor; DuckDB: MaxLogicalType;
# the reference: comparison_coercion in expr-common/type_coercion.rs).
# Unification rules are engine POLICY, not SQL-standard-determined, so
# this axis sweeps branch-type pairs and compares the unified VALUES —
# with the two divergent classes pinned explicitly below: numeric ×
# numeric-looking-STRING silently unifies to the NUMERIC type in Spark
# but VARCHAR in DuckDB (same rows, different types, different ORDER
# BY!), and bool × int is a loud Spark error but an int in DuckDB.

_UNIFY_SAFE_BRANCHES = [
    # (left literal, right literal) — pairs where both engines succeed
    ("CAST(1 AS TINYINT)", "CAST(300 AS BIGINT)"),
    ("CAST(1 AS INT)", "CAST(2.5 AS DOUBLE)"),
    ("CAST(1.5 AS DECIMAL(3,1))", "CAST(2 AS BIGINT)"),
    ("CAST(1.5 AS DECIMAL(3,1))", "CAST(0.25 AS DECIMAL(10,6))"),
    ("1", "2.5"),
    ("DATE '2024-01-01'", "TIMESTAMP '2024-01-02 03:04:05'"),
    ("CAST(1 AS INT)", "NULL"),
    ("NULL", "'abc'"),
    ("CAST(2.5 AS FLOAT)", "CAST(1 AS BIGINT)"),
]


@pytest.mark.parametrize("lhs,rhs", _UNIFY_SAFE_BRANCHES)
def test_setop_type_unification_parity(spark, duck, lhs, rhs):
    q = (f"SELECT x FROM (SELECT {lhs} AS x UNION ALL SELECT {rhs}) t")
    got = sorted(map(repr, (r.x for r in spark.sql(q).collect())))
    want = sorted(map(repr, (v[0] for v in duck.execute(q).fetchall())))
    assert got == want, (q, got, want)


def test_setop_numeric_string_unification_divergence(spark, duck):
    """Pinned axis-23 finding (first probe): numeric × numeric-looking
    STRING branches unify to the NUMERIC type in Spark but to VARCHAR in
    DuckDB — both succeed silently, and an ORDER BY over the unified
    column then sorts numerically in Spark ([9, 10]) but
    LEXICOGRAPHICALLY in DuckDB (['10', '9']).  A federated query over
    this shape silently returns a different first row per engine — the
    unparser's job is exactly to never let such text cross engines
    unvalidated."""
    q = ("SELECT x FROM (SELECT 10 AS x UNION ALL SELECT '9') t "
         "ORDER BY x LIMIT 1")
    assert spark.sql(q).collect()[0].x == 9          # numeric order
    assert duck.execute(q).fetchall()[0][0] == "10"  # lexicographic order


def test_setop_bool_int_union_loud_vs_value(spark, duck):
    """Pinned axis-23 finding: bool × int UNION is a LOUD analysis error
    in Spark (INCOMPATIBLE_COLUMN_TYPE) but quietly unifies to int in
    DuckDB — the acceptable divergence direction (never silent wrongness
    on the Spark side)."""
    q = "SELECT x FROM (SELECT true AS x UNION ALL SELECT 1) t"
    import pyspark.errors

    with pytest.raises(pyspark.errors.AnalysisException):
        spark.sql(q).collect()
    assert sorted(v[0] for v in duck.execute(q).fetchall()) == [1, 1]


# --- empty-input global-aggregate battery (reference aggregate.slt) ----------

_EMPTY_AGG_CASES = [
    # global aggregate over empty input yields ONE row: COUNT 0, others NULL
    "SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(o_orderkey) AS BIGINT)"
    " AS s, MIN(o_totalprice) AS m FROM orders WHERE o_orderkey < 0",
    # HAVING filters that single row away
    "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders WHERE o_orderkey < 0"
    " HAVING COUNT(*) > 0",
    # ... or keeps it when the NULL-SUM predicate holds
    "SELECT CAST(SUM(o_orderkey) AS BIGINT) AS s FROM orders "
    "WHERE o_orderkey < 0 HAVING SUM(o_orderkey) IS NULL",
    # GROUPED aggregate over empty input yields ZERO rows (not one)
    "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n FROM orders "
    "WHERE o_orderkey < 0 GROUP BY o_orderstatus",
    # HAVING without GROUP BY is a global aggregate even without WHERE
    "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders "
    "HAVING MIN(o_totalprice) > 1e9",
]


@pytest.mark.parametrize("sql", _EMPTY_AGG_CASES)
def test_empty_input_global_aggregate_parity(spark, duck, sql):
    """The one-row-vs-zero-rows contract of global vs grouped aggregates
    over empty input (reference aggregate.slt empty-relation family; the
    same invariant axis 21's decorrelated COUNT relies on): both engines
    agree on every case."""
    got = [tuple(r) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want, sql


# --- axis 24 (r11): DECIMAL precision/scale PROPAGATION -----------------------
#
# The result type of decimal arithmetic is engine POLICY, not standard-
# determined (Spark: Hive/SQL-Server-style rules in DecimalPrecision +
# allowPrecisionLoss=true; DuckDB: saturate-at-38 keeping s1+s2; the
# reference: decimal coercion in expr-common/type_coercion.rs).  The
# repo leans on decimal accumulation everywhere (SURVEY §4), so this
# axis sweeps +/-/* literal trees whose worst-case precision fits BOTH
# engines' caps and requires numeric value equality — with the two
# divergent classes pinned explicitly below: decimal DIVISION (exact
# decimal in Spark, DOUBLE in DuckDB) and the precision-38 cap on
# high-scale multiplication (Spark rounds the VALUE to scale >= 6;
# DuckDB keeps s1+s2 digits — silently different values).

# literal pool capped at p<=6, s<=3 so a depth-2 all-mul tree tops out
# at precision 27 / scale 12 — inside every engine's exact range
_DEC_LITS = [
    "CAST(1.5 AS DECIMAL(5,2))",
    "CAST(-3.25 AS DECIMAL(6,3))",
    "CAST(7 AS DECIMAL(4,1))",
    "CAST(0.125 AS DECIMAL(6,3))",
    "CAST(-42 AS DECIMAL(3,0))",
    "CAST(9.99 AS DECIMAL(3,2))",
]


@st.composite
def decimal_tree(draw):
    def node(depth):
        if depth == 0 or draw(st.booleans()):
            return draw(st.sampled_from(_DEC_LITS))
        op = draw(st.sampled_from(["+", "-", "*"]))
        return f"({node(depth - 1)} {op} {node(depth - 1)})"
    return node(2)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(decimal_tree())
def test_decimal_propagation_parity(spark, duck, expr):
    """Within both engines' exact range, every +/-/* propagation tree
    must agree NUMERICALLY (result scales differ in spelling — Spark
    (4,2) vs DuckDB (11,4) for the same addition — so equality is on
    the Decimal VALUE, not the rendered text)."""
    q = f"SELECT {expr} AS r"
    got = spark.sql(q).collect()[0].r
    want = duck.execute(q).fetchall()[0][0]
    assert got is not None and want is not None and got == want, (
        q, got, want)


def test_decimal_division_type_policy_divergence(spark, duck):
    """Pinned axis-24 finding: decimal / decimal is EXACT DECIMAL in
    Spark (Hive rules: DECIMAL(38,0)/DECIMAL(38,0) -> DECIMAL(38,6),
    value 0.333333) but DOUBLE in DuckDB (0.3333333333333333) — the
    same query text silently changes exactness class AND value across
    engines.  Any federated decimal division must therefore pin its
    result type explicitly on both sides."""
    q = ("SELECT CAST(1 AS DECIMAL(38,0)) / CAST(3 AS DECIMAL(38,0)) "
         "AS r")
    sdf = spark.sql(q)
    assert sdf.schema[0].dataType.simpleString() == "decimal(38,6)"
    assert str(sdf.collect()[0].r) == "0.333333"
    assert duck.execute(
        "SELECT typeof(CAST(1 AS DECIMAL(38,0)) / CAST(3 AS "
        "DECIMAL(38,0)))").fetchall()[0][0] == "DOUBLE"
    assert duck.execute(q).fetchall()[0][0] == 0.3333333333333333


def test_decimal_mul_precision_cap_divergence(spark, duck):
    """Pinned axis-24 finding: when s1+s2 pushes past precision 38,
    Spark's allowPrecisionLoss=true REDUCES the result scale (to >= 6)
    and ROUNDS the value — DECIMAL(38,18) * DECIMAL(38,8) returns
    DECIMAL(38,6) = 12.193263 — while DuckDB saturates precision at 38
    but KEEPS scale s1+s2=26, returning the exact product
    12.19326311248285321112635269.  Same inputs, both succeed, values
    differ from the 7th decimal digit on: the silent-divergence class
    this axis exists to catch."""
    from decimal import Decimal

    q = ("SELECT CAST(1.234567890123456789 AS DECIMAL(38,18)) * "
         "CAST(9.87654321 AS DECIMAL(38,8)) AS r")
    sdf = spark.sql(q)
    assert sdf.schema[0].dataType.simpleString() == "decimal(38,6)"
    got = sdf.collect()[0].r
    want = duck.execute(q).fetchall()[0][0]
    assert got == Decimal("12.193263")
    assert want == Decimal("12.19326311248285321112635269")
    assert got != want


def test_decimal_chained_division_scale_accumulation(spark, duck):
    """Pinned axis-24 corollary: in a DIVISION CHAIN Spark's per-step
    scale rules round INTERMEDIATE results, so the final decimal is not
    the exact quotient either — (1/3)/7 at DECIMAL(10,5) returns
    DECIMAL(38,23) = 0.04761904761904761428571, while exact 1/21 =
    0.047619047619047619...: the error enters at the first rounded
    step and propagates.  DuckDB computes the whole chain in DOUBLE.
    Neither engine returns the exact rational; they disagree with each
    other AND with exact arithmetic — federated decimal division
    chains must be rewritten to a single division or a pinned scale."""
    q = ("SELECT CAST(1 AS DECIMAL(10,5)) / CAST(3 AS DECIMAL(10,5)) "
         "/ CAST(7 AS DECIMAL(10,5)) AS r")
    sdf = spark.sql(q)
    assert sdf.schema[0].dataType.simpleString() == "decimal(38,23)"
    assert str(sdf.collect()[0].r) == "0.04761904761904761428571"
    assert duck.execute(q).fetchall()[0][0] == 0.047619047619047616


# --- axis 25 (r12): INTERVAL-type arithmetic propagation ----------------------
#
# The reference dedicates a whole slt family to interval arithmetic
# (interval_arithmetic.slt: add/sub against DATE/TIMESTAMP, month-end
# clamping, interval scaling), and this repo leans on INTERVAL literals
# in every events/stream entry — but interval SEMANTICS are engine
# policy, not standard-determined: Spark keeps two distinct interval
# types (YearMonth / DayTime, microsecond-exact arithmetic), DuckDB one
# three-component INTERVAL (months, days, micros) with PER-COMPONENT
# integer scaling and 30-day-month normalization in comparisons.  The
# sweep crosses boundary-heavy anchors (leap day, month ends) × single-
# unit interval terms × +/- chains and requires TIMESTAMP value
# equality; the four divergent classes this axis FOUND are pinned
# explicitly below (interval/scalar division × 2, ym-vs-dt comparison,
# DATE + ym-interval result type).  Interval×scalar terms are excluded
# from the sweep BY the pinned findings; multi-unit SQL-standard
# literals (YEAR TO MONTH / DAY TO SECOND) are excluded because DuckDB
# 1.0 rejects the syntax loudly (parser error — the unparser's interval
# renderings stay Spark-dialect-only for exactly this reason).

_ITV_ANCHORS = [
    "TIMESTAMP '2024-01-31 10:00:00'",   # +1 month clamps to leap day
    "TIMESTAMP '2024-02-29 23:59:59'",   # leap day, end of day
    "TIMESTAMP '2024-03-30 00:00:00'",   # -1 month clamps into February
    "TIMESTAMP '2023-12-31 12:00:00'",   # year boundary
    "CAST(DATE '2024-01-31' AS TIMESTAMP)",
]

_ITV_TERMS = [
    "INTERVAL '1' MONTH", "INTERVAL '13' MONTH", "INTERVAL '2' YEAR",
    "INTERVAL '1' DAY", "INTERVAL '45' DAY", "INTERVAL '36' HOUR",
    "INTERVAL '90' MINUTE", "INTERVAL '3661' SECOND",
]


@st.composite
def interval_expr(draw):
    base = draw(st.sampled_from(_ITV_ANCHORS))
    n_terms = draw(st.integers(min_value=1, max_value=2))
    expr = base
    for _ in range(n_terms):
        op = draw(st.sampled_from(["+", "-"]))
        expr = f"({expr} {op} {draw(st.sampled_from(_ITV_TERMS))})"
    return expr


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(interval_expr())
def test_interval_arithmetic_parity(spark, duck, expr):
    """TIMESTAMP ± interval chains over boundary-heavy anchors must
    agree to the microsecond — including the month-end CLAMP both
    engines apply per term (Jan 31 + 1 month → Feb 29; the chain
    (+1 month +1 month) lands on Mar 29 where (+2 months) lands on
    Mar 31, and both engines agree on BOTH spellings)."""
    q = f"SELECT {expr} AS r"
    got = spark.sql(q).collect()[0].r
    want = duck.execute(q).fetchall()[0][0]
    assert got == want, (q, got, want)


def test_interval_daytime_division_truncation_divergence(spark, duck):
    """Pinned axis-25 finding: day-time interval / scalar is
    microsecond-exact in Spark (INTERVAL '3' DAY / 2 = 1 day 12:00:00)
    but PER-COMPONENT INTEGER division in DuckDB 1.0 (probed in-engine
    via CAST(... AS VARCHAR): '1 day' — the half-day remainder is
    DISCARDED, not carried into hours).  Applied to a timestamp the
    same query text silently lands 12 hours apart.  Federated interval
    scaling must be rewritten to micros arithmetic or refused."""
    q = ("SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '3' DAY / 2 "
         "AS r")
    got = spark.sql(q).collect()[0].r
    want = duck.execute(q).fetchall()[0][0]
    assert str(got) == "2024-01-02 12:00:00"
    assert str(want) == "2024-01-02 00:00:00"
    assert got != want
    # in-engine confirmation, independent of client interval rendering
    assert duck.execute(
        "SELECT CAST(INTERVAL '3' DAY / 2 AS VARCHAR)"
    ).fetchall()[0][0] == "1 day"


def test_interval_yearmonth_division_rounding_divergence(spark, duck):
    """Pinned axis-25 finding: year-month interval / scalar ROUNDS
    HALF-UP in Spark (INTERVAL '1' MONTH / 2 = 1 month, '3' MONTH / 2 =
    2 months) but TRUNCATES in DuckDB ('1 month'/2 = zero interval —
    the month component integer-divides to 0 and the remainder is
    discarded, probed in-engine).  A timestamp shifted by the quotient
    silently diverges by a whole month."""
    assert spark.sql(
        "SELECT CAST(INTERVAL '1' MONTH / 2 AS STRING) AS r"
    ).collect()[0].r == "INTERVAL '0-1' YEAR TO MONTH"
    assert spark.sql(
        "SELECT CAST(INTERVAL '3' MONTH / 2 AS STRING) AS r"
    ).collect()[0].r == "INTERVAL '0-2' YEAR TO MONTH"
    assert duck.execute(
        "SELECT CAST(INTERVAL '1' MONTH / 2 AS VARCHAR)"
    ).fetchall()[0][0] == "00:00:00"
    q = ("SELECT TIMESTAMP '2024-01-15 00:00:00' + INTERVAL '1' MONTH / 2"
         " AS r")
    got = spark.sql(q).collect()[0].r
    want = duck.execute(q).fetchall()[0][0]
    assert str(got) == "2024-02-15 00:00:00"   # rounded-up month applied
    assert str(want) == "2024-01-15 00:00:00"  # zero interval applied
    assert got != want


def test_interval_unit_comparison_divergence(spark, duck):
    """Pinned axis-25 finding: comparing a year-month interval with a
    day-time interval is a LOUD analysis error in Spark (the two
    interval types have no common comparison) but silently TRUE in
    DuckDB, which normalizes 1 month = 30 days inside its single
    INTERVAL type.  Same text: one engine refuses, the other invents an
    answer — the loud/silent split the unparser must never cross."""
    import pytest as _pytest

    from pyspark.sql.utils import AnalysisException

    q = "SELECT INTERVAL '1' MONTH = INTERVAL '30' DAY AS r"
    with _pytest.raises(AnalysisException):
        spark.sql(q).collect()
    assert duck.execute(q).fetchall()[0][0] is True
    # within ONE interval class both engines agree exactly
    q2 = "SELECT INTERVAL '1' DAY = INTERVAL '24' HOUR AS r"
    assert spark.sql(q2).collect()[0].r is True
    assert duck.execute(q2).fetchall()[0][0] is True


def test_interval_date_plus_yearmonth_type_divergence(spark, duck):
    """Pinned axis-25 finding: DATE + year-month interval KEEPS the
    DATE type in Spark but becomes TIMESTAMP in DuckDB — values align
    at midnight, the SCHEMA silently drifts (a federated projection
    changes column type across engines; downstream date-only semantics
    like grouping by the column break).  The sweep casts both sides to
    TIMESTAMP for value comparison; this pin records the type split."""
    q = "SELECT DATE '2024-01-31' + INTERVAL '1' MONTH AS r"
    sdf = spark.sql(q)
    assert sdf.schema[0].dataType.simpleString() == "date"
    assert str(sdf.collect()[0].r) == "2024-02-29"
    assert duck.execute(
        "SELECT typeof(DATE '2024-01-31' + INTERVAL '1' MONTH)"
    ).fetchall()[0][0] == "TIMESTAMP"
    assert str(duck.execute(q).fetchall()[0][0]) == "2024-02-29 00:00:00"


# --- axis 26 (r12): GROUPING SETS / ROLLUP / CUBE semantics -------------------
#
# The reference executes grouping-set plans through a dedicated
# grouped-aggregate path (aggregates.slt's ROLLUP/CUBE/GROUPING SETS
# batteries; physical-plan/aggregates builds one group state per set),
# while Spark LOWERS the construct to Expand + a single hash aggregate
# keyed on spark_grouping_id and DuckDB executes the standard's
# per-set semantics directly — three different machines for the same
# clause, so the axis sweeps the construct space and demands value
# equality on the SAME SQL text: construct (ROLLUP / CUBE / explicit
# GROUPING SETS with and without the empty set) × grouping columns
# CONTAINING data NULLs (produced-NULL vs data-NULL must collapse
# identically) × grouping()/grouping_id() projections (bit numbering
# must agree) × aggregate mix.  Probed-identical corners the sweep
# leans on: duplicate grouping sets emit duplicate rows in BOTH
# engines, GROUPING SETS ((), ()) emits TWO grand totals in both, and
# grouping_id(a, b) numbers bits left-to-right MSB-first in both.  The
# one divergence this axis found is pinned below: over EMPTY input the
# () set is 0 rows in Spark (Expand of nothing) but the standard's
# 1-row global aggregate in DuckDB — the sweep therefore filters to
# non-empty inputs, and the unparser guards its DuckDB renders with
# HAVING count(*) > 0 (test_duckdb_exec_divergence_fixes_r12).

_GS_TABLE = ("(VALUES (1, 'x', 5), (1, 'y', NULL), (1, 'x', 7), "
             "(2, CAST(NULL AS STRING), 3), (2, 'y', 3), "
             "(CAST(NULL AS INT), 'x', 9), (CAST(NULL AS INT), "
             "CAST(NULL AS STRING), 1)) AS t(a, b, v)")

_GS_CONSTRUCTS = [
    "ROLLUP(a)", "ROLLUP(a, b)", "ROLLUP(b, a)", "CUBE(a)",
    "CUBE(a, b)", "GROUPING SETS ((a), (b))",
    "GROUPING SETS ((a, b), (a), ())", "GROUPING SETS ((), (a))",
    "GROUPING SETS ((a), (a))", "GROUPING SETS ((), ())",
]

_GS_AGGS = [
    "count(*) AS c", "count(v) AS cv", "sum(v) AS s", "min(v) AS mn",
    "max(b) AS mb",
]


@st.composite
def grouping_sets_spec(draw):
    construct = draw(st.sampled_from(_GS_CONSTRUCTS))
    aggs = draw(st.lists(st.sampled_from(_GS_AGGS), min_size=1,
                         max_size=3, unique=True))
    # only grouped columns are selectable (and max(b) aggregates b, so
    # it stays legal either way)
    keys = sorted((c for c in ("a", "b") if c in construct),
                  key=construct.index)
    sel = keys + aggs
    if "a" in keys and draw(st.booleans()):
        sel.append("grouping(a) AS ga")
    if len(keys) == 2 and draw(st.booleans()):
        # Spark REQUIRES grouping_id args in grouping-column order
        # (GROUPING_ID_COLUMN_MISMATCH is a loud analysis error, not a
        # divergence); DuckDB takes any order — emit the legal form
        sel.append(f"grouping_id({', '.join(keys)}) AS gid")
    return (f"SELECT {', '.join(sel)} FROM {_GS_TABLE} "
            f"GROUP BY {construct}")


@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(grouping_sets_spec())
def test_grouping_sets_parity(spark, duck, sql):
    """Same grouping-set SQL text, same multiset of rows, both engines
    — across data-NULL grouping keys, duplicate sets, the explicit
    empty set, and grouping()/grouping_id() projections."""
    got = sorted(map(repr, map(tuple, spark.sql(sql).collect())))
    want = sorted(map(repr, map(tuple, duck.execute(sql).fetchall())))
    assert got == want, (sql, got[:5], want[:5])


def test_grouping_sets_empty_input_divergence(spark, duck):
    """Pinned axis-26 finding: over EMPTY input, a grouping-set clause
    CONTAINING the empty set () emits 0 rows in Spark — the Expand
    lowering replicates input rows, and there are none to replicate —
    but 1 grand-total row in DuckDB (the standard: the () set is a
    global aggregate, and a global aggregate over no rows is one row).
    Sets with at least one key agree (0 rows both).  This is the
    tpcds_q80 sweep divergence; the unparser's DuckDB dialect appends
    HAVING count(*) > 0 to exactly reproduce Spark."""
    for construct, diverges in [("ROLLUP(a)", True), ("CUBE(a, b)", True),
                                ("GROUPING SETS ((), (a))", True),
                                ("GROUPING SETS ((a), (b))", False)]:
        q = (f"SELECT a, count(*) AS c, sum(v) AS s FROM {_GS_TABLE} "
             f"WHERE v > 99 GROUP BY {construct}")
        if "b" in construct:
            q = q.replace("SELECT a,", "SELECT a, b,")
        s_rows = spark.sql(q).collect()
        d_rows = duck.execute(q).fetchall()
        assert s_rows == [], (construct, s_rows)
        if diverges:
            assert len(d_rows) == 1 and d_rows[0][-1] is None, (
                construct, d_rows)
            # the unparser guard closes it
            assert duck.execute(q + " HAVING count(*) > 0").fetchall() \
                == []
        else:
            assert d_rows == [], (construct, d_rows)


# --- axis 27 (r12): Unicode string-function semantics -------------------------
#
# The reference's string batteries (functions.slt / expr.slt UTF-8
# cases) exercise multibyte code points through length/substr/reverse;
# both Spark and DuckDB index strings by CODE POINT, so the structural
# functions should agree on any text — but CASE MAPPING is a policy
# choice: Java (Spark) applies the full Unicode mapping, DuckDB the
# simple one.  The axis sweeps structural functions over a
# boundary-heavy corpus (combining accents, CJK, surrogate-pair emoji
# + skin-tone modifier, fullwidth forms, BOM, final sigma) and demands
# same-text value equality; the FOUR divergent classes it found are
# pinned below — full-vs-simple case mapping, the Latin-1 chr()
# constructor, grapheme-cluster-vs-code-point reverse(), and
# byte-vs-code-point levenshtein() — every one now guarded in the
# unparser (non-ASCII gates / the chr mod-256 CASE), plus Java's
# contextual final-sigma lowering recorded as a corner.

_UNI_CORPUS = [
    "'héllo wörld'", "'日本語テスト'", "'👍🏽 emoji'", "'Ａｂｃ fullwidth'",
    "'mixed ASCII 123'", "'éx combining'", "''",
]

# reverse() and levenshtein() are EXCLUDED from the sweep BY the pinned
# findings below (grapheme-vs-code-point reversal, byte-vs-code-point
# distance) — the structural remainder agrees on any text.
_UNI_FNS = [
    "length({s})", "substring({s}, 2, 4)",
    "left({s}, 3)", "right({s}, 3)", "instr({s}, 'l')",
    "lpad({s}, 12, '*')", "rpad({s}, 12, '*')",
    "translate({s}, 'lo', 'LO')",
    "split_part({s}, ' ', 1)", "trim({s})", "ascii({s})",
]


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.sampled_from(_UNI_FNS), st.sampled_from(_UNI_CORPUS))
def test_unicode_string_structural_parity(spark, duck, fn, lit):
    """Structural string functions agree code-point-for-code-point on
    the same SQL text over multibyte/combining/surrogate content."""
    q = f"SELECT {fn.format(s=lit)} AS r"
    got = spark.sql(q).collect()[0].r
    want = duck.execute(q).fetchall()[0][0]
    assert got == want, (q, got, want)


def test_unicode_case_mapping_divergence(spark, duck):
    """Pinned axis-27 finding: Java FULL case mapping vs DuckDB simple
    mapping — upper('straße') is 'STRASSE' (1:2 expansion) in Spark
    but 'STRAẞE' (U+1E9E capital sharp s) in DuckDB; lower('İstanbul')
    keeps the combining dot (i̇) in Spark but not DuckDB; ligature
    upper('ﬁle') expands to 'FILE' in Spark, stays 'ﬁLE' in DuckDB.
    ASCII-only inputs agree exactly — which is precisely the unparser's
    r12 gate: upper()/lower() refuse when the rendered argument
    carries any non-ASCII character (functions_edge.py:13 documents
    the same class as differing by design between runtimes)."""
    from datafusion_spark.compat.dialect import DialectError
    from datafusion_spark.compat.unparser import DUCKDB, to_sql

    assert spark.sql("SELECT upper('straße') AS r").collect()[0].r \
        == "STRASSE"
    assert duck.execute("SELECT upper('straße')").fetchall()[0][0] \
        == "STRAẞE"
    assert spark.sql("SELECT upper('ﬁle') AS r").collect()[0].r == "FILE"
    assert duck.execute("SELECT upper('ﬁle')").fetchall()[0][0] != "FILE"
    # ASCII agreement both engines
    q = "SELECT upper('MixedCase 123') AS u, lower('MixedCase 123') AS l"
    assert tuple(spark.sql(q).collect()[0]) \
        == duck.execute(q).fetchall()[0]
    # and the unparser refuses the non-ASCII literal form
    with pytest.raises(DialectError, match="non-ASCII"):
        to_sql(spark.sql("SELECT upper('straße') AS u"), DUCKDB,
               validate=False)


def test_chr_latin1_wrap_divergence(spark, duck):
    """Pinned axis-27 finding: Spark char()/chr() is the LATIN-1
    constructor — negative yields '', n >= 256 wraps mod 256
    (char(321) = 'A', char(8364) = '¬') — where DuckDB chr() is the
    full Unicode code-point constructor (chr(8364) = '€').  The bare
    rename shipped this divergence until r12; the unparser now emits
    the mod-256 CASE guard, value-compared here."""
    import duckdb as _duckdb

    from datafusion_spark.compat.unparser import DUCKDB, to_sql

    assert spark.sql("SELECT char(8364) AS r").collect()[0].r == "¬"
    assert duck.execute("SELECT chr(8364)").fetchall()[0][0] == "€"
    q = ("SELECT char(-5) AS a, char(0) AS b, char(65) AS c,"
         " char(256) AS d, char(321) AS e, char(8364) AS f")
    df = spark.sql(q)
    sql = to_sql(df, DUCKDB, validate=False)
    assert [tuple(r) for r in df.collect()] \
        == [tuple(r) for r in _duckdb.sql(sql).fetchall()]


def test_final_sigma_lowering_parity(spark, duck):
    """Axis-27 corner: Java lowercases a FINAL capital sigma to the
    final form ς ('ΣΟΦΟΣ' → 'σοφος') — a contextual rule from the full
    mapping.  Record both engines' behavior; if DuckDB's simple
    mapping emits the medial σ everywhere this is one more instance of
    the pinned case-mapping class (covered by the same unparser
    gate)."""
    s_val = spark.sql("SELECT lower('ΣΟΦΟΣ') AS r").collect()[0].r
    d_val = duck.execute("SELECT lower('ΣΟΦΟΣ')").fetchall()[0][0]
    assert s_val == "σοφος"          # Java contextual final sigma
    assert d_val in ("σοφος", "σοφοσ")  # either way, gate covers it


def test_reverse_grapheme_divergence(spark, duck):
    """Pinned axis-27 finding: Spark reverse() reverses CODE POINTS —
    a combining accent or skin-tone modifier DETACHES from its base
    and attaches to the preceding character — where DuckDB reverses
    GRAPHEME CLUSTERS and keeps them intact.  reverse of a decomposed 'e'+COMBINING ACUTE+'x' puts the
    mark on the 'x' in Spark but keeps the cluster in DuckDB; same for emoji
    modifiers.  The unparser's string-reverse branch refuses non-ASCII
    rendered arguments as of r12 (list reverse is untouched —
    list_reverse has no grapheme notion)."""
    from datafusion_spark.compat.dialect import DialectError
    from datafusion_spark.compat.unparser import DUCKDB, to_sql

    dec = "e" + chr(0x301) + "x"
    s_val = spark.sql(f"SELECT reverse('{dec}') AS r").collect()[0].r
    d_val = duck.execute(f"SELECT reverse('{dec}')").fetchall()[0][0]
    assert s_val == "x" + chr(0x301) + "e"     # mark travels (Spark)
    assert d_val == "xe" + chr(0x301)          # cluster intact (DuckDB)
    with pytest.raises(DialectError, match="grapheme"):
        to_sql(spark.sql(f"SELECT reverse('{dec}') AS r"), DUCKDB,
               validate=False)
    # ASCII reverse still translates and value-matches
    import duckdb as _duckdb
    df = spark.sql("SELECT reverse('abc') AS r")
    assert _duckdb.sql(to_sql(df, DUCKDB, validate=False)).fetchall() \
        == [("cba",)]


def test_levenshtein_byte_divergence(spark, duck):
    """Pinned axis-27 finding: DuckDB levenshtein counts BYTES, Spark
    CODE POINTS — levenshtein over a surrogate-pair emoji string vs 'hello' is
    7 in Spark (2 emoji code points) and 13 in DuckDB (8 emoji UTF-8
    bytes).  ASCII arguments are byte == code point and agree exactly;
    the unparser refuses non-ASCII rendered arguments as of r12."""
    from datafusion_spark.compat.dialect import DialectError
    from datafusion_spark.compat.unparser import DUCKDB, to_sql

    e = "\U0001F44D\U0001F3FD emoji"
    q = f"SELECT levenshtein('{e}', 'hello') AS r"
    assert spark.sql(q).collect()[0].r == 7
    assert duck.execute(q).fetchall()[0][0] == 13
    with pytest.raises(DialectError, match="bytes"):
        to_sql(spark.sql(q), DUCKDB, validate=False)
    q2 = "SELECT levenshtein('kitten', 'sitting') AS r"
    import duckdb as _duckdb
    df = spark.sql(q2)
    assert _duckdb.sql(to_sql(df, DUCKDB, validate=False)).fetchall() \
        == [(3,)]
