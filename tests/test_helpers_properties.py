"""Property tests (hypothesis) for the exact-accumulation helpers — the
correctness core of the money-aggregate fast path (the SQL-text kernels
helpers.sql_units6 and helpers.sql_sum_limbs)."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st


def _units6_py(v: float) -> int:
    """Python mirror of helpers.sql_units6, ``rint(v * 1e6)`` (rint =
    round-half-even on the double product)."""
    import math

    x = v * 1000000.0
    f = math.floor(x)
    diff = x - f
    if diff > 0.5:
        return f + 1
    if diff < 0.5:
        return f
    return f if f % 2 == 0 else f + 1


def _decimal_cast_units(v: float) -> int:
    """The reference semantics: CAST(v AS DECIMAL(38,6)) scaled by 1e6
    (half-up on the exact binary expansion, as Spark/DuckDB casts do)."""
    return int(
        (Decimal(v) * 1000000).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
    )


@given(
    cents=st.integers(min_value=-(10**11), max_value=10**11),
    scale=st.sampled_from([100, 10000, 1000000]),
)
@settings(max_examples=2000, deadline=None)
def test_units6_equals_decimal_cast_for_money_values(cents, scale):
    """For any value that is an exact ≤6dp decimal (stored as the nearest
    double), rint(v*1e6) recovers the same integer as the decimal cast."""
    v = cents / scale  # nearest double to an exact ≤6dp decimal
    assert _units6_py(v) == _decimal_cast_units(v), v


@given(
    a=st.integers(min_value=0, max_value=10**7),   # price in cents
    b=st.integers(min_value=0, max_value=100),     # discount in %
)
@settings(max_examples=2000, deadline=None)
def test_units6_exact_on_revenue_products(a, b):
    """price*(1-disc) is an exact 4dp value; the double product is within
    half an ulp — rint must recover the true integer in 1e-6 units."""
    price = a / 100
    disc = b / 100
    rev = price * (1 - disc)
    true_units = a * (100 - b) * 100  # exact integer arithmetic
    assert _units6_py(rev) == true_units


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=2000, deadline=None)
def test_limbs_recompose_every_long(u):
    """sql_sum_limbs' split: arithmetic shift (floor) and low-bit mask give
    limbs that recompose to u for every int64, negative ones included."""
    assert (u >> 20) * 2**20 + (u & (2**20 - 1)) == u


def _limb_sums_match_decimal(spark, units):
    """Sum ``units`` (1e-6 money units) through the SQL kernels
    sql_sum_limbs(sql_units6(v)) in one GROUP BY and compare with the exact
    Decimal sum, per group."""
    from datafusion_spark.queries.helpers import sql_sum_limbs, sql_units6

    rows = [(i % 3, u / 1000000) for i, u in enumerate(units)]
    df = spark.createDataFrame(rows, "g int, v double").repartition(4)
    df.createOrReplaceTempView("limb_values")
    got = {
        r.g: r.s
        for r in spark.sql(f"SELECT g, {sql_sum_limbs(sql_units6('v'))} AS s "
                           "FROM limb_values GROUP BY g").collect()
    }
    want = {
        g: float(sum(Decimal(u) for i, u in enumerate(units) if i % 3 == g) / 10**6)
        for g in range(3)
    }
    assert got == want


def test_limb_sum_exact_past_long_range(spark):
    """~3,000 values near 4e9 (≈4e15 units each) sum past 2^63 units: a
    plain long sum raises, the limb sum equals the Decimal sum."""
    import random

    import pytest

    from datafusion_spark.queries.helpers import sql_units6

    rng = random.Random(11)
    units = [4 * 10**15 + rng.randrange(10**12) for _ in range(3000)]
    _limb_sums_match_decimal(spark, units)
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        spark.sql(f"SELECT SUM({sql_units6('v')}) FROM limb_values").collect()


def test_limb_sum_exact_mixed_signs(spark):
    """Negative units have negative high limbs and non-negative low limbs;
    mixed signs still recompose to the exact Decimal sum."""
    import random

    rng = random.Random(12)
    units = [rng.randrange(-4 * 10**15, 4 * 10**15) for _ in range(3000)]
    _limb_sums_match_decimal(spark, units)


def test_gcd_fold_matches_math_gcd(spark):
    """The bounded Euclid fold (fn_math_gcd_lcm) equals math.gcd for
    arbitrary positive pairs — 92 steps cover any 64-bit pair."""
    import math
    import random

    import pyspark.sql.functions as F

    from datafusion_spark.queries.functions_extended import fn_math_gcd_lcm  # noqa: F401

    rng = random.Random(7)
    pairs = [(rng.randint(1, 10**7), rng.randint(1, 10**7)) for _ in range(200)]
    df = spark.createDataFrame(pairs, "a long, b long")

    def gcd_fold(a, b):
        pair = F.struct(a.cast("long").alias("a"), b.cast("long").alias("b"))
        out = F.aggregate(
            F.sequence(F.lit(1), F.lit(92)),
            pair,
            lambda acc, _: F.when(acc.getField("b") == 0, acc).otherwise(
                F.struct(
                    acc.getField("b").alias("a"),
                    (acc.getField("a") % acc.getField("b")).alias("b"),
                )
            ),
        )
        return out.getField("a")

    got = df.select("a", "b", gcd_fold(F.col("a"), F.col("b")).alias("g")).collect()
    for r in got:
        assert r.g == math.gcd(r.a, r.b), (r.a, r.b, r.g)


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=300, deadline=None)
def test_avro_zigzag_roundtrip(n):
    import io

    from datafusion_spark.sources.avro_lite import _unzigzag, _zigzag

    assert _unzigzag(io.BufferedReader(io.BytesIO(_zigzag(n)))) == n


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.one_of(st.none(), st.floats(allow_nan=False, width=64)),
            st.text(max_size=40),
            st.booleans(),
            st.one_of(st.none(), st.binary(max_size=20)),
        ),
        max_size=25,
    )
)
@settings(max_examples=60, deadline=None)
def test_avro_container_roundtrip(rows):
    """File-level property: any mix of int64 extremes, ±0.0/inf doubles,
    unicode (incl. surrogate-adjacent chars hypothesis generates), null
    unions, and binary survives a container write/read bit-exactly."""
    import io as _io

    from datafusion_spark.sources.avro_lite import (
        _write_container,
        read_avro_file,
    )
    import json
    import tempfile

    schema = json.dumps(
        {
            "type": "record",
            "name": "row",
            "fields": [
                {"name": "k", "type": "long"},
                {"name": "v", "type": ["null", "double"]},
                {"name": "s", "type": "string"},
                {"name": "b", "type": "boolean"},
                {"name": "raw", "type": ["null", "bytes"]},
            ],
        }
    )
    ftypes = [
        ("long", False),
        ("double", True),
        ("string", False),
        ("boolean", False),
        ("bytes", True),
    ]
    with tempfile.NamedTemporaryFile(suffix=".avro", delete=False) as fh:
        _write_container(fh, schema, rows, ftypes)
        path = fh.name
    _, back = read_avro_file(path)
    assert back == [tuple(r) for r in rows]
