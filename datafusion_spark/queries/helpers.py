"""Shared expression helpers for oracle-checked queries.

Determinism note: double-precision SUM/AVG are order-dependent, and Spark's
shuffle ordering differs run-to-run and from DuckDB's.  For money-style
aggregates we therefore accumulate in DECIMAL(38,6) — decimal addition is
exact and associative, so Spark and DuckDB produce bit-identical results
regardless of partitioning — then cast the final value back to DOUBLE.
DataFusion solves this the same way for TPC-H (decimal arithmetic kernels:
reference datafusion/functions-aggregate/src/sum.rs).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a source parquet table (file or directory)."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(p) for f in files)
    try:
        return os.path.getsize(p)
    except OSError:
        return 0


def two_level_distinct(sf_dir: str, table: str) -> bool:
    """Size guard for multi-DISTINCT aggregates (r13, r12 verdict item 4).

    Spark plans a multi-distinct aggregate as Expand(n+1 x input rows) +
    partial agg — the right trade at bench scale (ONE scan; the r12 A/B
    measured the rewrite slower at sf0.1) but the wrong one at 100 TB,
    where multiplying every fact row (n+1)x before the map-side aggregate
    dominates and independent single-distinct branches (each auto-planned
    by Spark as a partial-distinct two-level aggregate, each scanning only
    its own column) win.  Input size picks the shape; the crossover
    default (256 MiB of source parquet, roughly sf10 for events) is
    deliberately far above the driver's bench SFs so local plans — and the
    driver's bench comparability — keep the measured-faster Expand shape.
    Override with DFSPARK_DISTINCT_EXPAND_MAX_BYTES (tests pin BOTH shapes
    row-identical by forcing it to 0).  Both shapes compute the same rows;
    the DuckDB oracle text never changes.
    """
    limit = int(os.environ.get("DFSPARK_DISTINCT_EXPAND_MAX_BYTES",
                               str(256 * 1024 * 1024)))
    return table_bytes(sf_dir, table) > limit


def sql_dec(expr: str) -> str:
    """``expr`` as the exact accumulator type, as SQL text."""
    return f"CAST({expr} AS DECIMAL(38,6))"


def sql_dsum(expr: str, alias: str | None = None) -> str:
    """Exact distributed sum of a DOUBLE expression via decimal
    accumulation, as SQL text (aliased when ``alias`` is given)."""
    return _aliased(f"CAST(SUM({sql_dec(expr)}) AS DOUBLE)", alias)


def sql_davg(expr: str, alias: str | None = None) -> str:
    """Exact average: the ``sql_dsum`` sum over the non-null count."""
    return _aliased(f"{sql_dsum(expr)} / COUNT({expr})", alias)


def _aliased(sql: str, alias: str | None) -> str:
    return sql if alias is None else f"{sql} AS {alias}"


def fan_out(df, min_parts: int | None = None):
    """Repartition ONLY if the input arrives in fewer splits than the
    session's parallelism.  Small single-row-group files (the sf0.1
    documents table is one 584 KB split) otherwise serialize CPU-heavy
    downstream work (explode / md5 / shingling) onto one core.  At 100 TB
    inputs arrive in thousands of splits and this is a no-op — no shuffle
    is added.  The explicit exchange also lets Spark reuse the fanned-out
    output across self-join branches (ReusedExchange) instead of
    recomputing the pipeline per side.

    The split estimate uses ``df.inputFiles()`` (a catalog lookup) rather
    than ``df.rdd.getNumPartitions()`` — the RDD conversion built a whole
    physical lineage just to ask a partition-count question, bypassing
    Catalyst.  Files bigger than maxPartitionBytes under-count here, but a
    multi-split file is exactly the case where fan-out is unnecessary.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    try:
        n_splits = len(df.inputFiles())
    except Exception:  # catalog lookup failed: leave as-is
        return df
    if n_splits == 0:
        # Non-file-backed plan (createDataFrame / VALUES): inputFiles() is
        # empty, not "huge".  Ask the plan for its partition count instead —
        # the .rdd conversion is acceptable here because in-memory inputs are
        # driver-created and small; file scans never take this branch.
        try:
            n_splits = df.rdd.getNumPartitions()
        except Exception:
            return df
    if 0 < n_splits < target:
        return df.repartition(target)
    return df


def sql_units6(expr: str) -> str:
    """Exact 1e-6-unit integer (BIGINT) of a money value, as SQL text.

    Precondition: the value is an exact decimal with ≤6 fractional digits
    (TPC-H money/discount/tax columns and their 2dp×2dp×2dp products) and
    |value| < 2^52/1e6 ≈ 4.5e9, so ``value*1e6`` floating-multiplies to
    within ±0.5 of the true integer and ``rint`` recovers it exactly —
    bit-identical to a DECIMAL(38,6) cast, at plain-FP cost.

    This is the DataFusion accumulator design (functions-aggregate/src/
    sum.rs: i64/i128 partial sums, widened merge) expressed in Spark: long
    sums stay on the fast vectorized hash-agg path (wide decimal sum
    buffers fall off it), and only the final merge touches decimals — see
    ``sql_sum_limbs``.
    """
    return f"CAST(rint(({expr}) * 1e6) AS BIGINT)"


LIMB_BITS = 20


def sql_sum_limbs(units: str) -> str:
    """Exact sum of a ``sql_units6`` column → DOUBLE, as ONE aggregate (no
    per-partition level, no second exchange), as SQL text.

    Each value splits into two long limbs, ``hi = u >> 20`` (arithmetic
    shift: floor) and ``lo = u & (2^20 - 1)`` (in [0, 2^20)), so
    ``hi * 2^20 + lo == u`` for every long, negative ones included.  Both
    limbs sum as plain longs in the hash aggregate; the merge
    ``(CAST(Σhi AS DECIMAL(38,0)) * 2^20 + Σlo) / 1e6`` is the same exact
    integer a DECIMAL(38,0) sum of ``u`` gives, so the result is
    bit-identical to direct decimal accumulation.  Exact while the long
    sums cannot overflow: a group has fewer than 2^43 ≈ 8.8e12 rows (Σlo)
    and N·max|value| < 2^63·2^20/1e6 ≈ 9.7e18 (Σhi).  TPC-H's largest money
    term is ~1.14e5, i.e. N < 8.5e13 rows per group; a 100 TB lineitem has
    ~6e11.  Under ANSI mode an overflow raises instead of wrapping.
    """
    return (f"CAST((CAST(SUM(shiftright(({units}), {LIMB_BITS})) AS DECIMAL(38,0))"
            f" * {1 << LIMB_BITS} + SUM(({units}) & {(1 << LIMB_BITS) - 1}))"
            f" / 1000000 AS DOUBLE)")


# The TPC-H revenue term.
SQL_REVENUE = "l_extendedprice * (1 - l_discount)"


def values_df(spark, rows, schema: str):
    """Literal DataFrame as an inline VALUES table (LocalRelation).

    ``spark.createDataFrame(rows)`` routes small literal tables through an
    RDD, analyzing to a LogicalRDD node — which has no SQL spelling, so
    the plan→SQL unparser must refuse every plan containing one (the r9
    sweep's second-biggest refusal class).  The same rows written as a
    ``VALUES`` inline table analyze to a LocalRelation, which round-trips
    (and skips the Python→RDD serialization entirely).  Literal tables in
    this package are dimension/model-sized by design; anything
    data-sized must come from a source, never from the driver.

    ``schema`` is the usual DDL string ("qid int, term string"); scalar
    columns get an outer CAST to the declared type, array columns have
    their ELEMENTS cast instead (a complex-typed outer CAST is exactly
    the Catalyst rendering bug the unparser refuses)."""
    cols = [c.strip().rsplit(" ", 1) for c in _split_ddl(schema)]

    def scalar(v, typ):
        t = typ.lower()
        if v is None:
            return f"CAST(NULL AS {typ})"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            return f"CAST({v!r} AS {'FLOAT' if t == 'float' else 'DOUBLE'})"
        return str(v)

    def cell(v, typ):
        t = typ.lower()
        if t.startswith("array<"):
            et = typ[6:-1]
            if v is None:
                return f"CAST(NULL AS {typ})"
            return "array(" + ", ".join(scalar(x, et) for x in v) + ")"
        return scalar(v, typ)

    body = ", ".join(
        "(" + ", ".join(cell(v, typ) for v, (_, typ) in zip(r, cols)) + ")"
        for r in rows
    )
    names = ", ".join(f"`{n}`" for n, _ in cols)
    df = spark.sql(f"SELECT * FROM VALUES {body} AS t({names})")
    return df.select(*[
        (F.col(n) if typ.lower().startswith("array<")
         else F.col(n).cast(typ)).alias(n)
        for n, typ in cols
    ])


def _split_ddl(schema: str) -> list[str]:
    """Split a DDL column list on TOP-LEVEL commas (array<...> nests)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(schema[start:i])
            start = i + 1
    parts.append(schema[start:])
    return [p for p in (s.strip() for s in parts) if p]
