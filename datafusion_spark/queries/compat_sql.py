"""DataFusion-dialect SQL running unmodified through the compat layer.

Each entry's query text is written in the REFERENCE dialect (function names
and semantics from docs/source/user-guide/sql/scalar_functions.md /
aggregate_functions.md; implementations under datafusion/functions*/src/),
then translated by :func:`datafusion_spark.compat.dialect.translate_sql`
and executed as Spark SQL — the path a migrating reference user takes via
:class:`datafusion_spark.compat.SessionContext` — through
``registry.table_statement`` over the tables the text reads, so a repeated
call reuses its analyzed plan.  The DuckDB
oracle restates the same semantics in DuckDB's own dialect, so the gate
verifies the TRANSLATION, not just Spark.

Scale note: translation is driver-side text rewriting (µs, once per query);
the emitted plan is ordinary Spark SQL — scans keep pushdown and pruning,
expressions stay in whole-stage codegen.  Nothing here adds a Python
runtime path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datafusion_spark.catalog import tables_in
from datafusion_spark.compat.dialect import translate_sql
from datafusion_spark.queries.registry import query, table_statement


def _run(spark: SparkSession, sf_dir: str, df_sql: str) -> DataFrame:
    return _run_plain(spark, sf_dir, translate_sql(df_sql))


def _run_plain(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Spark SQL ``sql`` over the base tables it reads, without dialect
    translation: for entries whose text is ALREADY valid in both Spark and
    the oracle (the pg_compat surface), and for _run once it translated."""
    return table_statement(spark, sql, sf_dir, tables_in(sql))


@query(
    "compat_sql_strings",
    oracle="""
    SELECT p_partkey,
           CAST(strpos(p_name, 'ol') AS BIGINT) AS pos_ol,
           starts_with(p_name, 'a')        AS sw_a,
           ends_with(p_name, 'e')          AS ew_e,
           to_hex(p_partkey)               AS hx,
           split_part(p_type, ' ', 1)      AS first_tok,
           trim('  pad  ')                 AS trimmed,
           left(p_name, 3)                 AS l3,
           right(p_name, 3)                AS r3,
           CAST(length(p_name) AS BIGINT)  AS clen,
           repeat(p_brand, 2)              AS b2
    FROM part WHERE p_partkey < 300 ORDER BY p_partkey
    """,
    tags=("compat", "strings"),
)
def compat_sql_strings(spark, sf_dir):
    """Reference string spellings (functions/src/string/, unicode/):
    strpos / starts_with / ends_with / to_hex / substr_index run through the
    dialect translator onto instr / startswith / endswith / hex /
    substring_index."""
    return _run(spark, sf_dir, """
    SELECT p_partkey,
           CAST(strpos(p_name, 'ol') AS BIGINT) AS pos_ol,
           starts_with(p_name, 'a')        AS sw_a,
           ends_with(p_name, 'e')          AS ew_e,
           to_hex(p_partkey)               AS hx,
           substr_index(p_type, ' ', 1)    AS first_tok,
           btrim('  pad  ')                AS trimmed,
           left(p_name, 3)                 AS l3,
           right(p_name, 3)                AS r3,
           CAST(character_length(p_name) AS BIGINT) AS clen,
           repeat(p_brand, 2)              AS b2
    FROM part WHERE p_partkey < 300 ORDER BY p_partkey
    """)


@query(
    "compat_sql_math",
    oracle="""
    SELECT p_partkey,
           ROUND(log(p_size + 1), 6)                 AS lg10,
           ROUND(log(2, p_size + 1), 6)              AS lg2,
           CAST(trunc(p_retailprice) AS DOUBLE)      AS tr,
           gcd(p_partkey + 1, p_size)                AS g,
           lcm(p_size, 6)                            AS l,
           (CAST(p_size - p_size AS DOUBLE) = 0.0)   AS zero,
           CAST(sign(p_size - 25) AS DOUBLE)         AS sgn,
           ROUND(power(p_size, 2), 6)                AS sq
    FROM part WHERE p_partkey < 300 ORDER BY p_partkey
    """,
    tags=("compat", "math"),
)
def compat_sql_math(spark, sf_dir):
    """Reference math spellings (functions/src/math/): UNARY log IS BASE 10
    in DataFusion (log.rs) vs natural log in Spark — the translator rewrites
    1-arg log to log10; numeric trunc (Spark's trunc is date-only), bounded-
    Euclid gcd/lcm expression templates, iszero, signum."""
    return _run(spark, sf_dir, """
    SELECT p_partkey,
           ROUND(log(p_size + 1), 6)               AS lg10,
           ROUND(log(2, p_size + 1), 6)            AS lg2,
           trunc(p_retailprice)                    AS tr,
           gcd(p_partkey + 1, p_size)              AS g,
           lcm(p_size, 6)                          AS l,
           iszero(CAST(p_size - p_size AS DOUBLE)) AS zero,
           CAST(signum(p_size - 25) AS DOUBLE)     AS sgn,
           ROUND(power(p_size, 2), 6)              AS sq
    FROM part WHERE p_partkey < 300 ORDER BY p_partkey
    """)


@query(
    "compat_sql_arrays",
    oracle="""
    WITH t AS (
      SELECT n_nationkey AS k,
             [n_nationkey, n_nationkey + 1, n_nationkey + 1, 7] AS a
      FROM nation
    )
    SELECT k,
           list_contains(a, 7)                        AS has7,
           array_to_string(a[2:3], '|')               AS mid,
           array_to_string(a[1:len(a) - 1], '|')      AS popped,
           array_to_string(list_sort(a, 'DESC'), '|') AS sorted_desc,
           array_to_string(a, '-')                    AS joined,
           CAST(len(a) AS INT)                        AS n,
           CAST(list_sum(a) AS DOUBLE)                AS s,
           CAST(list_position(a, k + 1) AS BIGINT)    AS pos_first,
           array_to_string(range(2, 6), '|')          AS r,
           array_to_string([x * 10 FOR x IN a], '|')  AS scaled
    FROM t ORDER BY k
    """,
    tags=("compat", "arrays"),
)
def compat_sql_arrays(spark, sf_dir):
    """Reference array family (functions-nested/src/): make_array /
    array_has / end-INCLUSIVE array_slice / array_pop_back / array_sort
    ('DESC' literal) / array_to_string / array_length / array_sum /
    array_position / end-EXCLUSIVE range / array_scale — translated onto
    Spark's array/slice/sort_array/aggregate/transform equivalents."""
    return _run(spark, sf_dir, """
    WITH t AS (
      SELECT n_nationkey AS k,
             make_array(n_nationkey, n_nationkey + 1, n_nationkey + 1, 7) AS a
      FROM nation
    )
    SELECT k,
           array_has(a, 7)                              AS has7,
           array_to_string(array_slice(a, 2, 3), '|')   AS mid,
           array_to_string(array_pop_back(a), '|')      AS popped,
           array_to_string(array_sort(a, 'DESC'), '|')  AS sorted_desc,
           array_to_string(a, '-')                      AS joined,
           CAST(array_length(a) AS INT)                 AS n,
           array_sum(a)                                 AS s,
           CAST(array_position(a, k + 1) AS BIGINT)     AS pos_first,
           array_to_string(range(2, 6), '|')            AS r,
           array_to_string(array_scale(a, 10), '|')     AS scaled
    FROM t ORDER BY k
    """)


@query(
    "compat_sql_vectors",
    # The oracle restates the translator's exact arithmetic (same fold
    # order, same double promotions) rather than DuckDB's native
    # list_dot_product/list_distance, so the comparison stays bit-exact.
    oracle="""
    SELECT vec_id,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * x)), 6)                    AS dot_self,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x - (x + 1) AS DOUBLE) * (x - (x + 1))))), 6)
                                                                     AS dist_shift,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) / sqrt(list_sum(
                      list_transform(embedding, y -> CAST(y AS DOUBLE) * y))))), 6)
                                                                     AS norm_sum,
           -- + 0.0 normalizes -0.0 to +0.0: when dot/(norm*norm) lands a
           -- hair above 1, DuckDB's ROUND keeps the sign (-0.0) while
           -- Spark's HALF_UP BigDecimal path returns +0.0 — numerically
           -- equal but hash-distinct (r4 driver failure).
           ROUND(1.0 - list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))
                 / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))
                    * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))), 6)
                 + CAST(0.0 AS DOUBLE)                               AS cos_self
    FROM embeddings WHERE vec_id < 200 ORDER BY vec_id
    """,
    tags=("compat", "arrays", "vectors"),
)
def compat_sql_vectors(spark, sf_dir):
    """Reference vector kernels (functions-nested/src/distance.rs,
    cosine_distance, dot_product, array_normalize): expression templates
    over zip_with + aggregate — JVM-side, no UDF, same shape the similarity
    pipeline uses at scale."""
    return _run(spark, sf_dir, """
    SELECT vec_id,
           ROUND(dot_product(embedding, embedding), 6)            AS dot_self,
           ROUND(array_distance(embedding,
                 array_transform(embedding, x -> x + 1)), 6)      AS dist_shift,
           ROUND(array_sum(array_normalize(embedding)), 6)        AS norm_sum,
           ROUND(cosine_distance(embedding, embedding), 6)
               + CAST(0.0 AS DOUBLE)                              AS cos_self
    FROM embeddings WHERE vec_id < 200 ORDER BY vec_id
    """)


@query(
    "compat_sql_datetime",
    oracle="""
    SELECT event_id,
           time_bucket(INTERVAL '15 minutes', ts)                   AS bin15,
           time_bucket(INTERVAL '2 hours', ts)                      AS bin2h,
           strftime(ts, '%Y-%m-%d %H:%M')                           AS txt,
           make_timestamp(CAST(1700000000 AS BIGINT) * 1000000)     AS from_unix,
           CAST(date_part('hour', ts) AS BIGINT)                    AS hr,
           date_trunc('day', ts)                                    AS day_t
    FROM events WHERE event_id < 400 ORDER BY event_id
    """,
    tags=("compat", "datetime"),
)
def compat_sql_datetime(spark, sf_dir):
    """Reference datetime spellings (functions/src/datetime/): date_bin
    (INTERVAL stride → exact pmod arithmetic on unix micros — integer, no
    double rounding), chrono %-formats in to_char translated to Java
    patterns, from_unixtime → timestamp_seconds (DataFusion returns a
    TIMESTAMP, Spark's builtin returns a string), datepart/datetrunc
    aliases."""
    return _run(spark, sf_dir, """
    SELECT event_id,
           date_bin(INTERVAL '15 minutes', ts)                    AS bin15,
           date_bin(INTERVAL '2 hours', ts)                       AS bin2h,
           to_char(ts, '%Y-%m-%d %H:%M')                          AS txt,
           from_unixtime(CAST(1700000000 AS BIGINT))              AS from_unix,
           CAST(datepart('hour', ts) AS BIGINT)                   AS hr,
           datetrunc('day', ts)                                   AS day_t
    FROM events WHERE event_id < 400 ORDER BY event_id
    """)


@query(
    "compat_sql_hash",
    oracle="""
    SELECT doc_id,
           sha256(text)                            AS digest256_hex,
           md5(text)                               AS md5_hex,
           lower(hex(source))                      AS enc_hex,
           to_base64(CAST(source AS BLOB))         AS enc_b64,
           CAST(unhex('616263') AS VARCHAR)        AS dec_hex,
           CAST(from_base64('YWJj') AS VARCHAR)    AS dec_b64
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
    tags=("compat", "hash"),
)
def compat_sql_hash(spark, sf_dir):
    """Reference hashing/encoding (functions/src/crypto/, encoding/):
    digest(x, 'sha256') and sha256 return BINARY in DataFusion (Spark's
    sha2 returns a hex string — the template unhexes it); encode/decode
    dispatch on the 'hex'/'base64' literal onto hex/base64/unhex/unbase64."""
    return _run(spark, sf_dir, """
    SELECT doc_id,
           encode(digest(text, 'sha256'), 'hex')       AS digest256_hex,
           md5(text)                                   AS md5_hex,
           encode(source, 'hex')                       AS enc_hex,
           encode(source, 'base64')                    AS enc_b64,
           arrow_cast(decode('616263', 'hex'), 'Utf8') AS dec_hex,
           arrow_cast(decode('YWJj', 'base64'), 'Utf8') AS dec_b64
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """)


@query(
    "compat_sql_agg",
    oracle="""
    WITH ids AS (
      SELECT c_mktsegment,
             string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS ids
      FROM customer WHERE c_custkey < 200 GROUP BY c_mktsegment
    ),
    agg AS (
      SELECT c_mktsegment,
             ROUND(var_pop(c_acctbal), 4)                  AS vp,
             ROUND(var_samp(c_acctbal), 4)                 AS vs,
             ROUND(covar_samp(c_acctbal, c_custkey), 4)    AS cv,
             ROUND(CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE), 4) AS med,
             bool_and(c_acctbal > -1000)                   AS ba,
             bool_or(c_acctbal > 9000)                     AS bo,
             bit_and(c_custkey)                            AS band,
             bit_or(c_custkey)                             AS bor
      FROM customer GROUP BY c_mktsegment
    )
    SELECT agg.*, ids.ids FROM agg JOIN ids USING (c_mktsegment)
    ORDER BY c_mktsegment
    """,
    tags=("compat", "aggregates"),
)
def compat_sql_agg(spark, sf_dir):
    """Reference aggregate spellings (functions-aggregate/src/):
    var_population/var_sample aliases, covar, percentile_cont(expr, p) as a
    regular aggregate (Spark's exact `percentile`), string_agg with ORDER BY
    → listagg WITHIN GROUP, bool/bit reducers."""
    return _run(spark, sf_dir, """
    WITH ids AS (
      SELECT c_mktsegment,
             string_agg(CAST(c_custkey AS STRING), ',' ORDER BY c_custkey) AS ids
      FROM customer WHERE c_custkey < 200 GROUP BY c_mktsegment
    ),
    agg AS (
      SELECT c_mktsegment,
             ROUND(var_population(c_acctbal), 4)           AS vp,
             ROUND(var_sample(c_acctbal), 4)               AS vs,
             ROUND(covar(c_acctbal, c_custkey), 4)         AS cv,
             ROUND(percentile_cont(c_acctbal, 0.5), 4)     AS med,
             bool_and(c_acctbal > -1000)                   AS ba,
             bool_or(c_acctbal > 9000)                     AS bo,
             bit_and(c_custkey)                            AS band,
             bit_or(c_custkey)                             AS bor
      FROM customer GROUP BY c_mktsegment
    )
    SELECT agg.*, ids.ids FROM agg JOIN ids USING (c_mktsegment)
    ORDER BY c_mktsegment
    """)


@query(
    "compat_sql_regexp",
    oracle="""
    SELECT doc_id,
           regexp_matches(text, '[0-9]+')                            AS has_num,
           CAST(length(regexp_extract_all(text, 'the')) AS BIGINT)   AS n_the,
           regexp_replace(left(text, 60), '[aeiou]', '_', 'g')       AS devowel
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
    tags=("compat", "regexp"),
)
def compat_sql_regexp(spark, sf_dir):
    """Reference regexp family (functions/src/regex/): regexp_like /
    regexp_count / regexp_replace with the 'g' flag (Spark replaces all
    matches natively, so the translator drops the literal flag)."""
    return _run(spark, sf_dir, """
    SELECT doc_id,
           regexp_like(text, '[0-9]+')                              AS has_num,
           CAST(regexp_count(text, 'the') AS BIGINT)                AS n_the,
           regexp_replace(left(text, 60), '[aeiou]', '_', 'g')      AS devowel
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """)


@query(
    "compat_sql_arrow_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(trunc(o_totalprice) AS BIGINT) AS p_i64,
           CAST(o_orderkey AS VARCHAR)        AS k_str,
           CAST(o_totalprice AS FLOAT)        AS p_f32,
           TRY_CAST(o_orderstatus AS INTEGER) AS bad_int
    FROM orders WHERE o_orderkey < 600 ORDER BY o_orderkey
    """,
    tags=("compat", "cast"),
)
def compat_sql_arrow_cast(spark, sf_dir):
    """arrow_cast / arrow_try_cast (functions/src/core/arrow_cast.rs):
    arrow type names ('Int64', 'Utf8', 'Float32'…) mapped onto Spark CAST
    targets; TRY variant onto TRY_CAST."""
    return _run(spark, sf_dir, """
    SELECT o_orderkey,
           arrow_cast(o_totalprice, 'Int64')      AS p_i64,
           arrow_cast(o_orderkey, 'Utf8')         AS k_str,
           arrow_cast(o_totalprice, 'Float32')    AS p_f32,
           arrow_try_cast(o_orderstatus, 'Int32') AS bad_int
    FROM orders WHERE o_orderkey < 600 ORDER BY o_orderkey
    """)


@query(
    "compat_ctx_session",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT)                        AS n_sup,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal,
           CAST(strpos(min(s_name), '#') AS BIGINT)        AS tag_pos
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """,
    tags=("compat", "api"),
)
def compat_ctx_session(spark, sf_dir):
    """End-to-end SessionContext surface (core/src/execution/context/):
    register_parquet + DataFusion-dialect ctx.sql + table() — the reference
    user's driver program shape, one import changed."""
    from datafusion_spark.compat import SessionContext

    ctx = SessionContext(spark)
    ctx.register_parquet("supplier", f"{sf_dir}/supplier.parquet")
    assert ctx.table_exist("supplier") and "supplier" in ctx.tables()
    assert len(ctx.table("supplier").columns) == 4
    return ctx.sql("""
    SELECT s_nationkey,
           count(*)                                               AS n_sup,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE)  AS bal,
           CAST(strpos(min(s_name), '#') AS BIGINT)               AS tag_pos
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """)


@query(
    "compat_sql_qualify",
    # DuckDB parses QUALIFY natively — the oracle runs the SAME clause
    # shape, so the gate verifies the rewrite's filter/scope semantics.
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(rn AS BIGINT) AS rn,
           CAST(n_ord AS BIGINT) AS n_ord
    FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n_ord
      FROM orders
      QUALIFY rn <= 2 AND n_ord > 20
    ) ORDER BY o_custkey, rn
    """,
    tags=("compat", "sql", "window"),
)
def compat_sql_qualify(spark, sf_dir):
    """QUALIFY clause (reference sqllogictest qualify.slt; sql parser
    QUALIFY support): the translator rewrites it into a subquery computing
    the predicate as a boolean column — select-list aliases substituted so
    windows evaluate in the inner scope — then filters in an outer
    ``SELECT * EXCEPT``.  Plan-wise this is exactly the window+filter Spark
    would run for the hand-rewritten query: one shuffle on the PARTITION BY
    key, no extra exchange for the outer projection."""
    return _run(spark, sf_dir, """
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT)  AS n_ord
    FROM orders
    QUALIFY rn <= 2 AND n_ord > 20
    ORDER BY o_custkey, rn
    """)


_PG_COMPAT_SQL = """
    WITH nullable AS (
      SELECT o_orderkey,
             o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_custkey END AS n5,
             CASE WHEN o_orderkey % 3 != 0 THEN o_totalprice ELSE NULL END AS n9
      FROM orders WHERE o_orderkey < 500
    )
    SELECT CAST(COUNT(*) AS BIGINT)                             AS cnt_star,
           CAST(COUNT(n5) AS BIGINT)                            AS cnt_n5,
           CAST(COUNT(n9) AS BIGINT)                            AS cnt_n9,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)        AS cnt_d_status,
           CAST(SUM(n5) AS BIGINT)                              AS sum_n5,
           -- avg spelled sum/count: DuckDB's AVG(decimal) accumulates in
           -- double (bit-drifts vs Spark's decimal avg); an exact decimal
           -- SUM cast to double then one IEEE divide is bit-stable.
           CAST(SUM(CAST(n9 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(n9) AS avg_n9,
           CAST(MIN(n5) AS BIGINT)                              AS min_n5,
           CAST(MAX(n9) AS DOUBLE)                              AS max_n9,
           1::BIGINT                                            AS pg_cast_int,
           (-1)::SMALLINT                                       AS pg_cast_small,
           'a'::VARCHAR(5)                                      AS pg_cast_varchar,
           3.5::DOUBLE                                          AS pg_cast_double,
           '2024-02-29'::DATE                                   AS pg_cast_date,
           '2024-02-29 12:00:00'::TIMESTAMP                     AS pg_cast_ts,
           NULL::VARCHAR(5)                                     AS pg_cast_null
    FROM nullable
"""


@query(
    "pg_compat_dialect",
    oracle=_PG_COMPAT_SQL,
    tags=("compat", "pg", "nulls"),
)
def pg_compat_dialect(spark, sf_dir):
    """PostgreSQL-compat surface, mirroring the reference's
    sqllogictest/test_files/pg_compat/ family (pg_compat_null.slt's
    NULL-count battery over a CASE-derived nullable table;
    pg_compat_types.slt's ``expr::TYPE`` cast syntax across int widths,
    varchar, double, date, timestamp and typed NULL).  Both engines accept
    the identical pg-flavoured text natively — Spark since 3.4 parses
    ``::`` casts — so this entry pins the shared dialect subset a
    postgres-origin workload relies on: COUNT(*) vs COUNT(col) null
    skipping, COUNT(DISTINCT), SUM/AVG/MIN/MAX over mixed-NULL columns
    (decimal-accumulated avg for a bit-stable double), and every ``::``
    cast round-trip."""
    return _run_plain(spark, sf_dir, _PG_COMPAT_SQL)


@query(
    "compat_ident_normalization",
    oracle="""
    SELECT n_regionkey AS Region_Key,
           CAST(COUNT(*) AS BIGINT) AS N_Nations,
           MIN(n_name) AS First_Nation
    FROM nation
    GROUP BY n_regionkey
    ORDER BY Region_Key
    """,
    tags=("compat", "identifiers"),
)
def compat_ident_normalization(spark, sf_dir):
    """Mirror of sqllogictest ident_normalization.slt: unquoted
    identifiers resolve case-insensitively while defined names keep
    their case.  The reference lowercases unquoted idents at parse time
    (FIELD1 -> field1) unless enable_ident_normalization=false; Spark
    is case-preserving + case-insensitive-resolving
    (spark.sql.caseSensitive=false default), DuckDB likewise — so
    N_NATIONKEY / n_nationkey / N_NationKey all bind the same column
    on both engines, which this entry exercises by referencing every
    column in a different case than the parquet schema spells it.  The
    driver compare also pins that ALIAS case round-trips: the output
    columns are Region_Key/N_Nations/First_Nation with defined case on
    both sides (DataFusion would need quoting for that; Spark/DuckDB
    preserve it natively — divergence documented)."""
    view = "IDENT_NORM_NATION"
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        view
    )
    return spark.sql("""
        SELECT N_REGIONKEY AS Region_Key,
               CAST(COUNT(*) AS BIGINT) AS N_Nations,
               MIN(N_name) AS First_Nation
        FROM ident_norm_nation
        GROUP BY n_regionkey
        ORDER BY region_key
    """)


@query(
    "compat_unparser_roundtrip",
    oracle="""
    SELECT l_returnflag, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_quantity < 25 AND o_orderstatus = 'F'
    GROUP BY l_returnflag, o_orderpriority
    ORDER BY l_returnflag, o_orderpriority
    LIMIT 20
    """,
    tags=("compat", "unparser"),
)
def compat_unparser_roundtrip(spark, sf_dir):
    """Plan → SQL unparser round-trip (reference datafusion/sql/src/
    unparser/plan.rs plan_to_sql + expr.rs expr_to_sql + dialect.rs —
    the federation/pushdown surface: an optimized plan fragment shipped
    to a remote engine as SQL text).  The entry builds the plan with
    the DataFrame VERB surface only (read/filter/join/groupBy/agg/
    orderBy/limit — never SQL text), unparses it via compat.unparser
    .to_sql, re-executes the emitted SQL with spark.sql, and returns
    THAT DataFrame — so the driver's hash against the DuckDB oracle
    certifies the unparsed text is semantically identical to the
    original plan.  Spark-first: expression rendering delegates to
    Catalyst's own Expression.sql (the selectExpr round-trip surface);
    only plan-block assembly mirrors plan.rs.  Non-unparsable shapes
    (sortWithinPartitions, dropDuplicates subsets, semi-joins in ANSI
    dialect) refuse with DialectError — pinned in tests/test_unparser.py."""
    from pyspark.sql import functions as F

    from datafusion_spark.compat.unparser import to_sql

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = (
        li.filter(F.col("l_quantity") < 25)
        .join(o.filter(F.col("o_orderstatus") == "F"),
              li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double").alias("revenue"),
        )
        .orderBy("l_returnflag", "o_orderpriority")
        .limit(20)
    )
    return spark.sql(to_sql(df))


@query(
    "compat_unparser_cte_roundtrip",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS qty
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(qty AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
    FROM orders JOIN big ON o_orderkey = l_orderkey
    WHERE qty > (SELECT AVG(l_quantity) * 4 FROM lineitem)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("compat", "unparser", "cte"),
)
def compat_unparser_cte_roundtrip(spark, sf_dir):
    """CTE + scalar-subquery unparser round-trip (reference unparser
    plan.rs handles LogicalPlan::SubqueryAlias / CTE reconstruction and
    subquery expressions in expr.rs — the r8 sweep refused both shapes;
    this entry certifies the r9 extension end-to-end).  A WITH-defined
    per-order quantity rollup is joined back to orders and filtered by
    an UNCORRELATED scalar subquery threshold; the analyzed plan
    (WithCTE + CTERelationRef + ScalarSubquery) is unparsed by
    compat.unparser.to_sql, re-executed via spark.sql, and THAT
    DataFrame is returned — the driver's hash against the DuckDB oracle
    certifies the emitted text computes exactly the original query.
    Correlated subqueries still refuse (outer() references have no
    portable rendering; pinned in tests/test_unparser.py)."""
    from datafusion_spark.compat.unparser import to_sql

    df = spark.sql(f"""
        WITH big AS (
          SELECT l_orderkey, SUM(l_quantity) AS qty
          FROM parquet.`{sf_dir}/lineitem.parquet`
          GROUP BY l_orderkey
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(qty AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
        FROM parquet.`{sf_dir}/orders.parquet` JOIN big
          ON o_orderkey = l_orderkey
        WHERE qty > (SELECT AVG(l_quantity) * 4
                     FROM parquet.`{sf_dir}/lineitem.parquet`)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)
    return spark.sql(to_sql(df))


def _duckdb_federation_plan(spark, sf_dir):
    """The verb-built plan behind compat_unparser_duckdb_federation."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        li.filter(F.col("l_quantity") < 30)
        .join(o.filter(F.col("o_orderstatus") == "F"),
              li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double").alias("revenue"),
        )
    )


# The scale factor every pinned federation oracle below reads (its texts
# name these files), carried as the entries' sf-pinned tag.
_FED_SF = "/root/testdata/sf0.01"

# The ORACLE here IS the unparser's DuckDB-dialect output for the sf0.01
# plan (pinned text): the driver executes it in DuckDB and hash-compares
# against the Spark plan — a green row certifies the federation contract
# (reference unparser/dialect.rs: ship a plan fragment to another engine
# as SQL text) end to end, on the driver's own infrastructure.
_DUCKDB_FED_SQL = (
    "SELECT l_returnflag, count(1) AS n, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue "
    "FROM (SELECT * FROM "
    f"read_parquet('{_FED_SF}/lineitem.parquet') AS t1 "
    "WHERE (l_quantity < CAST(30 AS DOUBLE))) AS t2 "
    "INNER JOIN (SELECT * FROM "
    f"read_parquet('{_FED_SF}/orders.parquet') AS t3 "
    "WHERE (o_orderstatus = 'F')) AS t4 "
    "ON (l_orderkey = o_orderkey) GROUP BY l_returnflag"
)


@query(
    "compat_unparser_duckdb_federation",
    oracle=_DUCKDB_FED_SQL,
    tags=("compat", "unparser", "federation", f"sf-pinned:{_FED_SF}"),
)
def compat_unparser_duckdb_federation(spark, sf_dir):
    """DuckDB-dialect federation, driver-certified: the registered oracle
    is the EXACT text ``to_sql(plan, DUCKDB)`` emits for the sf0.01 plan,
    so the driver's DuckDB-vs-Spark hash compare certifies that the
    unparser's cross-engine output computes the same result as the
    original DataFrame (reference sql/src/unparser/dialect.rs — the
    ship-a-fragment-to-a-remote-engine path).  The entry re-derives the
    text at run time and fails loudly on any drift between the unparser
    and the pinned oracle, so the certification can't silently go stale."""
    from datafusion_spark.compat.unparser import DUCKDB, to_sql

    df = _duckdb_federation_plan(spark, sf_dir)
    emitted = to_sql(
        _duckdb_federation_plan(spark, _FED_SF), DUCKDB)
    if emitted != _DUCKDB_FED_SQL:
        raise AssertionError(
            "unparser DuckDB output drifted from the pinned federation "
            f"oracle:\n{emitted}")
    return df


def _duckdb_fed_fns_plan(spark, sf_dir):
    """The verb-built plan behind compat_unparser_duckdb_federation_fns."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_quantity") < 30)
        .groupBy(F.concat(F.col("l_returnflag"), F.lit("_"),
                          F.col("l_linestatus")).alias("k"))
        .agg(F.expr("percentile(l_quantity, 0.5)").alias("med_qty"),
             F.expr("count(1)").alias("n"))
    )


# Pinned ``to_sql(plan, DUCKDB)`` output for the sf0.01 plan — exercises
# the r10 translation batch on the driver's own hash gate: concat → ||
# (NULL-propagation divergence find) and percentile → quantile_cont.
_DUCKDB_FED_FNS_SQL = (
    "SELECT (l_returnflag || '_' || l_linestatus) AS k, "
    "quantile_cont(l_quantity, CAST(CAST(0.5 AS DECIMAL(1,1)) AS DOUBLE))"
    " AS med_qty, count(1) AS n "
    f"FROM read_parquet('{_FED_SF}/lineitem.parquet') AS t1 "
    "WHERE (l_quantity < CAST(30 AS DOUBLE)) "
    "GROUP BY (l_returnflag || '_' || l_linestatus)"
)


@query(
    "compat_unparser_duckdb_federation_fns",
    oracle=_DUCKDB_FED_FNS_SQL,
    tags=("compat", "unparser", "federation", f"sf-pinned:{_FED_SF}"),
)
def compat_unparser_duckdb_federation_fns(spark, sf_dir):
    """Second driver-certified DuckDB federation entry (r10): the oracle
    is byte-for-byte the unparser's DUCKDB-dialect output for a plan
    that exercises the r10 function-translation batch — concat rendered
    through || (DuckDB's concat() skips NULL args where Spark returns
    NULL, an exec-pass divergence find) and percentile → quantile_cont.
    Re-derives the text per run and fails loudly on drift, like
    compat_unparser_duckdb_federation."""
    from datafusion_spark.compat.unparser import DUCKDB, to_sql

    df = _duckdb_fed_fns_plan(spark, sf_dir)
    emitted = to_sql(
        _duckdb_fed_fns_plan(spark, _FED_SF), DUCKDB,
        validate=False)
    if emitted != _DUCKDB_FED_FNS_SQL:
        raise AssertionError(
            "unparser DuckDB output drifted from the pinned federation "
            f"oracle:\n{emitted}")
    return df


def _duckdb_fed_window_plan(spark, sf_dir):
    """The verb-built plan behind
    compat_unparser_duckdb_federation_window.  Orders by o_orderkey —
    UNIQUE in the synthetic data — because a ROWS frame over a tied
    ordering is legitimately nondeterministic per engine (the first
    lineitem-based draft of this entry hit exactly that: duplicate
    (l_orderkey, l_linenumber) pairs within a partition)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = (Window.partitionBy("o_orderstatus")
         .orderBy("o_orderkey").rowsBetween(-3, 0))
    return (
        o.filter(F.col("o_orderkey") < 4000)
        .select("o_orderkey", "o_orderstatus",
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w)
                .cast("double").alias("price_run4"))
    )


# Pinned DUCKDB output: Catalyst renders rowsBetween(-3, 0) as
# ``-3 FOLLOWING`` (Spark-legal, DuckDB parse error) — the dialect
# flips it to ``3 PRECEDING`` (r10 frame-bound rewrite).
_DUCKDB_FED_WINDOW_SQL = (
    "SELECT o_orderkey, o_orderstatus, price_run4 FROM (SELECT "
    "o_orderkey, o_orderstatus, _w0, _we0, CAST(_we0 AS DOUBLE) AS "
    "price_run4 FROM (SELECT \"o_orderkey\", \"o_orderstatus\", "
    "\"_w0\", sum(_w0) OVER (PARTITION BY o_orderstatus ORDER BY "
    "o_orderkey ASC NULLS FIRST ROWS BETWEEN 3 PRECEDING AND CURRENT "
    "ROW) AS _we0 FROM (SELECT o_orderkey, o_orderstatus, "
    "CAST(o_totalprice AS DECIMAL(38,6)) AS _w0 FROM "
    f"read_parquet('{_FED_SF}/orders.parquet') AS t1 "
    "WHERE (o_orderkey < CAST(4000 AS BIGINT))) AS t2) AS t3) AS t4"
)


@query(
    "compat_unparser_duckdb_federation_window",
    oracle=_DUCKDB_FED_WINDOW_SQL,
    tags=("compat", "unparser", "federation", f"sf-pinned:{_FED_SF}"),
)
def compat_unparser_duckdb_federation_window(spark, sf_dir):
    """Third driver-certified DuckDB federation entry (r10): a windowed
    plan whose frame Catalyst renders with a negative offset
    (``-3 FOLLOWING``) — Spark-legal, DuckDB parse error — certifying
    the r10 frame-bound flip plus decimal-accumulated window sums on
    the driver's hash gate.  Re-derives the text per run and fails
    loudly on drift."""
    from datafusion_spark.compat.unparser import DUCKDB, to_sql

    df = _duckdb_fed_window_plan(spark, sf_dir)
    emitted = to_sql(
        _duckdb_fed_window_plan(spark, _FED_SF), DUCKDB,
        validate=False)
    if emitted != _DUCKDB_FED_WINDOW_SQL:
        raise AssertionError(
            "unparser DuckDB output drifted from the pinned federation "
            f"oracle:\n{emitted}")
    return df


def _duckdb_fed_lists_plan(spark, sf_dir):
    """The verb-built plan behind compat_unparser_duckdb_federation_lists.
    Exercises the late-r10 binder-error fixes: a polymorphic reverse()
    over a list-producing head (must translate to list_reverse — DuckDB's
    reverse() is VARCHAR-only) NEXT TO a string reverse() that must stay
    reverse(), plus a Long.MinValue comparison literal (Catalyst renders
    -9223372036854775808L; the minus must stay inside the CAST or DuckDB
    reads the positive magnitude as INT128 and errors)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    arr = F.reverse(F.sort_array(F.collect_list(F.col("event_id") % 1000)))
    return (
        ev.filter(F.col("event_id") > -9223372036854775808)
        .groupBy("event_type")
        .agg(F.array_join(F.transform(arr, lambda x: x.cast("string")),
                          ",").alias("ids_desc"),
             F.reverse(F.min("event_type")).alias("rev_type"))
    )


# Pinned ``to_sql(plan, DUCKDB)`` output for the sf0.01 plan.  r11:
# array_join translation gained the NULL-preserving empty-list guard
# (DuckDB array_to_string([]) is NULL where Spark array_join([]) is
# '' — exec-pass find), so the pinned text carries the CASE/COALESCE
# wrapper around the same inner translation.  r12: collect_list gained
# the NULL-skip + empty-group-[] parity wrapper (Spark's collect_list
# SKIPS NULL inputs and returns [] for a fully-NULL group; DuckDB's
# list() keeps NULLs and returns NULL — sweep divergence on
# dedup_incremental_lsh), so list(..) is now COALESCE(list(..) FILTER
# (WHERE .. IS NOT NULL), []).
_DUCKDB_FED_LISTS_SQL = (
    "SELECT event_type, CASE WHEN (list_transform(list_reverse("
    "list_sort(COALESCE(list((event_id % CAST(1000 AS BIGINT))) "
    "FILTER (WHERE ((event_id % CAST(1000 AS BIGINT))) IS NOT NULL), "
    "[]), 'ASC', 'NULLS FIRST')), lv1 -> CAST(lv1 AS STRING))) IS NULL "
    "THEN NULL "
    "ELSE COALESCE(array_to_string(list_transform(list_reverse("
    "list_sort(COALESCE(list((event_id % CAST(1000 AS BIGINT))) "
    "FILTER (WHERE ((event_id % CAST(1000 AS BIGINT))) IS NOT NULL), "
    "[]), 'ASC', 'NULLS FIRST')), lv1 -> CAST(lv1 AS STRING)), ','), "
    "'') END AS ids_desc, "
    "reverse(min(event_type)) AS rev_type "
    f"FROM read_parquet('{_FED_SF}/events.parquet') AS t1 "
    "WHERE (event_id > CAST(-9223372036854775808 AS BIGINT)) "
    "GROUP BY event_type"
)


@query(
    "compat_unparser_duckdb_federation_lists",
    oracle=_DUCKDB_FED_LISTS_SQL,
    tags=("compat", "unparser", "federation", f"sf-pinned:{_FED_SF}"),
)
def compat_unparser_duckdb_federation_lists(spark, sf_dir):
    """Fourth driver-certified DuckDB federation entry (r10 second
    session): the oracle is byte-for-byte the unparser's DUCKDB-dialect
    output for a plan that exercises the final binder-error fixes —
    list-proven reverse() → list_reverse beside a string reverse() that
    stays put, the Long.MinValue literal kept inside its CAST — plus
    the arrow-lambda rendering (transform → list_transform with a
    fresh lambda variable); the list is rendered to text in-plan
    because the driver harness cannot hash ARRAY cells.  Re-derives
    the text per run and fails loudly on drift, like the other
    federation entries."""
    from datafusion_spark.compat.unparser import DUCKDB, to_sql

    df = _duckdb_fed_lists_plan(spark, sf_dir)
    emitted = to_sql(
        _duckdb_fed_lists_plan(spark, _FED_SF), DUCKDB,
        validate=False)
    if emitted != _DUCKDB_FED_LISTS_SQL:
        raise AssertionError(
            "unparser DuckDB output drifted from the pinned federation "
            f"oracle:\n{emitted}")
    return df
