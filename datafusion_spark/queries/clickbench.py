"""ClickBench / h2o-style wide-aggregation suite.

Reference: benchmarks/src/clickbench.rs and benchmarks/src/h2o.rs —
DataFusion's other two acceptance benchmarks besides TPC-H: high-cardinality
GROUP BYs, top-k heavy hitters, time bucketing, JSON field aggregation,
exact quantiles.  Adapted to the events/documents tables (no 100-column
hits table here; the aggregation *shapes* are what's exercised).

Scale notes: every entry is partial-agg + single shuffle on the group key;
top-k uses TakeOrderedAndProject (never a global sort); the JSON entry
parses with get_json_object once per row, JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_spark.catalog import load_table
from datafusion_spark.queries.helpers import two_level_distinct
from datafusion_spark.queries.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "cb_overview_counts",
    oracle="""
    SELECT COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    """,
    tags=("clickbench", "bench"),
)
def cb_overview_counts(spark, sf_dir):
    """Two multi-distinct shapes behind the input-size guard (r13, guide
    §2.3; see two_level_distinct): below the crossover, Spark's
    Expand(3x)-based single-scan aggregate (measured faster at sf0.1 in
    r12); above it, a first-level GROUP BY (user_id, event_type) compacts
    the fact to its distinct pairs — the Expand and both distincts then
    run over pairs, not rows, and the decimal partial sums re-aggregate
    exactly (decimal addition is associative).  Rows identical (pinned
    both ways in tests/test_operators.py)."""
    e = _t(spark, sf_dir, "events")
    if two_level_distinct(sf_dir, "events"):
        pairs = e.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("ps"),
        )
        # SUM over zero pairs is NULL; COUNT(*) over no rows is 0.
        return pairs.agg(
            F.coalesce(F.sum("pn"), F.lit(0)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.count_distinct(F.col("event_type")).alias("n_types"),
            F.sum("ps").cast("double").alias("total_value"),
        )
    return e.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.count_distinct(F.col("event_type")).alias("n_types"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
    )


@query(
    "cb_top_users",
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM events
    GROUP BY user_id
    ORDER BY n DESC, user_id
    LIMIT 10
    """,
    tags=("clickbench", "bench"),
)
def cb_top_users(spark, sf_dir):
    """Heavy-hitter top-k: partial agg → shuffle on user_id → TakeOrdered
    (no global sort; each partition contributes its local top 10)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total"),
        )
        .orderBy(F.col("n").desc(), "user_id")
        .limit(10)
    )


@query(
    "cb_daily_activity",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           COUNT(*) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
    FROM events
    GROUP BY 1, 2
    """,
    tags=("clickbench", "bench"),
)
def cb_daily_activity(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("user_id")).alias("dau"),
    )


@query(
    "cb_json_k_histogram",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n
    FROM events
    GROUP BY 1
    ORDER BY n DESC, k
    LIMIT 20
    """,
    tags=("clickbench",),
)
def cb_json_k_histogram(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.get_json_object("props", "$.k").cast("long").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "k")
        .limit(20)
    )


@query(
    "cb_value_quantiles",
    oracle="""
    SELECT event_type,
           ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50,
           ROUND(CAST(quantile_cont(value, 0.9) AS DOUBLE), 6) AS p90,
           ROUND(CAST(quantile_cont(value, 0.99) AS DOUBLE), 6) AS p99
    FROM events
    GROUP BY event_type
    """,
    tags=("clickbench",),
)
def cb_value_quantiles(spark, sf_dir):
    """Exact quantiles (interpolated).  At 100 TB use approx_percentile —
    the exact form requires a per-group sort; kept exact here to hash-match
    the oracle (the approx twin is agg_approx_sketches)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(F.col("value"), F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile(F.col("value"), F.lit(0.99)), 6).alias("p99"),
    )


@query(
    "h2o_groupby_lang",
    oracle="""
    SELECT lang, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("clickbench", "h2o"),
)
def h2o_groupby_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
    )


@query(
    "h2o_groupby_two_keys",
    oracle="""
    SELECT lang, source, COUNT(*) AS n,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
    tags=("clickbench", "h2o"),
)
def h2o_groupby_two_keys(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )

@query(
    "h2o_join_small",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("clickbench", "h2o", "join"),
)
def h2o_join_small(spark, sf_dir):
    """h2o join benchmark, small-dimension shape (x join small): the dim
    side broadcasts, the fact side never shuffles for the join — one
    exchange total (the group-by)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double")
            .alias("total_bal"),
        )
    )


@query(
    "h2o_join_big",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
    tags=("clickbench", "h2o", "join"),
)
def h2o_join_big(spark, sf_dir):
    """h2o join benchmark, big-join shape (x join big): both sides above
    broadcast threshold at scale → co-keyed shuffle join; AQE picks
    broadcast at small SF.  Partial aggregation runs before the group-by
    shuffle."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double")
            .alias("revenue"),
        )
    )


@query(
    "h2o_groupby_median_sd",
    oracle="""
    SELECT event_type,
           ROUND(median(value), 6) AS med_value,
           ROUND(stddev_samp(value), 6) AS sd_value
    FROM events GROUP BY event_type
    """,
    tags=("clickbench", "h2o"),
)
def h2o_groupby_median_sd(spark, sf_dir):
    """h2o groupby question 5: median + sd by key (reference:
    benchmarks/src/h2o.rs).  Exact percentile at 100 TB requires a
    per-group sort — for pipelines that can tolerate error use the
    approx_percentile sketch entry instead (agg_approx_sketches); this
    keeps the exact semantics the benchmark specifies.  Rounded 6dp for
    cross-engine interpolation/Welford noise (§4 rule 2)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med_value"),
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
    )


@query(
    "h2o_groupby_top2",
    oracle="""
    SELECT event_type, event_id, value FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rn
        FROM events WHERE value IS NOT NULL
    ) WHERE rn <= 2
    """,
    tags=("clickbench", "h2o"),
)
def h2o_groupby_top2(spark, sf_dir):
    """h2o groupby question 8: largest two values per key.  Window
    row_number with a unique tiebreak (§4 rule 6), WindowGroupLimit
    prunes per partition before the shuffle — no global sort."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("event_type", "event_id", "value")
    )


@query(
    "h2o_groupby_corr",
    oracle="""
    SELECT o_orderpriority,
           ROUND(POW(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 2), 6)
             AS r2
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("clickbench", "h2o"),
)
def h2o_groupby_corr(spark, sf_dir):
    """h2o groupby question 9: r² of two measures by key — one-pass
    co-moment accumulation (reference functions-aggregate/src/correlation
    .rs does the same partial-state merge Spark's corr uses)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(
            F.pow(F.corr("o_totalprice", F.col("o_custkey").cast("double")), 2), 6
        ).alias("r2")
    )


@query(
    "cb_regex_filter_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE regexp_matches(props, '"k": [12][0-9]\\b')
    GROUP BY event_type
    """,
    tags=("clickbench", "regex", "bench"),
)
def cb_regex_filter_agg(spark, sf_dir):
    """ClickBench regex-filter shape (clickbench.rs queries with LIKE/
    match over URL/title columns): regex predicate over a string column
    feeding a grouped aggregate.  The regex runs JVM-side inside codegen;
    at 100 TB the scan parallelism carries it — no shuffle before the
    partial agg.  Regex kept to a portable subset (\\b works in both Java
    and RE2-ish engines)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("props").rlike('"k": [12][0-9]\\b'))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "cb_string_prefix_histogram",
    oracle="""
    SELECT regexp_extract(source, '^src([0-9])', 1) AS src_digit,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY src_digit
    """,
    tags=("clickbench", "string", "bench"),
)
def cb_string_prefix_histogram(spark, sf_dir):
    """ClickBench substring-histogram shape (the URL-prefix / domain
    extraction queries): group by a string-derived key.  Extraction is a
    scan-side projection; grouping key cardinality is tiny so the shuffle
    moves only partial aggregates."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(
        F.regexp_extract("source", "^src([0-9])", 1).alias("src_digit")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


@query(
    "cb_wide_aggregate",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_v,
           MIN(value) AS min_v,
           MAX(value) AS max_v,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value)
             AS avg_v,
           ROUND(stddev_samp(value), 6) AS sd_v,
           CAST(MIN(event_id) AS BIGINT) AS first_id,
           CAST(MAX(event_id) AS BIGINT) AS last_id,
           CAST(COUNT(CASE WHEN value > 50.0 THEN 1 END) AS BIGINT) AS n_big,
           CAST(COUNT(CASE WHEN value IS NULL THEN 1 END) AS BIGINT) AS n_null,
           MIN(ts) AS min_ts,
           MAX(ts) AS max_ts,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
    FROM events
    GROUP BY event_type
    """,
    tags=("clickbench", "wide-agg", "bench"),
)
def cb_wide_aggregate(spark, sf_dir):
    """ClickBench wide-aggregation shape: 14 aggregates (3 of them
    DISTINCT/conditional) in ONE pass over the fact table — the partial-
    aggregation state is a single wide row per (partition, group), so the
    shuffle moves |groups|×width, never |rows|.  DataFusion's grouped
    hash aggregation does the same (physical-plan/src/aggregates/);
    the entry pins that Spark plans one scan, not one per aggregate."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count("value")
        ).alias("avg_v"),
        F.round(F.stddev_samp("value"), 6).alias("sd_v"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
        F.count(F.when(F.col("value") > 50.0, 1)).alias("n_big"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
    )


@query(
    "h2o_groupby_mean3",
    oracle="""
    SELECT l_suppkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity) AS v1,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_discount) AS v2,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_extendedprice) AS v3
    FROM lineitem GROUP BY l_suppkey
    """,
    tags=("clickbench", "h2o"),
)
def h2o_groupby_mean3(spark, sf_dir):
    """h2o groupby question 4 (mean v1..v3 by id4): three means in one
    partial+merge pass; exact decimal sums keep both engines bit-equal
    under any partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    mean = lambda c, a: (
        F.sum(F.col(c).cast("decimal(38,6)")).cast("double") / F.count(c)
    ).alias(a)
    return li.groupBy("l_suppkey").agg(
        mean("l_quantity", "v1"), mean("l_discount", "v2"),
        mean("l_extendedprice", "v3"),
    )


@query(
    "h2o_groupby_sum3",
    oracle="""
    SELECT l_partkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS v1,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS v2,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS v3
    FROM lineitem GROUP BY l_partkey
    """,
    tags=("clickbench", "h2o"),
)
def h2o_groupby_sum3(spark, sf_dir):
    """h2o groupby question 5 (sum v1..v3 by id6, mid-cardinality key)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = lambda c, a: F.sum(F.col(c).cast("decimal(38,6)")).cast("double").alias(a)
    return li.groupBy("l_partkey").agg(
        s("l_quantity", "v1"), s("l_discount", "v2"), s("l_extendedprice", "v3")
    )


@query(
    "h2o_groupby_range",
    oracle="""
    SELECT l_orderkey, MAX(l_quantity) - MIN(l_discount) AS range_v1_v2
    FROM lineitem GROUP BY l_orderkey
    """,
    tags=("clickbench", "h2o"),
)
def h2o_groupby_range(spark, sf_dir):
    """h2o groupby question 7 (max(v1)-min(v2) by id3, high-card key):
    two extreme accumulators, one exact double subtraction."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        (F.max("l_quantity") - F.min("l_discount")).alias("range_v1_v2")
    )


@query(
    "h2o_groupby_multikey",
    oracle="""
    SELECT l_returnflag, l_linestatus, l_linenumber, l_suppkey, l_partkey,
           l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS v3,
           COUNT(*) AS count
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus, l_linenumber, l_suppkey, l_partkey,
             l_orderkey
    """,
    tags=("clickbench", "h2o"),
)
def h2o_groupby_multikey(spark, sf_dir):
    """h2o groupby question 10 (all six ids as the group key): group count
    ~= row count, the worst case for hash aggregation — partial agg does
    almost nothing and the shuffle carries nearly every row.  The shape
    exists to keep that regression visible; the key set is the natural
    composite key here."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        "l_returnflag", "l_linestatus", "l_linenumber", "l_suppkey",
        "l_partkey", "l_orderkey",
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double").alias("v3"),
        F.count(F.lit(1)).alias("count"),
    )


@query(
    "h2o_join_left_medium",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, l.l_quantity,
           s.s_name, s.s_acctbal
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
    tags=("clickbench", "h2o", "join"),
)
def h2o_join_left_medium(spark, sf_dir):
    """h2o join question 3 shape (x LEFT JOIN medium): projection-style
    join output — every fact row survives, medium side hash-joined.  At
    sf the supplier side broadcasts; at 100 TB it stays far below the fact
    table and still broadcasts — the fact never shuffles."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_quantity"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey, "left").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_quantity",
        "s_name", "s_acctbal",
    )


@query(
    "h2o_join_big_highcard",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_quantity,
           o.o_custkey, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    tags=("clickbench", "h2o", "join"),
)
def h2o_join_big_highcard(spark, sf_dir):
    """h2o join question 5 shape (x JOIN large on the high-card key):
    both sides are fact-scale, so at 100 TB this is the co-keyed shuffle
    join — both sides hash-partition on l_orderkey/o_orderkey and the
    join is per-partition; AQE picks broadcast at test SFs.  Projection
    output (row-heavy), no aggregation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "o_custkey", "o_totalprice",
    )
