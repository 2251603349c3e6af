"""h2o window suite + sort-pushdown shapes.

Reference: benchmarks/queries/h2o/window.sql (whole-table windows, global
ordered windows, partition-cardinality sweeps, RANK/DENSE_RANK top-N with
heavy ties) and benchmarks/queries/sort_pushdown/q1..q8.sql (ordered-scan
top-k exploitation).  The h2o `large(id1,id2,id3,v2)` table maps to events:
id1=event_type (low card), id2=user_id (mid card), id3=event_id (unique,
dense), v2=value.

THE SINGLE-PARTITION HAZARD (why these plans differ from the reference SQL
shape): `OVER ()` and `OVER (ORDER BY id3)` with no PARTITION BY collapse
the whole table into ONE Spark task — fine in a single-node vectorized
engine, fatal at 100 TB.  Each entry therefore declares the scalable
equivalent:

  - sum OVER ()            -> scalar aggregate + broadcast join (1 scan,
                              no windowed single partition)
  - row_number OVER (ORDER BY id3)
                           -> two-phase rank: dense-bucket local row_number
                              + tiny cumulative bucket-offset broadcast
  - first_value OVER (ORDER BY id3)
                           -> min_by scalar, broadcast

plans/manifest.json pins their operator counts: keyed exchanges only (no
whole-table Window), and the top-k sorts plan as TakeOrderedAndProject
(Spark's sort-pushdown/TopK equivalent), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_spark.catalog import load_table
from datafusion_spark.queries.registry import query

_DEC = "decimal(38,6)"


def _large(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("id1"),
        F.col("user_id").alias("id2"),
        F.col("event_id").alias("id3"),
        F.col("value").alias("v2"),
    )


_SQL_LARGE = (
    "SELECT event_type AS id1, user_id AS id2, event_id AS id3, value AS v2"
    " FROM events"
)


@query(
    "h2o_window_whole_table",
    oracle=f"""
    WITH large AS ({_SQL_LARGE})
    SELECT id1, id2, id3, v2,
           CAST(SUM(CAST(v2 AS DECIMAL(38,6))) OVER () AS DOUBLE) AS window_basic
    FROM large
    """,
    tags=("h2o", "window"),
)
def h2o_window_whole_table(spark, sf_dir):
    """h2o 'Basic Window': sum(v2) OVER () — every row annotated with the
    global total.  Spark plan: scalar aggregate (partial per partition,
    one-row merge) broadcast-joined back; the scan parallelism is preserved
    and NO single-partition Window appears (the naive OVER () plan would
    pull 100 TB through one task)."""
    large = _large(spark, sf_dir)
    total = large.agg(
        F.sum(F.col("v2").cast(_DEC)).cast("double").alias("window_basic")
    )
    return large.crossJoin(F.broadcast(total))


@query(
    "h2o_window_global_ordered",
    oracle=f"""
    WITH large AS ({_SQL_LARGE})
    SELECT id1, id2, id3, v2,
           first_value(v2) OVER (ORDER BY id3) AS first_order_by,
           row_number() OVER (ORDER BY id3) AS row_number_order_by
    FROM large WHERE v2 IS NOT NULL
    """,
    tags=("h2o", "window", "bench"),
)
def h2o_window_global_ordered(spark, sf_dir):
    """h2o 'Sorted Window': global first_value + row_number ordered by the
    unique dense key id3.  Scalable two-phase formulation (no whole-table
    single-partition Window):

      1. bucket = id3 div W with W sized from max(id3) so there are ≤2048
         buckets at ANY scale (the offsets table stays driver-tiny);
      2. local row_number within each bucket (hash-partitioned window);
      3. cumulative bucket offsets (window over ≤2048 rows) broadcast back;
      4. global rn = offset + local rn; first_value = min_by scalar.

    This is the distributed rank construction DataFusion gets from its
    single-node sort for free; at 1000 executors it costs 2 scans + one
    bounded shuffle instead of one 100 TB sort task."""
    large = _large(spark, sf_dir).filter(F.col("v2").isNotNull())
    bounds = large.agg(
        F.greatest(
            F.lit(1).cast("long"),
            (F.ceil((F.max("id3") + 1) / F.lit(2048))).cast("long"),
        ).alias("w"),
        F.expr("min_by(v2, id3)").alias("first_order_by"),
    )
    b = large.crossJoin(F.broadcast(bounds)).withColumn(
        # integer division: float quotient would misbucket ids beyond 2^53
        "bucket", F.expr("id3 div w")
    )
    lw = Window.partitionBy("bucket").orderBy("id3")
    local = b.withColumn("lrn", F.row_number().over(lw))
    counts = local.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    ow = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(ow), F.lit(0))
    ).select("bucket", "off")
    return (
        local.join(F.broadcast(offsets), "bucket")
        .select(
            "id1", "id2", "id3", "v2", "first_order_by",
            (F.col("off") + F.col("lrn")).alias("row_number_order_by"),
        )
    )


@query(
    "h2o_window_partition_sweep",
    oracle=f"""
    WITH large AS ({_SQL_LARGE})
    SELECT id1, id2, id3, v2,
           CAST(SUM(CAST(v2 AS DECIMAL(38,6))) OVER (PARTITION BY id1) AS DOUBLE) AS sum_by_id1,
           CAST(SUM(CAST(v2 AS DECIMAL(38,6))) OVER (PARTITION BY id2) AS DOUBLE) AS sum_by_id2,
           CAST(SUM(CAST(v2 AS DECIMAL(38,6))) OVER (PARTITION BY id3) AS DOUBLE) AS sum_by_id3
    FROM large
    """,
    tags=("h2o", "window"),
)
def h2o_window_partition_sweep(spark, sf_dir):
    """h2o 'PARTITION BY' sweep: the same measure summed at three partition
    cardinalities (5 / ~n/66 / unique) in one projection.  Three keyed
    window exchanges — each hash-partitioned, none single-partition; at
    100 TB each is a plain co-keyed shuffle whose reduce state is one sum
    per key."""
    large = _large(spark, sf_dir)
    s = lambda c: F.sum(F.col("v2").cast(_DEC)).over(Window.partitionBy(c)).cast("double")  # noqa: E731
    return large.select(
        "id1", "id2", "id3", "v2",
        s("id1").alias("sum_by_id1"),
        s("id2").alias("sum_by_id2"),
        s("id3").alias("sum_by_id3"),
    )


@query(
    "h2o_window_topn_rank_ties",
    oracle=f"""
    WITH large AS ({_SQL_LARGE})
    SELECT pkey, largest_v2 FROM (
        SELECT id2 AS pkey, v2 AS largest_v2,
               RANK() OVER (PARTITION BY id2 ORDER BY (id3 % 10) DESC) AS rk
        FROM large WHERE v2 IS NOT NULL) t
    WHERE rk <= 2
    """,
    tags=("h2o", "window", "topk"),
)
def h2o_window_topn_rank_ties(spark, sf_dir):
    """h2o 'Window Top-N (RANK, heavy ties)': ORDER BY (id3 % 10) forces 10
    distinct order values, so most rows tie at the rank boundary and
    `rk <= 2` keeps MORE than 2 rows per partition — the ties path
    DataFusion routes to PartitionedTopKRank.  Spark's WindowGroupLimit
    performs the same rank-aware per-partition pruning before the shuffle."""
    large = _large(spark, sf_dir).filter(F.col("v2").isNotNull())
    w = Window.partitionBy("id2").orderBy((F.col("id3") % 10).desc())
    return (
        large.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 2)
        .select(F.col("id2").alias("pkey"), F.col("v2").alias("largest_v2"))
    )


@query(
    "h2o_window_topn_dense_rank",
    oracle=f"""
    WITH large AS ({_SQL_LARGE})
    SELECT pkey, largest_v2 FROM (
        SELECT id2 AS pkey, v2 AS largest_v2,
               DENSE_RANK() OVER (PARTITION BY id2 ORDER BY (id3 % 7) DESC) AS dr
        FROM large WHERE v2 IS NOT NULL) t
    WHERE dr <= 2
    """,
    tags=("h2o", "window", "topk"),
)
def h2o_window_topn_dense_rank(spark, sf_dir):
    """h2o 'Window Top-N (DENSE_RANK, heavy ties)': keeps every row whose
    order value is among the 2 distinct-greatest per partition — unbounded
    rows per rank (PartitionedTopKDenseRank's append path in the
    reference); WindowGroupLimit handles the same dense-rank pruning."""
    large = _large(spark, sf_dir).filter(F.col("v2").isNotNull())
    w = Window.partitionBy("id2").orderBy((F.col("id3") % 7).desc())
    return (
        large.withColumn("dr", F.dense_rank().over(w))
        .filter(F.col("dr") <= 2)
        .select(F.col("id2").alias("pkey"), F.col("v2").alias("largest_v2"))
    )


# --- sort-pushdown shapes (reference benchmarks/queries/sort_pushdown/) ----


@query(
    "sort_pushdown_topk_asc",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    ORDER BY event_id LIMIT 100
    """,
    tags=("sort", "pushdown", "topk"),
)
def sort_pushdown_topk_asc(spark, sf_dir):
    """Sort-pushdown q2 shape: ORDER BY key LIMIT k, narrow projection.
    Plan must be TakeOrderedAndProject (per-partition top-k heaps merged on
    one reducer — k rows, not the table, cross the wire), never a global
    SortExec; the projection prunes to 3 columns at the scan
    (plans/manifest.json pins the TakeOrderedAndProject and no Sort)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return e.orderBy("event_id").limit(100)


@query(
    "sort_pushdown_topk_desc",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    ORDER BY event_id DESC LIMIT 1000
    """,
    tags=("sort", "pushdown", "topk", "bench"),
)
def sort_pushdown_topk_desc(spark, sf_dir):
    """Sort-pushdown q5/q6 shape: reverse-order top-k (the reference
    exploits reverse row-group scans; Spark's TopK heap is
    direction-agnostic, so the same TakeOrderedAndProject plan applies)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return e.orderBy(F.col("event_id").desc()).limit(1000)


@query(
    "sort_pushdown_topk_wide",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    ORDER BY event_id LIMIT 100
    """,
    tags=("sort", "pushdown", "topk"),
)
def sort_pushdown_topk_wide(spark, sf_dir):
    """Sort-pushdown q3/q4 shape: SELECT * ORDER BY key LIMIT k — wide
    payload through the top-k heap.  Still TakeOrderedAndProject: the heap
    carries k full rows per partition, bounded regardless of table size."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    return e.orderBy("event_id").limit(100)


# --- sort_tpch shapes (reference benchmarks/src/sort_tpch.rs) --------------


@query(
    "sort_tpch_low_card",
    oracle="""
    SELECT l_linenumber, l_partkey FROM lineitem ORDER BY l_linenumber
    """,
    tags=("sort", "sort_tpch"),
)
def sort_tpch_low_card(spark, sf_dir):
    """sort_tpch q1: full-table sort on a 7-value key, narrow payload.
    Spark's orderBy is a RANGE-partitioned distributed sort (sampled
    bounds -> rangepartitioning exchange -> per-partition sort) — the
    whole table never passes through one task, unlike a naive single-node
    sort.  Plan pinned to rangepartitioning in tests/test_plan_budgets.py."""
    li = load_table(spark, sf_dir, "lineitem").select("l_linenumber", "l_partkey")
    return li.orderBy("l_linenumber")


@query(
    "sort_tpch_multi_key",
    oracle="""
    SELECT l_linenumber, l_suppkey, l_orderkey FROM lineitem
    ORDER BY l_linenumber, l_suppkey, l_orderkey
    """,
    tags=("sort", "sort_tpch"),
)
def sort_tpch_multi_key(spark, sf_dir):
    """sort_tpch q5: three-key lexicographic global sort (low-card prefix +
    high-card suffix) — the composite-bounds range-partitioner case."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_linenumber", "l_suppkey", "l_orderkey"
    )
    return li.orderBy("l_linenumber", "l_suppkey", "l_orderkey")


@query(
    "sort_tpch_wide_payload",
    oracle="""
    SELECT l_linenumber, l_suppkey, l_orderkey, l_partkey, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           l_shipdate
    FROM lineitem
    ORDER BY l_linenumber, l_suppkey, l_orderkey
    """,
    tags=("sort", "sort_tpch"),
)
def sort_tpch_wide_payload(spark, sf_dir):
    """sort_tpch q7 (adapted to the reduced schema): full-row payload
    through the sort — exercises row-width sensitivity of the exchange +
    external sorter (spill path at scale), keys as in q5."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_linenumber", "l_suppkey", "l_orderkey", "l_partkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )
    return li.orderBy("l_linenumber", "l_suppkey", "l_orderkey")


# --- h2o Window Top-N partition-cardinality sweep (reference
# benchmarks/queries/h2o/window.sql lines 121-243): ROW_NUMBER / RANK /
# DENSE_RANK top-2 per partition at 100..100k partitions, low- and
# heavy-ties variants.  The reference uses these to validate its
# PartitionedTopK{,Rank,DenseRank} operators across partition counts;
# Spark's equivalent is WindowGroupLimit (rank-aware per-partition pruning
# BEFORE the window shuffle), which kicks in identically at every
# cardinality — the sweep proves the plan shape is cardinality-independent.
#
# Determinism deltas from the benchmark text (which never checks values):
# ROW_NUMBER orders by (v2, id2, id3) — id3 is unique — so the kept rows
# are well-defined in both engines; RANK/DENSE_RANK order by (id2 % 10),
# which is independent of the id3-derived partition key (ordering by
# id3 % 10 would be CONSTANT within an id3 % N partition for 10 | N).

def _register_topn_sweep() -> None:
    shapes = []
    for label, n in (("100", 100), ("1k", 1000), ("10k", 10000), ("100k", 100000)):
        shapes.append((
            f"h2o_window_topn_rn_{label}",
            f"""
    SELECT pkey, largest_v2 FROM (
        SELECT id3 % {n} AS pkey, v2 AS largest_v2,
               ROW_NUMBER() OVER (PARTITION BY id3 % {n}
                                  ORDER BY v2 DESC, id2, id3) AS rn
        FROM large WHERE v2 IS NOT NULL) t
    WHERE rn <= 2
    """,
            f"ROW_NUMBER top-2 over ~{label} partitions (unique tiebreak)",
        ))
    for label, n, fn_name, fn_sql in (
        ("rank_1k", 1000, "RANK", "RANK()"),
        ("rank_10k_ties", 10000, "RANK", "RANK()"),
        ("drank_1k", 1000, "DENSE_RANK", "DENSE_RANK()"),
        ("drank_10k_ties", 10000, "DENSE_RANK", "DENSE_RANK()"),
    ):
        shapes.append((
            f"h2o_window_topn_{label}",
            f"""
    SELECT pkey, largest_v2 FROM (
        SELECT id3 % {n} AS pkey, v2 AS largest_v2,
               {fn_sql} OVER (PARTITION BY id3 % {n}
                              ORDER BY id2 % 10 DESC) AS rk
        FROM large WHERE v2 IS NOT NULL) t
    WHERE rk <= 2
    """,
            f"{fn_name} top-2 over ~{n} partitions, ties kept at the boundary",
        ))

    for name, body, desc in shapes:
        sql = f"WITH large AS ({_SQL_LARGE}) {body}"

        def fn(spark, sf_dir, _sql=sql):
            from datafusion_spark.catalog import register_views

            register_views(spark, sf_dir)
            return spark.sql(_sql)

        fn.__name__ = name
        fn.__doc__ = (
            f"h2o Window Top-N sweep: {desc} (reference h2o/window.sql "
            "partition-cardinality matrix).  Plans as WindowGroupLimit over a "
            "hash-partitioned window — per-partition pruning to the boundary "
            "before the exchange, independent of partition count."
        )
        query(name, oracle=sql, tags=("h2o", "window", "topk"))(fn)


_register_topn_sweep()


# --- aggregates_topk.slt + join_limit_pushdown.slt mirrors (r6) ------------


@query(
    "agg_topk_min_max_groups",
    oracle="""
    (SELECT 'max_desc' AS kase,
           CAST(NULLIF(l_suppkey % 50, 0) AS VARCHAR) AS k1,
           CAST(NULL AS VARCHAR) AS k2,
           CAST(MAX(NULLIF(l_orderkey % 997, 3)) AS VARCHAR) AS v
    FROM lineitem GROUP BY NULLIF(l_suppkey % 50, 0)
    ORDER BY MAX(NULLIF(l_orderkey % 997, 3)) DESC NULLS LAST,
             NULLIF(l_suppkey % 50, 0) ASC NULLS FIRST LIMIT 4)
    UNION ALL
    (SELECT 'min_asc',
           CAST(NULLIF(l_suppkey % 50, 0) AS VARCHAR),
           CAST(NULL AS VARCHAR),
           CAST(MIN(NULLIF(l_orderkey % 997, 3)) AS VARCHAR)
    FROM lineitem GROUP BY NULLIF(l_suppkey % 50, 0)
    ORDER BY MIN(NULLIF(l_orderkey % 997, 3)) ASC NULLS FIRST,
             NULLIF(l_suppkey % 50, 0) ASC NULLS FIRST LIMIT 4)
    UNION ALL
    (SELECT 'multi_key',
           CAST(NULLIF(l_suppkey % 50, 0) AS VARCHAR),
           CAST(l_linenumber AS VARCHAR),
           CAST(MIN(l_orderkey) AS VARCHAR)
    FROM lineitem GROUP BY NULLIF(l_suppkey % 50, 0), l_linenumber
    ORDER BY MIN(l_orderkey) ASC NULLS FIRST,
             NULLIF(l_suppkey % 50, 0) ASC NULLS FIRST,
             l_linenumber ASC NULLS FIRST LIMIT 4)
    UNION ALL
    (SELECT 'string_max',
           l_returnflag,
           CAST(NULL AS VARCHAR),
           CAST(MAX(l_shipdate) AS VARCHAR)
    FROM lineitem GROUP BY l_returnflag
    ORDER BY MAX(l_shipdate) DESC NULLS LAST, l_returnflag ASC LIMIT 2)
    """,
    tags=("agg", "topk", "slt"),
)
def agg_topk_min_max_groups(spark, sf_dir):
    """min/max-per-group + ORDER BY aggregate LIMIT — the dashboard TopK
    shape, mirroring the reference's aggregates_topk.slt
    (sqllogictest/test_files/aggregates_topk.slt: max desc / min asc /
    multi-key grouping / string max, incl. NULL group keys and NULL
    aggregate inputs — here fabricated with NULLIF since the synthetic
    tables are NULL-free).  The reference's TopK-aggregation rewrite
    (lim=[k] pushed INTO the partial aggregate) has a Spark analogue in
    plan shape: partial+final HashAggregate under TakeOrderedAndProject
    — per-partition k-row heaps, never a global sort
    (plans/manifest.json pins all four branches).  NULLS
    FIRST/LAST is spelled explicitly everywhere: Spark defaults ASC→
    NULLS FIRST while DuckDB defaults NULLS LAST — a real cross-engine
    divergence this entry would otherwise hash."""
    l = load_table(spark, sf_dir, "lineitem")
    k1 = F.expr("NULLIF(l_suppkey % 50, 0)")
    v = F.expr("NULLIF(l_orderkey % 997, 3)")
    nul = F.lit(None).cast("string")

    b1 = (
        l.groupBy(k1.alias("gk")).agg(F.max(v).alias("mv"))
        .orderBy(F.col("mv").desc_nulls_last(), F.col("gk").asc_nulls_first())
        .limit(4)
        .select(F.lit("max_desc").alias("kase"),
                F.col("gk").cast("string").alias("k1"),
                nul.alias("k2"), F.col("mv").cast("string").alias("v"))
    )
    b2 = (
        l.groupBy(k1.alias("gk")).agg(F.min(v).alias("mv"))
        .orderBy(F.col("mv").asc_nulls_first(), F.col("gk").asc_nulls_first())
        .limit(4)
        .select(F.lit("min_asc").alias("kase"),
                F.col("gk").cast("string").alias("k1"),
                nul.alias("k2"), F.col("mv").cast("string").alias("v"))
    )
    b3 = (
        l.groupBy(k1.alias("gk"), F.col("l_linenumber").alias("gk2"))
        .agg(F.min("l_orderkey").alias("mv"))
        .orderBy(F.col("mv").asc_nulls_first(), F.col("gk").asc_nulls_first(),
                 F.col("gk2").asc_nulls_first())
        .limit(4)
        .select(F.lit("multi_key").alias("kase"),
                F.col("gk").cast("string").alias("k1"),
                F.col("gk2").cast("string").alias("k2"),
                F.col("mv").cast("string").alias("v"))
    )
    b4 = (
        l.groupBy("l_returnflag").agg(F.max("l_shipdate").alias("mv"))
        .orderBy(F.col("mv").desc_nulls_last(), F.col("l_returnflag").asc())
        .limit(2)
        .select(F.lit("string_max").alias("kase"),
                F.col("l_returnflag").alias("k1"),
                nul.alias("k2"), F.col("mv").cast("string").alias("v"))
    )
    return b1.unionAll(b2).unionAll(b3).unionAll(b4)


@query(
    "join_limit_pushdown",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (SELECT l_orderkey FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey LIMIT 1000) t) AS inner_cnt,
      (SELECT COUNT(*) FROM (SELECT l_orderkey FROM lineitem
        LEFT JOIN supplier ON l_suppkey = s_suppkey LIMIT 500) t) AS left_cnt,
      (SELECT COUNT(*) FROM (SELECT l_orderkey FROM orders
        RIGHT JOIN lineitem ON o_orderkey = l_orderkey LIMIT 700) t) AS right_cnt,
      (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
        FULL OUTER JOIN lineitem ON o_orderkey = l_orderkey LIMIT 900) t) AS full_cnt,
      (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders o2
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o2.o_orderkey)
        LIMIT 300) t) AS semi_cnt,
      (SELECT MAX(k) FROM (SELECT l_orderkey AS k FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        ORDER BY l_orderkey, l_linenumber LIMIT 100) t) AS topk_max
    """,
    tags=("join", "limit", "slt"),
)
def join_limit_pushdown(spark, sf_dir):
    """LIMIT over inner/left/right/full/semi joins, mirroring the
    reference's join_limit_pushdown.slt (sqllogictest/test_files/
    join_limit_pushdown.slt: fetch= pushed into HashJoinExec and the
    preserved-side scan).  Unordered LIMIT picks nondeterministic rows,
    so — like the slt's FULL-join case — each branch asserts COUNT(*)
    of the limited join (deterministically = the limit when the join is
    larger), plus one value-checked ordered TopK-over-join branch.
    Spark's analogue of the reference's pushdown is LimitPushDown:
    LocalLimit dips below the preserved side of outer joins, and the
    ordered branch plans TakeOrderedAndProject over the join — pinned
    in tests/test_plan_budgets.py."""
    sql = f"""
    WITH lineitem AS (SELECT * FROM parquet.`{sf_dir}/lineitem.parquet`),
         orders   AS (SELECT * FROM parquet.`{sf_dir}/orders.parquet`),
         supplier AS (SELECT * FROM parquet.`{sf_dir}/supplier.parquet`)
    SELECT
      (SELECT COUNT(*) FROM (SELECT l_orderkey FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey LIMIT 1000) t) AS inner_cnt,
      (SELECT COUNT(*) FROM (SELECT l_orderkey FROM lineitem
        LEFT JOIN supplier ON l_suppkey = s_suppkey LIMIT 500) t) AS left_cnt,
      (SELECT COUNT(*) FROM (SELECT l_orderkey FROM orders
        RIGHT JOIN lineitem ON o_orderkey = l_orderkey LIMIT 700) t) AS right_cnt,
      (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
        FULL OUTER JOIN lineitem ON o_orderkey = l_orderkey LIMIT 900) t) AS full_cnt,
      (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders o2
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o2.o_orderkey)
        LIMIT 300) t) AS semi_cnt,
      (SELECT MAX(k) FROM (SELECT l_orderkey AS k FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        ORDER BY l_orderkey, l_linenumber LIMIT 100) t) AS topk_max
    """
    return spark.sql(sql)


# --- push_down_topk_through_join.slt mirror (r7) ----------------------------


def _topk_through_left(spark: SparkSession, sf_dir: str, k: int = 8) -> DataFrame:
    """The pushable LEFT-join case with the pushdown APPLIED: a left outer
    join preserves every left row (>= 1 output row each), so the top-k
    OUTPUT rows under a left-side sort key can only come from the top-k
    LEFT rows — pre-limiting the left input to its own top-k is
    semantics-preserving and turns a sort over |left x right| rows into a
    sort over k x match rows.  The left key is unique (c_custkey), so the
    k-th/k+1-th boundary is tie-free and the rewrite is exact."""
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_name")
            .orderBy("c_custkey").limit(k))
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                .orderBy("c_custkey", "o_orderkey").limit(k))


@query(
    "join_topk_through",
    oracle="""
    (SELECT 'left_pushed' AS kase, CAST(c.c_custkey AS BIGINT) AS k1,
            CAST(o.o_orderkey AS BIGINT) AS k2
     FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
     ORDER BY c.c_custkey, o.o_orderkey LIMIT 8)
    UNION ALL
    (SELECT 'right_pushed', CAST(c.c_custkey AS BIGINT),
            CAST(o.o_orderkey AS BIGINT)
     FROM orders o RIGHT JOIN customer c ON c.c_custkey = o.o_custkey
     ORDER BY c.c_custkey, o.o_orderkey LIMIT 6)
    UNION ALL
    (SELECT 'inner_unpushed', CAST(c.c_custkey AS BIGINT),
            CAST(o.o_orderkey AS BIGINT)
     FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
     ORDER BY c.c_custkey, o.o_orderkey LIMIT 5)
    UNION ALL
    (SELECT 'on_filter_pushed', CAST(c.c_custkey AS BIGINT),
            CAST(o.o_orderkey AS BIGINT)
     FROM customer c LEFT JOIN orders o
       ON c.c_custkey = o.o_custkey AND o.o_totalprice > 150000.0
     ORDER BY c.c_custkey, o.o_orderkey LIMIT 8)
    """,
    tags=("join", "topk", "slt"),
)
def join_topk_through(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopK through outer joins, mirroring the reference's
    push_down_topk_through_join.slt (sqllogictest/test_files/
    push_down_topk_through_join.slt): a Sort-with-fetch above a join
    whose sort keys come entirely from the PRESERVED side may be pushed
    to that side; inner/full joins and non-preserved sort keys may not.
    Spark has no such optimizer rule, so the pushable branches apply the
    rewrite EXPLICITLY (pre-topk the preserved input — legal because a
    preserved row yields >= 1 output row and the left key is unique,
    tie-free at the k boundary) and the non-pushable inner branch keeps
    the full TakeOrderedAndProject over the join.  The ON-filter branch
    mirrors the slt's `ON ... AND t2.y > 100` case: a non-preserved-side
    ON predicate only suppresses MATCHES (rows stay, NULL-extended), so
    the pushdown stays legal.  At 100 TB the rewrite is the difference
    between sorting k rows per partition on one dimension table and
    sorting the joined fact output.  tests/test_plan_budgets.py pins the
    pushed shape: TakeOrderedAndProject BELOW the join on the preserved
    side plus the final one above."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice")

    def shape(df, kase):
        return df.select(
            F.lit(kase).alias("kase"),
            F.col("c_custkey").cast("bigint").alias("k1"),
            F.col("o_orderkey").cast("bigint").alias("k2"),
        )

    left_pushed = shape(_topk_through_left(spark, sf_dir, 8), "left_pushed")

    top_c6 = cust.orderBy("c_custkey").limit(6)
    right_pushed = shape(
        orders.join(top_c6, top_c6.c_custkey == orders.o_custkey, "right")
              .orderBy("c_custkey", "o_orderkey").limit(6),
        "right_pushed")

    inner_unpushed = shape(
        cust.join(orders, cust.c_custkey == orders.o_custkey, "inner")
            .orderBy("c_custkey", "o_orderkey").limit(5),
        "inner_unpushed")

    top_c8 = cust.orderBy("c_custkey").limit(8)
    on_filter_pushed = shape(
        top_c8.join(
            orders,
            (top_c8.c_custkey == orders.o_custkey)
            & (orders.o_totalprice > 150000.0),
            "left")
        .orderBy("c_custkey", "o_orderkey").limit(8),
        "on_filter_pushed")

    return (left_pushed.unionAll(right_pushed)
                       .unionAll(inner_unpushed)
                       .unionAll(on_filter_pushed))
