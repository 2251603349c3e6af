"""Source/sink round-trip entries: CSV and NDJSON scans (written once to a
scratch dir from the canonical parquet, then read back and queried), plus a
hive-partitioned parquet write + pruned read.

The oracle reads the ORIGINAL parquet, so a round-trip through the text
format must preserve values exactly for the hash to match — this checks
quoting, type round-trip, and schema application, which is the point.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from datafusion_spark.catalog import load_table
from datafusion_spark.queries.registry import query
from datafusion_spark.queries.helpers import sql_sum_limbs, sql_units6, values_df
from datafusion_spark.sources.io import (
    copy_to,
    copy_to_arrow_ipc,
    read_arrow_ipc,
    read_csv,
    read_json,
)

_SCRATCH = os.path.join(tempfile.gettempdir(), "datafusion_spark_io")


def _sf_scratch(sf_dir: str, name: str) -> str:
    """Scratch path for a rewritten layout, keyed on the SF directory.

    Marker-guarded (_SUCCESS/_DONE) layouts MUST embed the sf_dir basename:
    a guard on an SF-independent path makes the entry read stale data from
    whichever SF first created the layout (smoke sf0.001 → oracle sf0.01
    mismatch).  Same fix as advanced_ops.build_bucketed_tables marker v2.
    Entries that rewrite unconditionally on every call don't need this.

    The ``ts64`` suffix is a WRITER-CONFIG version: layouts written before
    spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS landed carry
    INT96 timestamps with no row-group statistics (no pruning) — bumping
    the key abandons them so every cached layout is known stats-bearing.
    Abandoned pre-bump layouts are swept here — ONLY the exact known
    stale spellings (the pre-versioning bare path and retired version
    tags), never an open-ended prefix glob: ``name_sf1*`` would also
    match a LIVE sibling like ``name_sf10_ts64`` and delete it on every
    call — a rebuild-cost regression and a race against a concurrent
    reader of that cache (r9 advice find).
    """
    _VERSION = "ts64"
    _RETIRED = ("", "_ts32")  # bare pre-versioning form + old tags
    base = f"{name}_{os.path.basename(sf_dir.rstrip('/'))}"
    for suffix in _RETIRED:
        stale = os.path.join(_SCRATCH, base + suffix)
        if os.path.exists(stale):
            shutil.rmtree(stale, ignore_errors=True)
    return os.path.join(_SCRATCH, f"{base}_{_VERSION}")


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT n.n_regionkey, COUNT(*) AS n_nations,
           MIN(n.n_name) AS first_nation
    FROM nation n
    GROUP BY n.n_regionkey
    """,
    tags=("sources", "csv"),
)
def source_csv_roundtrip(spark, sf_dir):
    """parquet → COPY TO csv → CSV scan with explicit schema → aggregate.
    Explicit schema avoids the inference double-read (scale note in
    sources/io.py)."""
    nation = load_table(spark, sf_dir, "nation")
    path = os.path.join(_SCRATCH, "nation_csv")
    copy_to(nation, path, fmt="csv")
    back = read_csv(
        spark, path, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"), F.min("n_name").alias("first_nation")
    )


@query(
    "source_json_roundtrip",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
    tags=("sources", "json"),
)
def source_json_roundtrip(spark, sf_dir):
    region = load_table(spark, sf_dir, "region")
    path = os.path.join(_SCRATCH, "region_json")
    copy_to(region, path, fmt="json")
    return read_json(spark, path, schema="r_regionkey int, r_name string").select(
        "r_regionkey", "r_name"
    )


@query(
    "source_partitioned_write_prune",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("sources", "partitioning"),
)
def source_partitioned_write_prune(spark, sf_dir):
    """Write orders hive-partitioned by o_orderstatus, read back with a
    partition filter — the scan lists only the o_orderstatus=F directory
    (partition pruning; check .explain PartitionFilters)."""
    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(_SCRATCH, "orders_by_status")
    copy_to(orders, path, fmt="parquet", partition_by=["o_orderstatus"])
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("total"),
    )


@query(
    "source_multifile_listing",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("sources", "listing"),
)
def source_multifile_listing(spark, sf_dir):
    """Listing-table over multiple roots: events split across two
    directories (each itself multi-file), read back as ONE scan by passing
    both paths — the reference's ListingTable with several location URLs
    (datafusion/catalog-listing).  One FileScan node lists all files and
    assigns splits; no union operator appears in the plan."""
    ev = load_table(spark, sf_dir, "events")
    path_a = os.path.join(_SCRATCH, "events_listing_a")
    path_b = os.path.join(_SCRATCH, "events_listing_b")
    copy_to(ev.filter(F.col("event_id") % 2 == 0).repartition(4), path_a)
    copy_to(ev.filter(F.col("event_id") % 2 == 1).repartition(4), path_b)
    back = spark.read.parquet(path_a, path_b)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
    )


@query(
    "source_parquet_zstd_roundtrip",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("sources", "compression"),
)
def source_parquet_zstd_roundtrip(spark, sf_dir):
    """COPY TO parquet with zstd compression → scan → aggregate.  Exercises
    the writer codec option (reference: COPY ... OPTIONS (compression
    'zstd'), datafusion/common/src/file_options); zstd is the right codec
    at 100 TB (≈2× better ratio than snappy at similar scan speed).  The
    copy is read back with the schema just written, so no footer-inference
    job runs before the scan.  The total is the exact long-limb sum
    (helpers.sql_sum_limbs, as tpch_q1 sums): l_extendedprice is at cents
    and below 4.5e9, so it equals the oracle's decimal sum bit for bit
    without a per-row decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    path = os.path.join(_SCRATCH, "lineitem_zstd")
    li.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.schema(li.schema).parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(sql_sum_limbs(sql_units6("l_extendedprice"))).alias("total"),
    )


@query(
    "source_arrow_ipc_roundtrip",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal,
           MIN(s_name) AS first_supplier
    FROM supplier
    GROUP BY s_nationkey
    """,
    tags=("sources", "arrow"),
)
def source_arrow_ipc_roundtrip(spark, sf_dir):
    """parquet → Arrow IPC files (executor-written, one per partition) →
    distributed IPC scan → aggregate.  Reference: datafusion/datasource-
    arrow; exact value round-trip is the check (Arrow is lossless here)."""
    supplier = load_table(spark, sf_dir, "supplier")
    path = os.path.join(_SCRATCH, "supplier_arrow")
    copy_to_arrow_ipc(supplier, path)
    back = read_arrow_ipc(spark, path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(38,6)")).cast("double").alias("total_bal"),
        F.min("s_name").alias("first_supplier"),
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal,
           MIN(s_name) AS first_name
    FROM supplier GROUP BY s_nationkey
    """,
    tags=("sources", "orc"),
)
def source_orc_roundtrip(spark, sf_dir):
    """parquet → COPY TO ORC → ORC scan → aggregate.  ORC is the columnar
    format the reference lacks but Spark ships natively (vectorized reader,
    predicate pushdown, zlib/zstd) — the oracle reads the ORIGINAL parquet
    so the hash proves exact value round-trip through the second columnar
    format."""
    sup = load_table(spark, sf_dir, "supplier")
    path = os.path.join(_SCRATCH, "supplier_orc")
    copy_to(sup, path, fmt="orc")
    back = spark.read.orc(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(38,6)")).cast("double").alias("total_bal"),
        F.min("s_name").alias("first_name"),
    )


@query(
    "source_schema_evolution_merge",
    oracle="""
    SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS shard_version
    FROM region
    UNION ALL
    SELECT r_regionkey, r_name, 2 AS shard_version FROM region
    """,
    tags=("sources", "schema-evolution"),
)
def source_schema_evolution_merge(spark, sf_dir):
    """Schema evolution on read: shard v1 lacks a column that shard v2
    added; mergeSchema=true unifies the footers and null-fills v1 —
    how a long-lived parquet dataset absorbs pipeline upgrades without
    rewrites.  Scale note: merged-schema inference reads ALL footers —
    on a million-file dataset pin the schema explicitly and keep
    mergeSchema for the occasional migration read."""
    reg = load_table(spark, sf_dir, "region")
    base = os.path.join(_SCRATCH, "evolve_region")
    v1 = reg.select("r_regionkey", "r_name")
    v2 = reg.select(
        "r_regionkey", "r_name", F.lit(2).cast("long").alias("shard_version")
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "v=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "v=2"))
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(base, "v=1"), os.path.join(base, "v=2")
    )
    return merged.select("r_regionkey", "r_name", "shard_version")


@query(
    "source_schema_evolution_nested_array",
    oracle="""
    SELECT r_regionkey, id, name, chain FROM (
      SELECT r_regionkey, CAST(r_regionkey * 10 AS BIGINT) AS id,
             r_name AS name, CAST(NULL AS VARCHAR) AS chain
      FROM region
      UNION ALL
      SELECT r_regionkey, CAST(r_regionkey * 10 + 1 AS BIGINT) AS id,
             CAST(NULL AS VARCHAR) AS name, 'chain-' || r_name AS chain
      FROM region
    )
    """,
    tags=("sources", "schema-evolution", "nested"),
)
def source_schema_evolution_nested_array(spark, sf_dir):
    """NESTED schema evolution on read (reference: sqllogictest
    schema_evolution_nested.slt): shard v1 carries
    array<struct<id,name>>, shard v2 array<struct<id,chain>> — a struct
    field ADDED and one REMOVED between pipeline versions.
    mergeSchema=true unions the struct fields recursively and null-fills
    the missing ones, exactly like the flat case one level down.  The
    plan explodes the merged array so the driver hash sees flat scalars.
    Same scale note as the flat entry: merged-footer inference reads all
    footers; pin the schema on a million-file dataset."""
    reg = load_table(spark, sf_dir, "region")
    base = os.path.join(_SCRATCH, "evolve_nested_region")
    v1 = reg.select(
        "r_regionkey",
        F.array(F.struct(
            (F.col("r_regionkey") * 10).cast("long").alias("id"),
            F.col("r_name").alias("name"),
        )).alias("messages"),
    )
    v2 = reg.select(
        "r_regionkey",
        F.array(F.struct(
            (F.col("r_regionkey") * 10 + 1).cast("long").alias("id"),
            F.concat(F.lit("chain-"), F.col("r_name")).alias("chain"),
        )).alias("messages"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "v=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "v=2"))
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(base, "v=1"), os.path.join(base, "v=2")
    )
    m = merged.select("r_regionkey", F.explode("messages").alias("m"))
    return m.select(
        "r_regionkey",
        F.col("m.id").alias("id"),
        F.col("m.name").alias("name"),
        F.col("m.chain").alias("chain"),
    )


@query(
    "source_avro_roundtrip",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal,
           MIN(s_name) AS first_name
    FROM supplier GROUP BY s_nationkey
    """,
    tags=("sources", "avro"),
)
def source_avro_roundtrip(spark, sf_dir):
    """parquet → Avro object-container write → distributed Avro scan →
    aggregate (reference: datafusion/datasource-avro).  The spark-avro
    jar is absent offline, so this runs on sources/avro_lite.py — a
    pure-Python implementation of the public Avro container spec
    (zigzag varints, null-union encoding), executor-side in both
    directions.  Oracle reads the ORIGINAL parquet: the hash match
    proves exact value round-trip through the binary format."""
    from datafusion_spark.sources.avro_lite import read_avro_lite, write_avro

    sup = load_table(spark, sf_dir, "supplier")
    path = os.path.join(_SCRATCH, "supplier_avro")
    write_avro(sup.repartition(4), path)
    back = read_avro_lite(spark, path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s_acctbal").cast("decimal(38,6)")).cast("double")
        .alias("total_bal"),
        F.min("s_name").alias("first_name"),
    )


@query(
    "source_csv_dialect",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
    WHERE p_partkey < 500
    """,
    tags=("sources", "csv", "dialect"),
)
def source_csv_dialect(spark, sf_dir):
    """CSV dialect stress: semicolon delimiter, quoted fields (forced
    quoting so embedded delimiters round-trip), custom null token, header
    — the knobs DataFusion's CsvOptions exposes (format.delimiter,
    null_value...).  Oracle reads the ORIGINAL parquet: byte-exact value
    round-trip through the hostile dialect is the check."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500).select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    path = os.path.join(_SCRATCH, "part_csv_dialect")
    (
        part.write.mode("overwrite")
        .option("header", True)
        .option("sep", ";")
        .option("quoteAll", True)
        .option("nullValue", "\\N")
        .csv(path)
    )
    return (
        spark.read.schema(
            "p_partkey long, p_name string, p_brand string, p_retailprice double"
        )
        .option("header", True)
        .option("sep", ";")
        .option("nullValue", "\\N")
        .csv(path)
    )


@query(
    "source_input_file_metadata",
    oracle="""
    SELECT o_orderstatus AS status_from_path, COUNT(*) AS n,
           COUNT(*) - 1 AS max_row_index
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("sources", "metadata-columns"),
)
def source_input_file_metadata(spark, sf_dir):
    """Hidden metadata columns — input_file_name() + _metadata.row_index
    (reference: sqllogictest input_file_name.slt, file_row_index.slt).
    The partition value is recovered FROM THE PATH (never stored in the
    data files) and per-file row indexes are exposed by the reader; the
    oracle recomputes both from the logical table, proving path⇔data
    consistency.  Lineage/debugging primitive: every row can name its
    source file and offset."""
    o = load_table(spark, sf_dir, "orders")
    path = os.path.join(_SCRATCH, "orders_by_status_meta")
    (
        o.repartition("o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        F.regexp_extract(F.input_file_name(), "o_orderstatus=([A-Z])", 1)
        .alias("status_from_path"),
        F.col("_metadata.row_index").alias("ri"),
    )
    return back.groupBy("status_from_path").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("ri").alias("max_row_index"),
    )


@query(
    "source_csv_gzip_roundtrip",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           MIN(c_name) AS first_customer
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("sources", "csv", "compression"),
)
def source_csv_gzip_roundtrip(spark, sf_dir):
    """gzip-compressed CSV write + transparent read (reference:
    datasource csv.rs FileCompressionType — DataFusion decompresses
    gzip/bzip2/xz/zstd CSV on scan).  Spark recognises the .gz suffix
    and decompresses per file.  Scale note: gzip is NOT splittable —
    one file = one task — so the write keeps many moderate files
    (repartition before write) rather than few huge ones; on a real
    lake prefer zstd parquet, keeping this path for ingest of
    externally-produced .csv.gz drops."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    path = os.path.join(_SCRATCH, "customer_csv_gz")
    copy_to(cust, path, fmt="csv", options={"compression": "gzip"})
    back = read_csv(
        spark, path, schema="c_custkey int, c_name string, c_mktsegment string"
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.min("c_name").alias("first_customer"),
    )


@query(
    "source_json_multiline",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
    tags=("sources", "json", "multiline"),
)
def source_json_multiline(spark, sf_dir):
    """Pretty-printed JSON *array* document read (multiLine=true).
    DataFusion's JSON source is NDJSON-only; Spark additionally parses
    whole-document JSON arrays, which is how config/manifest drops often
    arrive.  A multiline JSON doc is unsplittable (one record spans
    lines) so this path is for small control files — the 5-row region
    dim here — while bulk data stays NDJSON (source_json_roundtrip).
    The doc is rendered from the canonical parquet, read back, and
    hash-checked against the original."""
    import json

    region = load_table(spark, sf_dir, "region")
    rows = [
        {"r_regionkey": r["r_regionkey"], "r_name": r["r_name"]}
        for r in region.select("r_regionkey", "r_name").collect()
    ]
    rows.sort(key=lambda r: r["r_regionkey"])
    os.makedirs(os.path.join(_SCRATCH, "region_multiline"), exist_ok=True)
    doc = os.path.join(_SCRATCH, "region_multiline", "region.json")
    with open(doc, "w") as f:
        json.dump(rows, f, indent=2)
    return (
        spark.read.option("multiLine", True)
        .schema("r_regionkey int, r_name string")
        .json(doc)
        .select("r_regionkey", "r_name")
    )


# Deterministic corrupt-JSONL fixture (sf-independent), written at import
# time so BOTH the Spark plan and the DuckDB oracle can read it regardless
# of which side the harness runs first.  Lives in gitignored scratch.
_CORRUPT_JSONL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse", "json_corrupt", "records.jsonl",
)


def _ensure_corrupt_jsonl() -> str:
    if not os.path.isfile(_CORRUPT_JSONL):
        os.makedirs(os.path.dirname(_CORRUPT_JSONL), exist_ok=True)
        lines = []
        for i in range(40):
            if i % 7 == 3:  # 6 malformed, self-terminating records
                lines.append(f'%%% corrupt record {i} %%%')
            else:
                lines.append(f'{{"id": {i}, "v": {i * 3}}}')
        tmp = _CORRUPT_JSONL + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        try:
            os.replace(tmp, _CORRUPT_JSONL)
        except OSError:
            pass
    return _CORRUPT_JSONL


try:  # read-only checkouts: the entry will surface the error at run time
    _ensure_corrupt_jsonl()
except OSError:
    pass


@query(
    "source_json_corrupt_records",
    oracle=f"""
    WITH valid AS (
      SELECT id, v FROM read_json('{_CORRUPT_JSONL}',
        format='newline_delimited', ignore_errors=true,
        columns={{'id': 'BIGINT', 'v': 'BIGINT'}})
    ), nonnull AS (
      SELECT id, v FROM valid WHERE id IS NOT NULL
    ), raw AS (
      SELECT COUNT(*) AS n_lines FROM read_csv('{_CORRUPT_JSONL}',
        sep='\x01', quote='', header=false, columns={{'line': 'VARCHAR'}})
    )
    SELECT CAST((SELECT COUNT(*) FROM nonnull) AS BIGINT)  AS n_valid,
           CAST((SELECT n_lines FROM raw)
                - (SELECT COUNT(*) FROM nonnull) AS BIGINT) AS n_corrupt,
           CAST((SELECT SUM(v) FROM nonnull) AS BIGINT)     AS v_sum
    """,
    tags=("sources", "json", "robustness"),
)
def source_json_corrupt_records(spark, sf_dir):
    """PERMISSIVE-mode malformed-record handling (reference
    datasource-json error paths; Spark's _corrupt_record contract): a
    JSONL file with 6 deterministically truncated records parses without
    failing the job — valid rows keep their columns, corrupt lines land
    in the corrupt-record column and are COUNTED, not dropped (DuckDB's
    ignore_errors drops them; the oracle recounts via a raw line scan).
    At scale this is the ingest posture for web-crawl JSONL: never let
    one bad record kill a 100 TB read."""
    path = _ensure_corrupt_jsonl()
    df = (
        spark.read.schema("id bigint, v bigint, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return df.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_valid"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_corrupt"),
        F.sum("v").alias("v_sum"),
    )


@query(
    "source_dynamic_partition_prune",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderstatus
    """,
    tags=("sources", "partitioning", "scale"),
)
def source_dynamic_partition_prune(spark, sf_dir):
    """Dynamic partition pruning (reference dynamic_filter_pushdown_config
    .slt, dynamic_row_group_pruning.slt — runtime filters derived from the
    join's build side prune the probe scan).  The fact (orders) is written
    hive-partitioned on o_orderpriority; the dim is a tiny parquet table
    whose selective predicate is on a NON-partition attribute (cls),
    so static pruning cannot know which fact partitions survive — Spark's
    DPP inserts a dynamicpruningexpression into the fact scan's
    PartitionFilters, reusing the broadcast of the dim (pinned by
    tests/test_plan_budget.py).  At 100 TB this is the difference between
    scanning 2/5 of the fact and all of it."""
    orders = load_table(spark, sf_dir, "orders")
    fact_path = os.path.join(_SCRATCH, "orders_by_priority")
    copy_to(orders, fact_path, fmt="parquet", partition_by=["o_orderpriority"])
    dim_path = os.path.join(_SCRATCH, "priority_dim")
    dim = values_df(
        spark,
        [("1-URGENT", "expedited"), ("2-HIGH", "expedited"),
         ("3-MEDIUM", "standard"), ("4-NOT SPECIFIED", "standard"),
         ("5-LOW", "standard")],
        "o_orderpriority string, cls string",
    )
    copy_to(dim, dim_path, fmt="parquet")
    fact = spark.read.parquet(fact_path)
    dim_back = spark.read.parquet(dim_path).filter(F.col("cls") == "expedited")
    joined = fact.join(F.broadcast(dim_back), "o_orderpriority")
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("total"),
    )


@query(
    "source_nested_schema_pruning",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS id,
           CAST(n_nationkey * 100 AS BIGINT) AS s_x,
           CAST(n_nationkey * 10 + v AS BIGINT) AS e_x,
           CASE WHEN v = 1 THEN upper(n_name) ELSE lower(n_name) END AS e_y
    FROM nation CROSS JOIN (VALUES (1), (2)) t(v)
    ORDER BY id, e_x
    """,
    tags=("sources", "nested", "pruning"),
)
def source_nested_schema_pruning(spark, sf_dir):
    """Nested STRUCT-field projection pruning, mirroring the reference's
    parquet_nested_schema_pruning.slt (sqllogictest/test_files/
    parquet_nested_schema_pruning.slt: a wide file with padded structs
    read through a narrow projection must only decode the referenced
    leaf columns).  A scratch parquet carries
    events: array<struct<x,y,pad_a,pad_b>> and s: struct<x,y,pad>; the
    query touches only s.x, events.x and events.y.  With Spark's
    nestedSchemaPruning (default on) the scan's ReadSchema drops every
    pad_* leaf — at 100 TB with multimodal/variant structs that is the
    difference between reading a field and reading the whole column
    (tests/test_plans.py pins the pruned ReadSchema).  Pruning caveat
    baked into the plan shape: explode(events) with MULTI-field access
    defeats NestedColumnAliasing (the scan reads the padded structs
    whole; single-field explode prunes fine), so the entry extracts the
    fields FIRST (events.x / events.y — GetArrayStructFields, which
    prunes) and explodes their arrays_zip.  The oracle recomputes the
    flattened result from the base nation table, so the values also
    prove the nested write/read round-trip."""
    n = load_table(spark, sf_dir, "nation")
    wide = n.select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.array(
            F.struct(
                (F.col("n_nationkey") * 10 + 1).cast("long").alias("x"),
                F.upper("n_name").alias("y"),
                F.lit("p").alias("pad_a"),
                F.lit("q").alias("pad_b"),
            ),
            F.struct(
                (F.col("n_nationkey") * 10 + 2).cast("long").alias("x"),
                F.lower("n_name").alias("y"),
                F.lit("p").alias("pad_a"),
                F.lit("q").alias("pad_b"),
            ),
        ).alias("events"),
        F.struct(
            (F.col("n_nationkey") * 100).cast("long").alias("x"),
            F.col("n_name").alias("y"),
            F.lit("sp").alias("pad"),
        ).alias("s"),
    )
    path = os.path.join(_SCRATCH, "nested_pruning")
    copy_to(wide, path, fmt="parquet")
    back = spark.read.parquet(path)
    return (
        back.select(
            "id",
            F.col("s.x").alias("s_x"),
            F.explode(
                F.arrays_zip(
                    F.col("events.x").alias("x"), F.col("events.y").alias("y")
                )
            ).alias("e"),
        )
        .select("id", "s_x", F.col("e.x").alias("e_x"), F.col("e.y").alias("e_y"))
        .orderBy("id", "e_x")
    )


@query(
    "source_parquet_cdc_chunking",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS total,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key,
           TRUE AS layouts_agree
    FROM lineitem
    WHERE l_orderkey < 5000
    """,
    tags=("sources", "parquet", "chunking"),
)
def source_parquet_cdc_chunking(spark, sf_dir):
    """Parquet content-defined-chunking invariance, adjudicating the
    reference's parquet_cdc.slt / parquet_cdc_config.slt (a parquet-rs
    WRITER option that aligns data-page boundaries on content for
    storage-level dedup; the slt asserts reads are identical with the
    option on, off, and custom-tuned).  parquet-java exposes no
    content-defined chunking, so the option itself cannot be spelled —
    but the CONTRACT the slt pins (physical page/row-group layout never
    changes query results) is mirrored exactly: the same rows written
    with default layout and with aggressively small row-groups/pages +
    dictionary off must agree read-back; the entry returns the
    aggregate from the small-chunk copy plus a Spark-computed
    cross-layout equality flag, and the oracle recomputes from the
    canonical table.  SURVEY §2.10 documents the writer-option gap."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 5000)
    path_a = os.path.join(_SCRATCH, "cdc_default_layout")
    path_b = os.path.join(_SCRATCH, "cdc_small_chunks")
    copy_to(li, path_a, fmt="parquet")
    copy_to(
        li.repartition(4),
        path_b,
        fmt="parquet",
        options={
            "parquet.block.size": str(64 * 1024),
            "parquet.page.size": str(8 * 1024),
            "parquet.enable.dictionary": "false",
        },
    )

    def agg(df):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double").alias("total"),
            F.min("l_orderkey").cast("long").alias("min_key"),
            F.max("l_orderkey").cast("long").alias("max_key"),
        )

    a = agg(spark.read.parquet(path_a))
    b = agg(spark.read.parquet(path_b)).select(
        F.col("n").alias("n2"), F.col("total").alias("total2"),
        F.col("min_key").alias("min_key2"), F.col("max_key").alias("max_key2"),
    )
    return a.crossJoin(b).select(
        "n", "total", "min_key", "max_key",
        (
            (F.col("n") == F.col("n2"))
            & (F.col("total") == F.col("total2"))
            & (F.col("min_key") == F.col("min_key2"))
            & (F.col("max_key") == F.col("max_key2"))
        ).alias("layouts_agree"),
    )


@query(
    "source_parquet_stats_pruning",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS sum_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 2000
    """,
    tags=("sources", "parquet", "statistics"),
)
def source_parquet_stats_pruning(spark, sf_dir):
    """Mirror of sqllogictest parquet_statistics.slt: a point/range
    predicate on parquet must be answered from footer min/max
    statistics, reading only the row groups whose [min,max] intersects
    the predicate.  The reference pins pruning_predicate =
    key_min <= hi AND lo <= key_max in its DataSourceExec; Spark's
    parquet reader applies the same row-group test when the filter is
    pushed (PushedFilters in the scan).  The entry writes orders
    key-sorted with deliberately small row groups (so the file carries
    many prunable groups), then range-filters and aggregates; the
    oracle reads the ORIGINAL parquet, proving the rewritten layout
    changed nothing.  test_plan_budgets pins the scan-level evidence:
    pushed filter present and scan output rows << table rows (row
    groups outside the band were never decoded)."""
    orders = load_table(spark, sf_dir, "orders")
    path = _sf_scratch(sf_dir, "orders_stats_sorted")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (orders.repartition(1).sortWithinPartitions("o_orderkey")
               .write.mode("overwrite")
               .option("parquet.block.size", 16 * 1024)
               .parquet(path))
    back = spark.read.parquet(path)
    f = back.filter(F.col("o_orderkey").between(1000, 2000))
    return f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "source_parquet_sorted_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem
    WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-02-01'
    GROUP BY l_returnflag
    """,
    tags=("sources", "parquet", "statistics"),
)
def source_parquet_sorted_stats(spark, sf_dir):
    """Mirror of sqllogictest parquet_sorted_statistics.slt: when the
    file layout is SORTED on the filter key, footer min/max ranges are
    disjoint and tight, so a range predicate prunes all but the
    matching run of row groups — the reference declares WITH ORDER and
    leans on it for exact statistics; Spark gets the same effect from
    the physical sort order at write time.  The entry writes lineitem
    shipdate-sorted with small row groups and range-filters one month;
    the test proves layout-driven pruning by comparing scan output
    rows under the sorted layout against the same predicate on a
    key-shuffled copy (sorted prunes to ~1/84 of rows, shuffled
    layout's overlapping [min,max] ranges prune nothing) — statistics
    quality IS a layout property, which is the slt's point."""
    li = load_table(spark, sf_dir, "lineitem")
    path = _sf_scratch(sf_dir, "lineitem_shipdate_sorted")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (li.repartition(1).sortWithinPartitions("l_shipdate")
           .write.mode("overwrite")
           .option("parquet.block.size", 64 * 1024)
           .parquet(path))
    back = spark.read.parquet(path)
    f = back.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-02-01")
    )
    return f.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
    )


@query(
    "source_schema_evolution_nested",
    oracle="""
    SELECT batch,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
           CAST(SUM(CASE WHEN vol IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing_vol,
           CAST(SUM(CAST(COALESCE(vol, 0) AS DECIMAL(38,6))) AS DOUBLE)
               AS sum_vol
    FROM (SELECT 'a' AS batch, p_retailprice AS price,
                 CAST(NULL AS DOUBLE) AS vol
          FROM part WHERE p_partkey % 2 = 0
          UNION ALL
          SELECT 'b' AS batch, p_retailprice AS price,
                 CAST(p_size AS DOUBLE) AS vol
          FROM part WHERE p_partkey % 2 = 1) t
    GROUP BY batch
    ORDER BY batch
    """,
    tags=("sources", "parquet", "schema-evolution"),
)
def source_schema_evolution_nested(spark, sf_dir):
    """Mirror of sqllogictest schema_evolution_nested.slt: parquet files
    written at different schema versions — a nested struct gaining a
    field — must read as one table, with the missing field NULL-filled
    for old files.  Batch 'a' writes info:{batch, price}; batch 'b'
    writes info:{batch, price, vol}.  spark.read.option("mergeSchema",
    "true") unions the struct fields exactly as the reference's schema
    adapter maps each file's physical schema onto the merged table
    schema.  The oracle derives the same rows from the base table (old
    rows' vol IS NULL), so the value hash proves NULL-filling and field
    alignment, not just rowcounts."""
    part = load_table(spark, sf_dir, "part")
    base = _sf_scratch(sf_dir, "nested_evolution")
    pa_, pb = os.path.join(base, "va"), os.path.join(base, "vb")
    if not os.path.exists(os.path.join(pa_, "_SUCCESS")):
        (part.filter(F.col("p_partkey") % 2 == 0)
             .select(F.struct(
                 F.lit("a").alias("batch"),
                 F.col("p_retailprice").alias("price")).alias("info"))
             .write.mode("overwrite").parquet(pa_))
    if not os.path.exists(os.path.join(pb, "_SUCCESS")):
        (part.filter(F.col("p_partkey") % 2 == 1)
             .select(F.struct(
                 F.lit("b").alias("batch"),
                 F.col("p_retailprice").alias("price"),
                 F.col("p_size").cast("double").alias("vol")).alias("info"))
             .write.mode("overwrite").parquet(pb))
    merged = spark.read.option("mergeSchema", "true").parquet(pa_, pb)
    return (
        merged.groupBy(F.col("info.batch").alias("batch")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("info.price").cast("decimal(38,6)"))
                .cast("double").alias("sum_price"),
            F.sum(F.when(F.col("info.vol").isNull(), 1).otherwise(0))
                .cast("bigint").alias("n_missing_vol"),
            F.sum(F.coalesce(F.col("info.vol"), F.lit(0.0))
                  .cast("decimal(38,6)")).cast("double").alias("sum_vol"),
        ).orderBy("batch")
    )


@query(
    "source_csv_mixed_multifile",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("sources", "csv", "multifile"),
)
def source_csv_mixed_multifile(spark, sf_dir):
    """Heterogeneous multi-file CSV listing, mirroring the reference's
    csv_files.slt multi-file cases (sqllogictest csv_files.slt: one
    external table over several CSV files, compressed and plain mixed in
    the same listing, schema declared once).  The entry splits customer
    into three CSV files in ONE directory — two plain, one gzip — and
    reads the directory back as a single table with an explicit schema
    (no inference double-read).  Spark's listing treats per-file codecs
    independently, decompressing by extension, exactly like the
    reference's per-file FileCompressionType; at 100 TB mixed-codec
    listings are the norm for append-over-years datasets.  The oracle
    recomputes from the canonical parquet, proving no row was lost or
    double-read across the file boundaries."""
    c = load_table(spark, sf_dir, "customer")
    base = _sf_scratch(sf_dir, "customer_mixed_csv")
    if not os.path.exists(os.path.join(base, "_DONE")):
        plain = c.filter(F.col("c_custkey") % 3 != 0)
        gz = c.filter(F.col("c_custkey") % 3 == 0)
        copy_to(plain.repartition(2), base, fmt="csv")
        # remove the marker files so only data files remain, then add a
        # gzip member to the same listing
        for f in os.listdir(base):
            if not f.endswith(".csv"):
                os.remove(os.path.join(base, f))
        gz_dir = base + "_gz_tmp"
        copy_to(gz.repartition(1), gz_dir, fmt="csv",
                options={"compression": "gzip"})
        import shutil

        for f in os.listdir(gz_dir):
            if f.endswith(".csv.gz"):
                shutil.move(os.path.join(gz_dir, f), os.path.join(base, f))
        shutil.rmtree(gz_dir)
        open(os.path.join(base, "_DONE"), "w").close()
    back = read_csv(
        spark,
        base,
        schema="c_custkey bigint, c_name string, c_nationkey bigint, "
        "c_acctbal double, c_mktsegment string",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
        .cast("double")
        .alias("bal"),
    )


@query(
    "source_dynamic_file_query",
    oracle="""
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(n_name) AS first_name
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("sources", "catalog", "slt"),
)
def source_dynamic_file_query(spark, sf_dir):
    """Query a file path directly with no registered table, mirroring the
    reference's dynamic_file.slt (sqllogictest: ``SELECT * FROM
    'data.parquet'`` resolves the string to a listing table on the fly).
    Spark spells it ``FROM parquet.`/path/file.parquet``` — same
    semantics: schema from the footer, full pushdown/pruning, zero
    catalog state.  The ad-hoc-exploration surface every pipeline debug
    session uses; the oracle reads the registered view of the same file,
    proving path-resolution changes nothing."""
    path = os.path.join(sf_dir, "nation.parquet")
    return spark.sql(
        f"""
        SELECT n_regionkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(n_name) AS first_name
        FROM parquet.`{path}`
        GROUP BY n_regionkey
        """
    )
