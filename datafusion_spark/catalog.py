"""Table catalog over the driver-generated parquet data.

DataFusion exposes tables through SessionContext::register_parquet /
register_listing_table (reference: datafusion/datasource-parquet/src/mod.rs,
datafusion/catalog-listing).  Spark-native equivalent: ``spark.read.parquet``
which gives us predicate pushdown, column pruning, partition pruning and
vectorized Arrow-compatible scans for free.

At 100 TB these tables would be directory-partitioned (e.g. orders by
o_orderdate month); ``spark.read.parquet`` on a directory picks up hive-style
partition columns automatically, so nothing here changes — only the paths do.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def tables_in(text: str, names=TABLES) -> tuple[str, ...]:
    """The ``names`` that SQL ``text`` mentions as whole words, in any
    case: the base-table views it may read (a false positive only binds an
    extra view)."""
    return tuple(t for t in names if re.search(rf"\b{t}\b", text, re.I))


# Small dimension tables that should always be broadcast in joins.  At 100 TB
# region/nation stay tiny (fixed cardinality); supplier/part/customer grow but
# remain orders of magnitude smaller than the fact tables.
BROADCAST_TABLES = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Sessions already given runtime knobs (keyed by applicationId): the driver
# may call queries() on a session built WITHOUT session.tune() — Spark's
# 200-partition default then pays 6x task overhead per shuffle at sf0.01.
_TUNED: set[str] = set()

# id(SparkContext) -> (that SparkContext, its applicationId).
_APP_IDS: dict[int, tuple[object, str]] = {}


def app_id(spark: SparkSession) -> str:
    """``spark``'s applicationId, asked of the JVM once per SparkContext:
    the property sends two gateway commands on every read, and the caches
    below are keyed by it on every call.  The context is held, so its id()
    is never reused."""
    sc = spark.sparkContext
    hit = _APP_IDS.get(id(sc))
    if hit is None or hit[0] is not sc:
        hit = _APP_IDS[id(sc)] = (sc, sc.applicationId)
    return hit[1]


def ensure_runtime_tuned(spark: SparkSession) -> None:
    """Apply the runtime-settable engine defaults once per session.

    Only knobs still at their Spark defaults are touched (a session built
    via session.tune() or deliberately configured by the caller is
    respected).  Session time zone is pinned UTC unconditionally: event-time
    semantics here define timestamps as epoch-UTC wall values, and a
    non-UTC session would shift them when NTZ parquet is reinterpreted as
    TIMESTAMP (see load_table's events path)."""
    app = app_id(spark)
    if app in _TUNED:
        return
    _TUNED.add(app)
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    if conf.get("spark.sql.shuffle.partitions", "200") == "200":
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        conf.set("spark.sql.shuffle.partitions", cpus)
    # AQE + partition coalescing default to "true" since Spark 3.2 — setting
    # them is a no-op UNLESS the caller deliberately disabled them, so guard
    # exactly like shuffle.partitions above: a non-default ("false") value is
    # a caller decision and is respected.
    for knob in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
    ):
        if conf.get(knob, "true") == "true":
            conf.set(knob, "true")
    # Estimate correction for compressed parquet (see session.py): only
    # applied if still at the 1.0 default, so a deliberate caller value wins.
    if conf.get("spark.sql.sources.fileCompressionFactor", "1.0") == "1.0":
        conf.set("spark.sql.sources.fileCompressionFactor", "6.0")
    # Not here: spark.python.sql.dataFrameDebugging.enabled (see
    # session.py) is a static conf, so a live session rejects the set.


def repo_root() -> str:
    """The checkout's root: persisted artifacts live under its
    ``spark-warehouse/``."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Resolved base-table relations per (applicationId, sf_dir, table,
# mtime_ns, the file scanned).  Creating a parquet relation costs ~0.15-0.4 s
# of DRIVER work per call even warm (py4j + file listing + a footer-read
# schema-inference job) — measured r12; a whole bench run pays it hundreds
# of times.  Caching the resolved DataFrame is the DataFrame-path twin of
# register_views()' per-session view cache (and of DataFusion's
# register_parquet, which lists once at registration): pure plan/metadata
# reuse — every execution still scans the parquet files.  The path's
# mtime_ns keys the entry so a regenerated table (make_scale_data
# overwriting a scratch sf_dir mid-session) is re-resolved, never served
# from a stale file index; the file scanned keys it so a split-count change
# (another maxPartitionBytes or openCostInBytes) reads the copy cut for it.
_RELATION_CACHE: dict[tuple, DataFrame] = {}
# The file each (applicationId, sf_dir, table, mtime_ns) scans, with the
# conf generation it was chosen under (_split_path reads the SQL conf).
_SCANNED: dict[tuple[str, str, str, int], tuple[int, str]] = {}
# applicationId -> [session, its SQL conf, the conf map last read, generation]
_CONF_STATE: dict[str, list] = {}


def conf_generation(spark: SparkSession) -> int:
    """A count that moves whenever ``spark``'s session or its SQL conf map
    (compared by value, in the JVM) changed since the previous call: two
    gateway commands.  Caches of what a conf decides key on it."""
    app, js = app_id(spark), spark._jsparkSession
    st = _CONF_STATE.get(app)
    if st is None or st[0] is not js:
        gen = st[3] + 1 if st else 0
        st = _CONF_STATE[app] = [js, js.sessionState().conf(), None, gen]
    confs = st[1].getAllConfs()
    if st[2] is None or not confs.equals(st[2]):
        st[2] = confs
        st[3] += 1
    return st[3]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Filters/projections compose onto this scan and reach
    the parquet reader via Catalyst (check .explain: PushedFilters/ReadSchema)."""
    ensure_runtime_tuned(spark)
    return _load(spark, sf_dir, name, conf_generation(spark))


def _load(spark: SparkSession, sf_dir: str, name: str, gen: int) -> DataFrame:
    """load_table under conf generation ``gen``: the split path is chosen
    again only when the conf moved, the relation read again only when the
    file to scan changed."""
    key = (app_id(spark), sf_dir, name, _mtime_ns(sf_dir, name))
    scanned = _SCANNED.get(key)
    if scanned is None or scanned[0] != gen:
        scanned = _SCANNED[key] = (gen, _split_path(spark, sf_dir, name))
    cached = _RELATION_CACHE.get(key + (scanned[1],))
    if cached is None:
        cached = _RELATION_CACHE[key + (scanned[1],)] = _read_table(
            spark, sf_dir, name)
    return cached


def _mtime_ns(sf_dir: str, name: str) -> int:
    """The table file's mtime; -1 for a missing path (spark.read raises
    its own error)."""
    try:
        return os.stat(table_path(sf_dir, name)).st_mtime_ns
    except OSError:
        return -1


def cached_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Resolved-relation cache for persisted parquet ARTIFACT path(s) (index
    segments, codes, trained-model tables): same metadata-only reuse as
    load_table — the ~0.15-0.4 s of driver-side listing + footer schema
    inference per spark.read.parquet call — keyed by each path's mtime_ns
    so any rewrite re-resolves.  Execution still scans the parquet files
    fresh on every action.  Use only for artifacts that are stable within
    a session — per-invocation scratch (fresh directory each call) gains
    nothing and would grow the cache."""
    def _mt(p: str) -> int:
        try:
            return os.stat(p).st_mtime_ns
        except OSError:
            return -1
    key = (app_id(spark), "", tuple((p, _mt(p)) for p in paths))
    cached = _RELATION_CACHE.get(key)
    if cached is None:
        cached = spark.read.parquet(*paths)
        _RELATION_CACHE[key] = cached
    return cached


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = _split_path(spark, sf_dir, name)
    if name == "events":
        # events.ts has shipped as either parquet TIMESTAMP(NANOS) (which
        # Spark's vectorized reader rejects outright) or TIMESTAMP(MICROS)
        # depending on the generator version.  Read with nanosAsLong so the
        # nanos variant arrives as a raw long, then convert only if needed —
        # the values are microsecond-resolution so ns→us division is lossless.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Event-time semantics assume epoch-UTC wall values; force the session
        # tz so NTZ→LTZ reinterpretation below is value-preserving no matter
        # how the session was built (a non-UTC session would silently shift
        # event times).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # Read micros-NTZ parquet directly as TIMESTAMP (LTZ): same epoch
        # micros bit-for-bit under a UTC session, but WITHOUT a conversion
        # projection over the scan — so ts predicates (window pruning, time
        # filters) reach the parquet reader as PushedFilters.  The previous
        # cast-based shim blocked pushdown on every events query, which at
        # 100 TB means a full scan for any time-sliced query.  The setting
        # only steers schema inference, so it is restored after this read:
        # left at false, it would give every table read later LTZ dates.
        from pyspark.sql import functions as F

        key = "spark.sql.parquet.inferTimestampNTZ.enabled"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            df = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def _scan_splits(spark: SparkSession, file_bytes: int) -> int:
    """Splits Spark cuts one file of ``file_bytes`` into, as
    ``FilePartition.maxSplitBytes`` sizes them for a single-file scan."""
    conf = spark.conf
    as_bytes = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    max_bytes = as_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = as_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    min_parts = conf.get("spark.sql.files.minPartitionNum", None)
    if min_parts is None:
        min_parts = conf.get("spark.sql.leafNodeDefaultParallelism", None)
    parts = int(min_parts or spark.sparkContext.defaultParallelism)
    split = min(max_bytes, max(open_cost, (file_bytes + open_cost) // parts))
    return math.ceil(file_bytes / split)


def _split_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The file to scan for one table: the source, or a row-group-aligned
    copy when the source has fewer row groups than Spark has splits.

    A parquet split reads only the row groups whose midpoint falls inside
    it, so a single-row-group file of three splits runs as one busy task
    and two empty ones (sf0.1 lineitem: one task reads all 600k rows).  The
    copy has the same rows, order, schema and codec, one row group per
    split, and is written once under ``spark-warehouse/derived_splits/
    <sf_dir basename>/<source mtime_ns>/<splits>/``: a copy cut for another
    split count (written under another conf or core count) is never read,
    since a split holding two row groups runs as one task of double length.
    Files under the open cost (4 MB) stay one split and are never copied;
    writer-sized row groups (every table at 100 TB) already cover their
    splits, and directories are left to Spark."""
    src = table_path(sf_dir, name)
    try:
        st = os.stat(src)
    except OSError:
        return src  # missing or unreadable: let spark.read raise
    if not os.path.isfile(src):
        return src
    splits = _scan_splits(spark, st.st_size)
    if splits < 2:
        return src
    import pyarrow.parquet as pq

    try:
        src_md = pq.ParquetFile(src).metadata
    except (OSError, ValueError):
        return src  # not readable as parquet here: let spark.read decide
    splits = min(splits, src_md.num_rows)  # a row group holds a row at least
    if src_md.num_row_groups >= splits:
        return src
    out = os.path.join(repo_root(), "spark-warehouse", "derived_splits",
                       os.path.basename(os.path.normpath(sf_dir)),
                       str(st.st_mtime_ns), str(splits), f"{name}.parquet")
    try:
        copy_md = pq.ParquetFile(out).metadata
    except (OSError, ValueError):
        copy_md = None
    if copy_md is None or copy_md.num_row_groups != splits:
        try:
            _write_row_groups(src, out, splits)
            copy_md = pq.ParquetFile(out).metadata
        except (OSError, ValueError):
            return src  # e.g. a read-only checkout: scan the source
    return out if _same_layout(src_md, copy_md) else src


def _write_row_groups(src: str, out: str, groups: int) -> None:
    """Rewrite ``src`` to ``out`` as ``groups`` row groups (at most its row
    count) of equal size to one row, same schema, order and codec;
    streamed one batch at a time, published atomically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(src)
    md = pf.metadata
    rows = md.num_rows
    sizes = [(i + 1) * rows // groups - i * rows // groups for i in range(groups)]
    codec = md.row_group(0).column(0).compression if md.num_row_groups else "NONE"
    codec = "NONE" if codec == "UNCOMPRESSED" else codec
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    try:
        with pq.ParquetWriter(tmp, pf.schema_arrow, compression=codec,
                              version=md.format_version) as writer:
            held = None
            for batch in pf.iter_batches(batch_size=max(sizes)):
                part = pa.Table.from_batches([batch])
                held = part if held is None else pa.concat_tables([held, part])
                while sizes and held.num_rows >= sizes[0]:
                    writer.write_table(held.slice(0, sizes[0]), row_group_size=sizes[0])
                    held = held.slice(sizes.pop(0))
        os.replace(tmp, out)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _same_layout(a, b) -> bool:
    """Same rows, physical schema and codecs in two parquet footers."""
    def codecs(md):
        return {md.row_group(r).column(c).compression
                for r in range(md.num_row_groups) for c in range(md.num_columns)}
    return (a.num_rows == b.num_rows and a.schema.equals(b.schema)
            and codecs(a) == codecs(b))


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    """load_table of each of ``names`` (default: all), by name: one conf
    check for all of them."""
    ensure_runtime_tuned(spark)
    gen = conf_generation(spark)
    return {name: _load(spark, sf_dir, name, gen) for name in names}


# Temp views per session: applicationId -> {view name: the DataFrame bound
# to it}.  bind_views() skips every name already bound to that very
# DataFrame, and load_table/cached_parquet return one DataFrame per table
# file as it is now, so an unchanged view costs no gateway command:
# per-call re-registration was the dominant fixed cost of spark.sql
# entries in bench (10 parquet opens per call).
_VIEW_STATE: dict[str, dict[str, DataFrame]] = {}


def bind_views(spark: SparkSession, views: dict[str, DataFrame]) -> None:
    """Register each DataFrame of ``views`` as a temp view under its name,
    unless the name is already bound to that DataFrame.  Anything that
    replaces a bound view behind this binder must call invalidate_views()
    so the next caller re-binds."""
    bound = _VIEW_STATE.setdefault(app_id(spark), {})
    for name, df in views.items():
        if bound.get(name) is not df:
            df.createOrReplaceTempView(name)
            bound[name] = df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    """Register base tables ``names`` (default: all) as temp views so
    spark.sql(...) can see them — the equivalent of DataFusion's
    SessionContext::register_table — and return them by name.  A name
    whose view already reads this table file as it is now is skipped."""
    views = load_tables(spark, sf_dir, names)
    bind_views(spark, views)
    return views


def invalidate_views(spark: SparkSession) -> None:
    """Forget this session's view state (e.g. a caller registered an
    arbitrary DataFrame under a bound name)."""
    _VIEW_STATE.pop(app_id(spark), None)
