"""Similarity search over the `embeddings` table (array<float>, dim 64).

Operators:
  - brute-force cosine top-k (the exactness baseline)
  - threshold near-duplicate pairs (within-label candidate stratification)
  - random-hyperplane LSH bucketing (the sub-linear scale path)
  - IVF-style coarse assignment to per-label centroids

Exactness: dot products fold per-element products through DECIMAL(25,10)
(associative, engine-independent); cosine divides the exact dots in
double.  The LSH hyperplanes are ±1 matrices generated by a fixed LCG at
import time and embedded as literals in BOTH the Spark plan and the
oracle SQL, so both engines hash with identical planes.

Scale: top-k against a 10^9-vector corpus is a broadcast of the (few)
query vectors + a single scan with per-partition top-k (window rn<=k
after AQE); LSH bucketing replaces the scan with an equi-join on bucket
ids; IVF assignment is a broadcast join against ncentroids rows.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_spark.catalog import cached_parquet, load_table, repo_root
from datafusion_spark.queries.helpers import fan_out
from datafusion_spark.queries.registry import query
from datafusion_spark.queries.helpers import values_df

N_PLANES = 8
DIM = 64


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # fan_out: the per-row work here (64-dim folds, tokenization, regex)
    # is CPU-bound and the test files are single-split — spread it; no-op
    # when the input already has enough partitions (real scale).
    return fan_out(load_table(spark, sf_dir, name))


def _tq(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Query-side scan (a handful of rows selected by vec_id): NO fan_out.
    Spreading ≤10 rows over the session's parallelism adds an exchange and
    a stage boundary for zero compute benefit at any scale — the heavy
    per-row folds all happen on the corpus/candidate side, which keeps its
    fan_out (r12 §2.4: remove shuffles outright)."""
    return load_table(spark, sf_dir, name)


def _lcg_planes(n: int = N_PLANES, d: int = DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplanes (LCG, fixed seed; bit 16 avoids the
    low-bit cycling of power-of-two LCGs)."""
    x = 1234567
    planes = []
    for _ in range(n):
        row = []
        for _ in range(d):
            x = (x * 1103515245 + 12345) % (1 << 31)
            row.append(1 if (x >> 16) & 1 else -1)
        planes.append(row)
    return planes


PLANES = _lcg_planes()

# --- exact helpers (Spark side) -------------------------------------------


def dot_decimal(a: Column, b: Column) -> Column:
    """Deterministic dot product: sequential left-fold of exact per-element
    double products.  Spark's aggregate() and DuckDB's list_reduce() fold in
    identical order with identical IEEE ops → bit-equal results (0.0 + x is
    exact, so the seeded fold equals an unseeded reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm2_decimal(a: Column) -> Column:
    return dot_decimal(a, a)


def cosine(dot: Column, na: Column, nb: Column) -> Column:
    return dot / F.sqrt(na * nb)


# --- expr-built fold helpers (r12 §12: driver plan-construction cost) -----
#
# The lambda-based builders above cost ~110 ms of py4j round-trips PER
# cosine expression (cProfile: ~30 gateway calls to assemble the three
# aggregate/zip_with folds and their six lambdas; an F.expr parse is ONE
# call at ~1 ms).  The serve entries build 1-3 of them on every
# invocation, so plan construction was 30-45% of their wall time at
# sf0.1 — and pure driver latency at any scale.  These parse the SAME
# expression text the lambdas assemble: the optimized tree is identical
# modulo expression IDs and lambda variable names, so results are
# bit-equal (pinned in test_operators.py).  They take SQL identifiers,
# not Columns — only usable where the frame's column names are
# unambiguous, which every converted call site is; sites with literal or
# composite operands (LSH planes, k-means training, PQ codebook builds)
# keep the Column spelling.

_DOT_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_L2SQ_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)

# The helpers interpolate identifiers into SQL text; restrict them to plain
# lowercase names so a future caller can't mis-parse or inject (r12 ADVICE).
_SIMPLE_IDENT = re.compile(r"^[a-z_][a-z0-9_]*$")


def _ident(name: str) -> str:
    assert _SIMPLE_IDENT.match(name), f"not a simple identifier: {name!r}"
    return name


def cos_expr(a: str, b: str) -> Column:
    """cosine(dot_decimal(a,b), norm2_decimal(a), norm2_decimal(b)) parsed
    in ONE gateway call; bit-equal to the Column spelling."""
    a, b = _ident(a), _ident(b)
    return F.expr(
        f"({_DOT_EXPR.format(a=a, b=b)}) / "
        f"SQRT(({_DOT_EXPR.format(a=a, b=a)}) * ({_DOT_EXPR.format(a=b, b=b)}))"
    )


def l2sq_expr(a: str, b: str) -> Column:
    """Sequential L2-squared fold, identical to the lambda spelling the
    PQ/ADC serve paths used.  Both inputs MUST already be array<double>
    (every call site casts upstream): there are deliberately no element
    casts, so an array<float> operand would compute in float and diverge
    from the oracle — pass the cast column, not the raw embedding."""
    return F.expr(_L2SQ_EXPR.format(a=_ident(a), b=_ident(b)))


# --- exact helpers (DuckDB side) ------------------------------------------

SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)


def sql_dot(a: str, b: str) -> str:
    return SQL_DOT.format(a=a, b=b)


def sql_cos(dot: str, na: str, nb: str) -> str:
    return f"({dot}) / sqrt(({na}) * ({nb}))"


@query(
    "similarity_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT qid, e.vec_id,
             {sql_cos(sql_dot('qe', 'e.embedding'),
                      sql_dot('qe', 'qe'),
                      sql_dot('e.embedding', 'e.embedding'))} AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> qid
    )
    SELECT qid, vec_id, cos_sim
    FROM (SELECT qid, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored) t
    WHERE rn <= 10
    """,
    tags=("pipeline", "similarity", "bench"),
)
def similarity_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors.  The query side is
    broadcast; the corpus is scanned once; top-k is a per-query window."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _tq(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    joined = F.broadcast(q).crossJoin(emb.select("vec_id", "embedding")).filter(
        F.col("vec_id") != F.col("qid")
    )
    cos = cos_expr("qe", "embedding")
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        joined.select("qid", "vec_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id", F.col("cos_sim").alias("cos_sim"))
    )


@query(
    "similarity_neardup_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_cos(sql_dot('a.embedding', 'b.embedding'),
                    sql_dot('a.embedding', 'a.embedding'),
                    sql_dot('b.embedding', 'b.embedding'))} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {sql_cos(sql_dot('a.embedding', 'b.embedding'),
                   sql_dot('a.embedding', 'a.embedding'),
                   sql_dot('b.embedding', 'b.embedding'))} >= 0.35
    """,
    tags=("pipeline", "similarity", "dedup"),
)
def similarity_neardup_pairs(spark, sf_dir):
    """Embedding near-duplicates: cosine >= 0.35 within the same label —
    label stratification is the candidate-bounding step (at scale the
    stratum would be an LSH bucket, below)."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("la"), F.col("embedding").alias("ea")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"), F.col("embedding").alias("eb")
    )
    cos = cos_expr("ea", "eb")
    return (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.35)
        .select("vec_a", "vec_b", F.col("cos_sim").alias("cos_sim"))
    )


def _sql_plane_literal(plane: list[int]) -> str:
    return "[" + ", ".join(f"{v}.0" for v in plane) + "]"


@query(
    "similarity_lsh_buckets",
    oracle=f"""
    SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
    FROM (
      SELECT vec_id,
             CAST({" + ".join(
                 f"(CASE WHEN ({sql_dot('embedding', _sql_plane_literal(PLANES[i]))}) > 0 THEN {1 << i} ELSE 0 END)"
                 for i in range(N_PLANES)
             )} AS BIGINT) AS bucket
      FROM embeddings) t
    GROUP BY bucket
    """,
    tags=("pipeline", "similarity", "lsh"),
)
def similarity_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH: 8-bit signature = sign pattern of dot
    products with fixed ±1 planes.  At scale: the signature is computed in
    the scan projection (no shuffle), and ANN search becomes an equi-join
    on bucket — O(n) instead of O(n²)."""
    emb = _t(spark, sf_dir, "embeddings")
    bucket = None
    for i in range(N_PLANES):
        plane = F.array(*[F.lit(float(v)) for v in PLANES[i]])
        bit = F.when(dot_decimal(F.col("embedding"), plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return (
        emb.select("vec_id", bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


_KM_K = 8
_KM_ITERS = 2
_NPROBE = 4

# Trained-centroid cache: the k×dim model is tiny and deterministic
# (quantized means → engine-independent), so collect it once per
# (session, sf_dir) and rebuild a literal DataFrame for broadcast — the
# same materialize-the-model step MLlib's KMeansModel performs.  Without
# this every IVF entry re-runs the full training chain.
_CENTROID_CACHE: dict[tuple[str, str], list] = {}

# Analyzed-literal cache (r12): values_df() re-PARSES the model's VALUES
# text on every reference — ~0.4-0.6 s for the 1024-row PQ codebook, paid
# once per index reference per run.  The rows are an immutable trained
# artifact, so the LocalRelation DataFrame they analyze to is reused per
# (applicationId, sf, flavor); every downstream query still recomputes
# from the literal + parquet inputs (nothing result-shaped is cached).
_MODEL_DF_CACHE: dict[tuple, "DataFrame"] = {}


def _train_kmeans(spark, sf_dir, k: int = _KM_K, iters: int = _KM_ITERS):
    """DataFrame-native Lloyd's: deterministic init (first k vectors), exact
    floor(v·2³⁰)-quantized means so Spark and DuckDB agree bit-for-bit.
    Per round: broadcast k centroids → argmin-L2 assign (one scan, no
    shuffle) → per-(cluster,dim) mean (one keyed shuffle of k·dim rows)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("c")
    )
    for _ in range(iters):
        j = emb.crossJoin(F.broadcast(cents))
        d = F.aggregate(
            F.zip_with(F.col("e"), F.col("c"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), "c_id")
        assigned = (
            j.withColumn("dist", d)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_id", "e")
        )
        elems = assigned.select(
            "c_id", F.posexplode("e").alias("idx0", "v")
        ).select("c_id", (F.col("idx0") + 1).alias("idx"), "v")
        means = elems.groupBy("c_id", "idx").agg(
            (
                F.sum(F.floor(F.col("v") * 1073741824.0).cast("long")).cast("double")
                / (F.count(F.lit(1)) * 1073741824.0)
            ).alias("mv")
        )
        cents = (
            means.groupBy("c_id")
            .agg(F.array_sort(F.collect_list(F.struct("idx", "mv"))).alias("pairs"))
            .select(
                "c_id", F.transform("pairs", lambda p: p.getField("mv")).alias("c")
            )
        )
    return cents


def _model_rows(dest: str, train):
    """Load tiny trained-model rows from disk, or train and persist them.

    Like FAISS, the trained quantizer is an index ARTIFACT: k×dim (or
    M×K×D) doubles, persisted under spark-warehouse/derived_ann keyed by
    (sf, config) so a FRESH session — every bench round, driver sweep and
    oracle check — skips Lloyd entirely and only the first-ever run pays
    training.  JSON round-trips IEEE doubles exactly (repr-based), and
    concurrent writers race benignly (pid-suffixed temp + first atomic
    rename wins, as for the PQ code parquet).  The file name is keyed by
    (sf, model config) — a training-CODE change must bump the config or
    delete spark-warehouse/derived_ann; similarity_kmeans_train remains
    the uncached canary that re-verifies the trainer itself every run."""
    import json as _json

    if os.path.isfile(dest):
        with open(dest) as f:
            return [tuple(r) for r in _json.load(f)]
    rows = train()
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    tmp = f"{dest}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        _json.dump(rows, f)
    try:
        os.rename(tmp, dest)
    except OSError:
        os.unlink(tmp)
    return rows


def _centroids(spark, sf_dir):
    """LEARNED k-means centroids (c_label, centroid) for the IVF index —
    round 1 used per-label means, which on this unclustered corpus gave
    recall@5 of 0.16; the trained quantizer reaches 0.80 at nprobe=4
    (tools/recall_report.py)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CENTROID_CACHE:
        dest = os.path.join(
            repo_root(), "spark-warehouse", "derived_ann",
            os.path.basename(sf_dir.rstrip("/")),
            f"kmeans_k{_KM_K}i{_KM_ITERS}.json",
        )
        _CENTROID_CACHE[key] = _model_rows(
            dest,
            lambda: [
                (int(r["c_id"]), [float(v) for v in r["c"]])
                for r in _train_kmeans(spark, sf_dir).collect()
            ],
        )
    if key not in _MODEL_DF_CACHE:
        _MODEL_DF_CACHE[key] = values_df(
            spark, _CENTROID_CACHE[key], "c_label bigint, centroid array<double>"
        )
    return _MODEL_DF_CACHE[key]


def _sql_l2sq(a: str, b: str) -> str:
    diff = "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> {diff} * {diff}), (x, y) -> x + y)"
    )


def _sql_kmeans_ctes(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """Unrolled Lloyd's iterations as chained CTEs ending in cents{iters} —
    the DuckDB mirror of _train_kmeans (same init, same quantized means)."""
    sql = f"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents0 AS (SELECT vec_id AS c_id, e AS c FROM emb WHERE vec_id < {k})"""
    for i in range(iters):
        sql += f""",
    assign{i} AS (
      SELECT vec_id, c_id, e FROM (
        SELECT emb.vec_id, cents{i}.c_id, emb.e,
               ROW_NUMBER() OVER (PARTITION BY emb.vec_id ORDER BY
                 {_sql_l2sq('emb.e', f'cents{i}.c')} ASC, cents{i}.c_id) AS rn
        FROM emb CROSS JOIN cents{i}) t WHERE rn = 1
    ),
    elems{i} AS (
      SELECT c_id, CAST(unnest(e) AS DOUBLE) AS v,
             generate_subscripts(e, 1) AS idx
      FROM assign{i}
    ),
    cents{i + 1} AS (
      SELECT c_id, list(mv ORDER BY idx) AS c FROM (
        SELECT c_id, idx,
               CAST(SUM(CAST(FLOOR(v * 1073741824.0) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*) * 1073741824.0) AS mv
        FROM elems{i} GROUP BY c_id, idx) m
      GROUP BY c_id
    )"""
    return sql


# kmeans chain + a `centroids(c_label, centroid)` alias — the shared prefix
# of every IVF oracle below.
_SQL_CENTROIDS = (
    _sql_kmeans_ctes()
    + f""",
    centroids AS (SELECT c_id AS c_label, c AS centroid FROM cents{_KM_ITERS})"""
)


@query(
    "similarity_ivf_assign",
    oracle=f"""
    WITH {_SQL_CENTROIDS},
    scored AS (
      SELECT e.vec_id, e.label AS true_label, c.c_label,
             {sql_cos(sql_dot('e.embedding', 'c.centroid'),
                      sql_dot('e.embedding', 'e.embedding'),
                      sql_dot('c.centroid', 'c.centroid'))} AS cos_sim
      FROM embeddings e CROSS JOIN centroids c
    )
    SELECT vec_id, true_label, c_label AS assigned_label,
           cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY cos_sim DESC, c_label) AS rn
          FROM scored) t
    WHERE rn = 1
    """,
    tags=("pipeline", "similarity", "ivf"),
)
def similarity_ivf_assign(spark, sf_dir):
    """IVF coarse quantization with LEARNED (k-means, k=8) centroids, each
    vector assigned to its nearest centroid by cosine.  Centroids are tiny →
    broadcast; assignment is one scan.  This is the partition-pruning
    structure an IVF ANN index uses at 100 TB.

    The per-vector argmax is a max_by aggregation, not a window (r12,
    guide §2.3/§2.4): the k scored rows of each vector come out of the
    same crossJoin task, so the map-side partial aggregate collapses them
    to ONE row per vector before the exchange — k× fewer shuffled bytes
    and no sort, where the window spelling shuffled all corpus×k rows and
    sorted them.  Tie-break matches the window's (cos DESC, c_label ASC)
    exactly: the ordering struct (cos_sim, -c_label) is unique per vector,
    so the result is deterministic and row-identical.

    Grouped by vec_id ALONE (r13, guide §2.4 "share one exchange"):
    true_label is functionally dependent on vec_id and rides in the
    max_by struct, so the aggregation exchange is hashpartitioning(vec_id)
    — the partitioning every consumer joins on.  The old (vec_id,
    true_label) grouping forced a SECOND vec_id exchange in every
    downstream equi-join (rerank/ivfpq/filtered/residual).  Interleaved
    A/B at sf0.1, rows identical: assign 0.52→0.43, ivfpq 1.11→0.95,
    filtered 0.92→0.81, rerank 1.34→1.31 (mins)."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _centroids(spark, sf_dir)
    scored = emb.select(
        "vec_id", F.col("label").alias("true_label"), "embedding"
    ).crossJoin(F.broadcast(centroids))
    cos = cos_expr("embedding", "centroid")
    best = F.max_by(
        F.struct(
            F.col("true_label").alias("true_label"),
            F.col("c_label").alias("assigned_label"),
            F.col("cos_sim").alias("cos_sim"),
        ),
        F.struct(F.col("cos_sim").alias("s"), (-F.col("c_label")).alias("nl")),
    ).alias("best")
    return (
        scored.withColumn("cos_sim", cos)
        .groupBy("vec_id")
        .agg(best)
        .select(
            "vec_id",
            F.col("best.true_label").alias("true_label"),
            F.col("best.assigned_label").alias("assigned_label"),
            F.col("best.cos_sim").alias("cos_sim"),
        )
    )


_SQL_IVF_ASSIGNED = f"""
    {_SQL_CENTROIDS},
    assigned AS (
      SELECT vec_id, c_label AS cluster
      FROM (
        SELECT e.vec_id, c.c_label,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 {sql_cos(sql_dot('e.embedding', 'c.centroid'),
                          sql_dot('e.embedding', 'e.embedding'),
                          sql_dot('c.centroid', 'c.centroid'))} DESC, c.c_label) AS rn
        FROM embeddings e CROSS JOIN centroids c) t
      WHERE rn = 1
    )
"""


# Shared by similarity_ivf_topk and similarity_ivf_ingest_delta: the
# segmented (seg0 + delta) persisted-lists serve must equal the
# monolithic on-the-fly IVF probe row-for-row — byte-identical oracle
# text makes the driver prove it.
_IVF_TOPK_ORACLE = f"""
    WITH {_SQL_IVF_ASSIGNED},
    q AS (
      SELECT e.vec_id AS qid, e.embedding AS qe, a.cluster AS q_cluster
      FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
      WHERE e.vec_id < 5
    ),
    cands AS (
      SELECT e.vec_id, e.embedding, a.cluster
      FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
    ),
    scored AS (
      SELECT q.qid, c.vec_id,
             {sql_cos(sql_dot('q.qe', 'c.embedding'),
                      sql_dot('q.qe', 'q.qe'),
                      sql_dot('c.embedding', 'c.embedding'))} AS cos_sim
      FROM q JOIN cands c ON c.cluster = q.q_cluster AND c.vec_id <> q.qid
    )
    SELECT qid, vec_id, cos_sim
    FROM (SELECT qid, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored) t
    WHERE rn <= 5
    """


@query(
    "similarity_ivf_topk",
    oracle=_IVF_TOPK_ORACLE,
    tags=("pipeline", "similarity", "ivf"),
)
def similarity_ivf_topk(spark, sf_dir):
    """Query-time IVF ANN search (nprobe=1): each query probes only its
    nearest centroid's inverted list instead of the full corpus — the scan
    shrinks by ~n_clusters×, which is the entire point of IVF at 10^9
    vectors.  Candidates within the probed cluster are scored exactly.
    (Recall vs similarity_cosine_topk measures the nprobe=1 tradeoff.)"""
    assign = similarity_ivf_assign(spark, sf_dir).select(
        "vec_id", F.col("assigned_label").alias("cluster")
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    with_cluster = emb.join(assign, "vec_id")
    q = (
        with_cluster.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("cluster").alias("q_cluster"),
        )
    )
    cands = with_cluster.select("vec_id", "embedding", "cluster")
    joined = F.broadcast(q).join(
        cands,
        (F.col("cluster") == F.col("q_cluster")) & (F.col("vec_id") != F.col("qid")),
    )
    cos = cos_expr("qe", "embedding")
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        joined.select("qid", "vec_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "cos_sim")
    )

@query(
    "similarity_ivf_topk_multiprobe",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGNED},
    q AS (
      SELECT e.vec_id AS qid, e.embedding AS qe FROM embeddings e
      WHERE e.vec_id < 5
    ),
    probes AS (
      SELECT qid, c_label AS probe_cluster
      FROM (
        SELECT q.qid, c.c_label,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {sql_cos(sql_dot('q.qe', 'c.centroid'),
                          sql_dot('q.qe', 'q.qe'),
                          sql_dot('c.centroid', 'c.centroid'))} DESC, c.c_label) AS rn
        FROM q CROSS JOIN centroids c) t
      WHERE rn <= {_NPROBE}
    ),
    cands AS (
      SELECT e.vec_id, e.embedding, a.cluster
      FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
    ),
    scored AS (
      SELECT q.qid, c.vec_id,
             {sql_cos(sql_dot('q.qe', 'c.embedding'),
                      sql_dot('q.qe', 'q.qe'),
                      sql_dot('c.embedding', 'c.embedding'))} AS cos_sim
      FROM q JOIN probes p ON p.qid = q.qid
             JOIN cands c ON c.cluster = p.probe_cluster AND c.vec_id <> q.qid
    )
    SELECT qid, vec_id, cos_sim
    FROM (SELECT qid, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored) t
    WHERE rn <= 5
    """,
    tags=("pipeline", "similarity", "ivf"),
)
def similarity_ivf_topk_multiprobe(spark, sf_dir):
    """IVF ANN with nprobe=4 over the learned k=8 quantizer — the standard
    recall/latency knob (recall gap of low nprobe comes from queries near a
    Voronoi boundary; probing runner-up clusters recovers it).  Measured
    recall@5 = 0.80 scanning ~50% of the corpus (tools/recall_report.py):
    this synthetic corpus is near-uniform on the sphere, so that ~2× prune
    is the honest information-theoretic limit — on real clustered
    embeddings the identical plan prunes ~n_clusters/nprobe ≈ 10-100×.

    Plan shape: centroids (tiny) broadcast to pick probe clusters; the
    candidate join is an equi-join on cluster id; per-query top-k is a
    bounded window."""
    assign = similarity_ivf_assign(spark, sf_dir).select(
        "vec_id", F.col("assigned_label").alias("cluster")
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _centroids(spark, sf_dir)
    q = _tq(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    qc = F.broadcast(q).crossJoin(F.broadcast(cents))
    probe_cos = cos_expr("qe", "centroid")
    wp = Window.partitionBy("qid").orderBy(F.col("probe_sim").desc(), "c_label")
    probes = (
        qc.select("qid", "qe", "c_label", probe_cos.alias("probe_sim"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _NPROBE)
        .select("qid", "qe", F.col("c_label").alias("probe_cluster"))
    )
    cands = emb.join(assign, "vec_id")
    joined = F.broadcast(probes).join(
        cands,
        (F.col("cluster") == F.col("probe_cluster")) & (F.col("vec_id") != F.col("qid")),
    )
    cos = cos_expr("qe", "embedding")
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        joined.select("qid", "vec_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "cos_sim")
    )

@query(
    "similarity_ivf_filtered_topk",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGNED},
    q AS (
      SELECT e.vec_id AS qid, e.embedding AS qe, e.label AS q_label
      FROM embeddings e WHERE e.vec_id < 10
    ),
    probes AS (
      SELECT qid, c_label AS probe_cluster
      FROM (
        SELECT q.qid, c.c_label,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {sql_cos(sql_dot('q.qe', 'c.centroid'),
                          sql_dot('q.qe', 'q.qe'),
                          sql_dot('c.centroid', 'c.centroid'))} DESC, c.c_label) AS rn
        FROM q CROSS JOIN centroids c) t
      WHERE rn <= {_NPROBE}
    ),
    cands AS (
      SELECT e.vec_id, e.embedding, e.label, a.cluster
      FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
    ),
    scored AS (
      SELECT q.qid, c.vec_id,
             {sql_cos(sql_dot('q.qe', 'c.embedding'),
                      sql_dot('q.qe', 'q.qe'),
                      sql_dot('c.embedding', 'c.embedding'))} AS cos_sim
      FROM q JOIN probes p ON p.qid = q.qid
             JOIN cands c ON c.cluster = p.probe_cluster
                         AND c.vec_id <> q.qid
                         AND c.label = q.q_label
    )
    SELECT qid, vec_id, cos_sim
    FROM (SELECT qid, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored) t
    WHERE rn <= 5
    """,
    tags=("pipeline", "similarity", "ivf", "filtered", "bench"),
)
def similarity_ivf_filtered_topk(spark, sf_dir):
    """FILTERED ANN: IVF multiprobe search where candidates must ALSO
    satisfy a per-query metadata predicate (here: share the query's
    `label` — the same-language / same-tenant retrieval constraint; the
    Qdrant/Weaviate "payload filter", FAISS IDSelector).  The predicate
    is evaluated IN the probed scan — post-filtering the IVF candidate
    stream — so the plan is the multiprobe equi-join with one extra
    conjunct, not a second pass: cluster pruning and the metadata filter
    compose in the same join.

    Production note at 10^9 vectors: post-filtering inside the probed
    cells is the right default for predicates of moderate selectivity
    (the candidate stream shrinks for free).  When the predicate is
    HIGHLY selective the probed cells may underfill k — the production
    knobs are (a) widen nprobe for filtered queries (recall guard, same
    plan shape) or (b) partition the stored corpus BY the filter column
    so partition pruning composes with IVF (then the filter prunes whole
    files before the cell scan; this is how the lakehouse layout beats a
    vector-DB sidecar at scale).  This entry keeps nprobe={_NPROBE} and
    documents the knob; recall vs the filtered brute-force is tracked by
    tools/recall_report.py the same way as the unfiltered family."""
    assign = similarity_ivf_assign(spark, sf_dir).select(
        "vec_id", F.col("assigned_label").alias("cluster")
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    cents = _centroids(spark, sf_dir)
    q = _tq(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("q_label"),
    )
    qc = F.broadcast(q).crossJoin(F.broadcast(cents))
    probe_cos = cos_expr("qe", "centroid")
    wp = Window.partitionBy("qid").orderBy(F.col("probe_sim").desc(), "c_label")
    probes = (
        qc.select("qid", "qe", "q_label", "c_label",
                  probe_cos.alias("probe_sim"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _NPROBE)
        .select("qid", "qe", "q_label", F.col("c_label").alias("probe_cluster"))
    )
    cands = emb.join(assign, "vec_id")
    joined = F.broadcast(probes).join(
        cands,
        (F.col("cluster") == F.col("probe_cluster"))
        & (F.col("vec_id") != F.col("qid"))
        & (F.col("label") == F.col("q_label")),
    )
    cos = cos_expr("qe", "embedding")
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        joined.select("qid", "vec_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "cos_sim")
    )


# --- k-means (Lloyd's) -----------------------------------------------------


@query(
    "similarity_kmeans_train",
    oracle=f"""
    WITH {_sql_kmeans_ctes()}
    SELECT c_id, CAST(idx AS INT) AS dim, v FROM (
      SELECT c_id, generate_subscripts(c, 1) AS idx,
             CAST(unnest(c) AS DOUBLE) AS v
      FROM cents{_KM_ITERS}) t
    """,
    tags=("pipeline", "similarity", "kmeans", "iterative"),
)
def similarity_kmeans_train(spark, sf_dir):
    """DataFrame-native k-means (Lloyd's, k=8): deterministic init (first k
    vectors), 2 update rounds, exact floor(v·2³⁰)-quantized means.  THE
    quantizer the IVF index uses: _centroids() caches this trainer's k×dim
    output and broadcasts it to similarity_ivf_assign/_topk/_multiprobe.
    Per round: broadcast k centroids → argmin-distance assign (one scan, no
    shuffle) → per-(cluster,dim) mean (one keyed shuffle).  Oracle: the
    same algorithm unrolled as chained SQL CTEs.

    At 10^9 vectors each round is one scan + one bounded shuffle
    (k·dim rows out), which is exactly how Spark MLlib's KMeans
    structures it — no per-row Python anywhere."""
    cents = _train_kmeans(spark, sf_dir)
    return cents.select("c_id", F.posexplode("c").alias("idx0", "v")).select(
        "c_id", (F.col("idx0") + 1).cast("int").alias("dim"), "v"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-side of ANN at 100 TB.  IVF prunes
# which vectors to scan; PQ compresses what is scanned — 64 float32 dims
# (256 B) become M=16 uint8 codes (16 B, 16x vs float32; 32x vs the
# float64 compute form), and distances are computed against per-subspace
# codebooks instead of raw vectors (ADC).  Training is M independent
# k-means runs over D-dim subvectors, here run as ONE keyed job (subspace
# id `m` is just another group key) with the same deterministic machinery
# as _train_kmeans: first-K init, _PQ_ITERS Lloyd rounds,
# floor(v*2^30)-quantized means so both engines agree bit-for-bit.
#
# Config choice (measured, tools/recall_report.py): on this near-uniform
# synthetic corpus the 5th→6th-NN distance gap (~0.02) is tiny relative
# to quantization distortion, and per-subspace distortion scales as
# K^(-2/D) — at D=8 even 10 Lloyd rounds with K=64 cap recall@5 at ~0.36
# (an information-theoretic ceiling of the subspace width, not a training
# artifact; reaching 0.5 at D=8 would need K≈4096 > corpus).  Halving the
# subspace width (M=16, D=4, K=64, 3 rounds) cuts total distortion ~4x
# and measures recall@5 ≈ 0.6 while keeping 16-byte codes.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_D, _PQ_K, _PQ_ITERS = 16, 4, 64, 3


def _pq_subvecs(emb):
    """(vec_id, m, sv): the m-th D-dim subvector of every embedding."""
    return emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"),
        "e",
    ).select("vec_id", "m", F.expr(f"slice(e, m*{_PQ_D}+1, {_PQ_D})").alias("sv"))


def _raw_emb(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )


def _residual_emb(spark, sf_dir):
    """(vec_id, e): each vector minus its coarse IVF centroid — the input
    FAISS trains residual PQ codebooks on.  Centroids are quantized
    doubles and the subtraction is exact IEEE, so residuals are
    engine-identical."""
    assign = similarity_ivf_assign(spark, sf_dir).select(
        "vec_id", F.col("assigned_label").alias("cluster")
    )
    cents = _centroids(spark, sf_dir)
    return (
        _raw_emb(spark, sf_dir)
        .join(assign, "vec_id")
        .join(F.broadcast(cents), F.col("cluster") == F.col("c_label"))
        .select(
            "vec_id",
            F.zip_with("e", "centroid", lambda x, y: x - y).alias("e"),
        )
    )


def _train_pq(spark, sf_dir, emb=None):
    """Per-subspace codebooks (m, c_id, c).  One scan per Lloyd round with
    the M*K=1024 (m, centroid) pairs broadcast; the only shuffle carries
    M*K*D = 4096 quantized partial means regardless of corpus size."""
    if emb is None:
        emb = _raw_emb(spark, sf_dir)
    sv = _pq_subvecs(emb)
    cents = sv.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("c_id"), F.col("sv").alias("c")
    )
    dist = F.aggregate(
        F.zip_with(F.col("sv"), F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    for _ in range(_PQ_ITERS):
        j = sv.join(F.broadcast(cents), "m")
        w = Window.partitionBy("vec_id", "m").orderBy(F.col("dist").asc(), "c_id")
        assigned = (
            j.withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("m", "c_id", "sv")
        )
        elems = assigned.select(
            "m", "c_id", F.posexplode("sv").alias("idx0", "v")
        ).select("m", "c_id", (F.col("idx0") + 1).alias("idx"), "v")
        means = elems.groupBy("m", "c_id", "idx").agg(
            (
                F.sum(F.floor(F.col("v") * 1073741824.0).cast("long")).cast("double")
                / (F.count(F.lit(1)) * 1073741824.0)
            ).alias("mv")
        )
        cents = (
            means.groupBy("m", "c_id")
            .agg(F.array_sort(F.collect_list(F.struct("idx", "mv"))).alias("pairs"))
            .select(
                "m", "c_id",
                F.transform("pairs", lambda p: p.getField("mv")).alias("c"),
            )
        )
    return cents


# Trained-codebook cache, same materialize-the-model pattern as
# _CENTROID_CACHE: M*K = 1024 D-dim rows, deterministic (quantized means),
# collected once per (session, sf_dir) and rebuilt as a literal broadcast.
_PQ_CACHE: dict[tuple[str, str, str], list] = {}


def _pq_codebooks(spark, sf_dir, flavor="raw", emb=None):
    key = (spark.sparkContext.applicationId, sf_dir, flavor)
    if key not in _PQ_CACHE:
        dest = os.path.join(
            repo_root(), "spark-warehouse", "derived_ann",
            os.path.basename(sf_dir.rstrip("/")),
            f"pq_codebooks_{flavor}_m{_PQ_M}d{_PQ_D}k{_PQ_K}i{_PQ_ITERS}.json",
        )
        _PQ_CACHE[key] = _model_rows(
            dest,
            lambda: [
                (int(r["m"]), int(r["c_id"]), [float(v) for v in r["c"]])
                for r in _train_pq(spark, sf_dir, emb=emb).collect()
            ],
        )
    if key not in _MODEL_DF_CACHE:
        _MODEL_DF_CACHE[key] = values_df(
            spark, _PQ_CACHE[key], "m int, c_id bigint, c array<double>"
        )
    return _MODEL_DF_CACHE[key]


def _pq_assign(spark, sf_dir, flavor="raw", emb=None):
    """(vec_id, m, c_id, dist, c): nearest codebook entry per subspace.

    The code assignment is the PQ INDEX ARTIFACT — FAISS persists it, and
    so does this: encoded once per (sf_dir, flavor, config) to parquet
    (spark-warehouse/derived_ann) and read back, so every query against
    the index scans 16-byte codes instead of re-encoding the corpus
    (5M window rows per call at sf0.1).  The codeword vectors re-join
    from the broadcast codebooks.  Concurrent writers race benignly
    (pid-suffixed temp + first atomic rename wins, as in tpch_official).
    """
    cents = _pq_codebooks(spark, sf_dir, flavor=flavor, emb=emb)
    dest = os.path.join(
        repo_root(), "spark-warehouse", "derived_ann",
        os.path.basename(sf_dir.rstrip("/")),
        f"pq_codes_{flavor}_m{_PQ_M}d{_PQ_D}k{_PQ_K}i{_PQ_ITERS}.parquet",
    )
    if not os.path.isdir(dest):
        if emb is None:
            emb = _raw_emb(spark, sf_dir)
        sv = _pq_subvecs(emb)
        dist = F.aggregate(
            F.zip_with(F.col("sv"), F.col("c"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        w = Window.partitionBy("vec_id", "m").orderBy(F.col("dist").asc(), "c_id")
        codes = (
            sv.join(F.broadcast(cents), "m")
            .withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "m", "c_id", "dist")
        )
        tmp = f"{dest}.tmp.{os.getpid()}"
        codes.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, dest)
        except OSError:  # another process won the race; use its output
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return (
        cached_parquet(spark, dest)
        .join(F.broadcast(cents), ["m", "c_id"])
        .select("vec_id", "m", "c_id", "dist", "c")
    )


def _sql_pq_ctes(include_emb: bool = True, src: str = "emb") -> str:
    """DuckDB mirror of _train_pq + _pq_assign: subvectors, first-K init,
    _PQ_ITERS quantized-mean Lloyd rounds (CTE chain generated per round,
    mirroring the Spark loop), final assignment.  Pass
    ``include_emb=False`` when composing with a CTE chain that already
    defines the identical ``emb``; ``src`` names the (vec_id, e) CTE the
    chain trains/encodes on (``remb`` for the residual variant)."""
    d, m, k = _PQ_D, _PQ_M, _PQ_K
    l2 = _sql_l2sq("sv.sv", "c.c")
    emb_cte = """emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    """ if include_emb else ""
    sql = f"""{emb_cte}msub AS (SELECT unnest(generate_series(0, {m - 1})) AS m),
    sv AS (
      SELECT vec_id, m, e[m*{d}+1 : m*{d}+{d}] AS sv FROM {src} CROSS JOIN msub),
    pq0 AS (
      SELECT m, vec_id AS c_id, sv AS c FROM sv WHERE vec_id < {k})"""
    for i in range(_PQ_ITERS):
        sql += f""",
    passign{i} AS (
      SELECT vec_id, m, c_id, sv FROM (
        SELECT sv.vec_id, sv.m, c.c_id, sv.sv,
               ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.m
                 ORDER BY {l2} ASC, c.c_id) AS rn
        FROM sv JOIN pq{i} c USING (m)) t WHERE rn = 1),
    pelems{i} AS (
      SELECT m, c_id, generate_subscripts(sv, 1) AS idx,
             CAST(unnest(sv) AS DOUBLE) AS v
      FROM passign{i}),
    pq{i + 1} AS (
      SELECT m, c_id, list(mv ORDER BY idx) AS c FROM (
        SELECT m, c_id, idx,
               CAST(SUM(CAST(FLOOR(v * 1073741824.0) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*) * 1073741824.0) AS mv
        FROM pelems{i} GROUP BY m, c_id, idx) t
      GROUP BY m, c_id)"""
    sql += f""",
    passign AS (
      SELECT vec_id, m, c_id, dist, c FROM (
        SELECT sv.vec_id, sv.m, c.c_id, {l2} AS dist, c.c,
               ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.m
                 ORDER BY {l2} ASC, c.c_id) AS rn
        FROM sv JOIN pq{_PQ_ITERS} c USING (m)) t WHERE rn = 1)"""
    return sql


@query(
    "similarity_pq_encode",
    oracle=f"""
    WITH {_sql_pq_ctes()}
    SELECT vec_id,
           array_to_string(list(CAST(c_id AS BIGINT) ORDER BY m), ',') AS codes,
           ROUND(SUM(dist), 6) AS recon_err
    FROM passign GROUP BY vec_id ORDER BY vec_id
    """,
    tags=("pipeline", "similarity", "pq", "iterative"),
)
def similarity_pq_encode(spark, sf_dir):
    """PQ encoding (vector -> M uint8 codes): each embedding becomes its
    per-subspace nearest-codebook-entry ids plus the total reconstruction
    error.  32x memory compression for an ANN scan at 100 TB — the codes
    table replaces the raw vectors; codebooks (M*K*D = 4096 doubles)
    broadcast.  Reconstruction error sums per-subspace quantized-arithmetic
    L2^2, rounded to erase formula-order noise."""
    a = _pq_assign(spark, sf_dir)
    return (
        a.groupBy("vec_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("m", "c_id"))).alias("pairs"),
            F.round(F.sum("dist"), 6).alias("recon_err"),
        )
        .select(
            "vec_id",
            # Rendered to text: the driver harness cannot hash list cells
            # (house rule) — the production codes table keeps the array.
            F.array_join(
                F.transform("pairs", lambda p: p.getField("c_id")), ","
            ).alias("codes"),
            "recon_err",
        )
        .orderBy("vec_id")
    )


@query(
    "similarity_pq_topk",
    oracle=f"""
    WITH {_sql_pq_ctes()},
    recon AS (
      SELECT vec_id, flatten(list(c ORDER BY m)) AS r
      FROM passign GROUP BY vec_id),
    q AS (SELECT vec_id AS qid, e FROM emb WHERE vec_id < 10),
    scored AS (
      SELECT q.qid, recon.vec_id AS neighbor_id,
             {_sql_l2sq('q.e', 'recon.r')} AS adc
      FROM q CROSS JOIN recon WHERE recon.vec_id != q.qid),
    ranked AS (
      SELECT qid, neighbor_id, adc,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY adc ASC, neighbor_id) AS rn
      FROM scored)
    SELECT qid, neighbor_id, CAST(rn AS BIGINT) AS rank,
           ROUND(adc, 6) AS adc_dist
    FROM ranked WHERE rn <= 5 ORDER BY qid, rank
    """,
    tags=("pipeline", "similarity", "pq", "topk", "bench"),
)
def similarity_pq_topk(spark, sf_dir):
    """Asymmetric-distance top-k over PQ codes: queries stay exact, corpus
    vectors are replaced by their codebook reconstructions, so the scan
    reads 16-byte codes + a broadcast 4096-double codebook instead of raw
    vectors.  The distance is ONE sequential 64-dim fold over the
    reconstruction (not a per-subspace SUM), so the accumulation order is
    engine-identical and the ranking deterministic.  At scale this
    composes with IVF: probe-pruned partitions scanned in PQ space."""
    a = _pq_assign(spark, sf_dir)
    recon = (
        a.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "c"))).alias("pairs"))
        .select(
            "vec_id",
            F.flatten(F.transform("pairs", lambda p: p.getField("c"))).alias("r"),
        )
    )
    emb = _tq(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("qid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    ).filter(F.col("qid") < 10)
    adc = l2sq_expr("e", "r")
    w = Window.partitionBy("qid").orderBy(F.col("adc").asc(), "neighbor_id")
    return (
        emb.crossJoin(recon.withColumnRenamed("vec_id", "neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("qid"))
        .withColumn("adc", adc)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", "neighbor_id", "rank", F.round("adc", 6).alias("adc_dist"))
        .orderBy("qid", "rank")
    )


@query(
    "similarity_ivfpq_topk",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGNED},
    {_sql_pq_ctes(include_emb=False)},
    recon AS (
      SELECT vec_id, flatten(list(c ORDER BY m)) AS r
      FROM passign GROUP BY vec_id),
    q AS (
      SELECT e.vec_id AS qid, e.e AS qe, a.cluster AS q_cluster
      FROM emb e JOIN assigned a ON a.vec_id = e.vec_id
      WHERE e.vec_id < 10),
    cands AS (
      SELECT r.vec_id, r.r, a.cluster
      FROM recon r JOIN assigned a ON a.vec_id = r.vec_id),
    scored AS (
      SELECT q.qid, c.vec_id, {_sql_l2sq('q.qe', 'c.r')} AS adc
      FROM q JOIN cands c
        ON c.cluster = q.q_cluster AND c.vec_id <> q.qid)
    SELECT qid, vec_id AS neighbor_id, CAST(rn AS BIGINT) AS rank,
           ROUND(adc, 6) AS adc_dist
    FROM (SELECT qid, vec_id, adc,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY adc ASC, vec_id) AS rn
          FROM scored) t
    WHERE rn <= 5 ORDER BY qid, rank
    """,
    tags=("pipeline", "similarity", "ivf", "pq", "bench"),
)
def similarity_ivfpq_topk(spark, sf_dir):
    """IVF+PQ composed ANN (the production FAISS-style shape): the coarse
    learned-k-means cells prune WHICH vectors are scanned (inverted-list
    probe), PQ codes compress WHAT is scanned (ADC against codebook
    reconstructions).  At 10^9 vectors the scan touches ~1/k of the
    corpus at ~1/32 the bytes; both the coarse centroids and the
    codebooks broadcast.  Deviation from FAISS noted: codes are built on
    raw vectors, not cell residuals — see similarity_ivfpq_residual_topk
    for the residual-encoded (FAISS-exact) variant.  ADC is one sequential 64-dim fold, so ranking is
    engine-deterministic."""
    assign = similarity_ivf_assign(spark, sf_dir).select(
        "vec_id", F.col("assigned_label").alias("cluster")
    )
    a = _pq_assign(spark, sf_dir)
    recon = (
        a.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "c"))).alias("pairs"))
        .select(
            "vec_id",
            F.flatten(F.transform("pairs", lambda p: p.getField("c"))).alias("r"),
        )
    )
    emb = _tq(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = (
        emb.join(assign, "vec_id")
        .filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("e").alias("qe"),
            F.col("cluster").alias("q_cluster"),
        )
    )
    cands = recon.join(assign, "vec_id")
    adc = l2sq_expr("qe", "r")
    w = Window.partitionBy("qid").orderBy(F.col("adc").asc(), "vec_id")
    return (
        F.broadcast(q)
        .join(cands, (F.col("cluster") == F.col("q_cluster"))
              & (F.col("vec_id") != F.col("qid")))
        .withColumn("adc", adc)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("adc", 6).alias("adc_dist"))
        .orderBy("qid", "rank")
    )


_RERANK_ALPHA = 8  # shortlist width = alpha * k (40 candidates for top-5)


@query(
    "similarity_ivfpq_rerank_topk",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGNED},
    {_sql_pq_ctes(include_emb=False)},
    recon AS (
      SELECT vec_id, flatten(list(c ORDER BY m)) AS r
      FROM passign GROUP BY vec_id),
    q AS (
      SELECT e.vec_id AS qid, e.e AS qe FROM emb e WHERE e.vec_id < 10),
    probes AS (
      SELECT qid, c_label AS probe_cluster
      FROM (
        SELECT q.qid, c.c_label,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {sql_cos(sql_dot('q.qe', 'c.centroid'), sql_dot('q.qe', 'q.qe'), sql_dot('c.centroid', 'c.centroid'))} DESC,
                 c.c_label) AS rn
        FROM q CROSS JOIN centroids c) t
      WHERE rn <= {_NPROBE}),
    cands AS (
      SELECT r.vec_id, r.r, a.cluster
      FROM recon r JOIN assigned a ON a.vec_id = r.vec_id),
    shortlist AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {_sql_l2sq('q.qe', 'c.r')} ASC, c.vec_id) AS rn
        FROM q JOIN probes p ON p.qid = q.qid
               JOIN cands c ON c.cluster = p.probe_cluster
                           AND c.vec_id <> q.qid) t
      WHERE rn <= {5 * _RERANK_ALPHA}),
    exact AS (
      SELECT s.qid, s.vec_id, {_sql_l2sq('q.qe', 'e.e')} AS d
      FROM shortlist s
      JOIN q ON q.qid = s.qid
      JOIN emb e ON e.vec_id = s.vec_id)
    SELECT qid, vec_id AS neighbor_id, CAST(rn AS BIGINT) AS rank,
           ROUND(d, 6) AS exact_dist
    FROM (SELECT qid, vec_id, d,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY d ASC, vec_id) AS rn
          FROM exact) t
    WHERE rn <= 5 ORDER BY qid, rank
    """,
    # "bench": this is now the production ANN path (recall 0.94 at the
    # IVFPQ scan cost) — tracked round-over-round like ivfpq_topk.
    tags=("pipeline", "similarity", "ivf", "pq", "rerank", "bench"),
)
def similarity_ivfpq_rerank_topk(spark, sf_dir):
    """IVFPQ with multiprobe + EXACT re-rank -- the standard fix for PQ's
    quantization-distortion recall cap (FAISS IndexIVFPQR / two-stage
    search): (1) probe the nprobe=4 nearest coarse cells, (2) ADC over
    16-byte PQ reconstructions shortlists alpha*k = 40 candidates per
    query, (3) the shortlist joins BACK to the original float vectors
    for exact L2 distances and the final top-5 ranks on those.
    Measured recall@5 rises from ~0.52 (pure ADC) toward the IVF probe
    ceiling (tools/recall_report.py, floor-gated).

    Plan economics at 10^9 vectors: stages 1-2 are the IVFPQ scan shape
    unchanged (centroids + codebooks broadcast, probe-pruned cell scan,
    compressed bytes); stage 3 touches exactly 40 full vectors per query
    -- a broadcast equi-join of the tiny shortlist against the corpus,
    ~zero extra shuffle.  Recall improves at re-rank cost O(alpha*k*D)
    per query instead of a wider (costlier) ADC scan."""
    assign = similarity_ivf_assign(spark, sf_dir).select(
        "vec_id", F.col("assigned_label").alias("cluster")
    )
    cents = _centroids(spark, sf_dir)
    a = _pq_assign(spark, sf_dir)
    recon = (
        a.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "c"))).alias("pairs"))
        .select(
            "vec_id",
            F.flatten(F.transform("pairs", lambda p: p.getField("c"))).alias("r"),
        )
    )
    # Query side AND the exact re-rank side read the corpus UNSPREAD
    # (_tq): q is 10 rows, and the exact side only evaluates the 64-dim
    # fold on the ~alpha*k*|q| shortlist rows that survive the broadcast
    # equi-join — neither benefits from fan_out's exchange at any scale.
    emb = _tq(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    probe_cos = cos_expr("qe", "centroid")
    wp = Window.partitionBy("qid").orderBy(F.col("probe_sim").desc(), "c_label")
    probes = (
        F.broadcast(q).crossJoin(F.broadcast(cents))
        .select("qid", "qe", "c_label", probe_cos.alias("probe_sim"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _NPROBE)
        .select("qid", "qe", F.col("c_label").alias("probe_cluster"))
    )
    cands = recon.join(assign, "vec_id")
    adc = l2sq_expr("qe", "r")
    ws = Window.partitionBy("qid").orderBy(F.col("adc").asc(), "vec_id")
    shortlist = (
        F.broadcast(probes)
        .join(cands, (F.col("cluster") == F.col("probe_cluster"))
              & (F.col("vec_id") != F.col("qid")))
        .withColumn("adc", adc)
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 5 * _RERANK_ALPHA)
        .select("qid", "qe", "vec_id")
    )
    exact_d = l2sq_expr("qe", "e")
    wr = Window.partitionBy("qid").orderBy(F.col("d").asc(), "vec_id")
    return (
        F.broadcast(shortlist)
        .join(emb, "vec_id")
        .withColumn("d", exact_d)
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("d", 6).alias("exact_dist"))
        .orderBy("qid", "rank")
    )

@query(
    "similarity_ivfpq_residual_topk",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGNED},
    remb AS (
      SELECT e.vec_id,
             list_transform(list_zip(e.e, c.centroid),
               p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS e
      FROM emb e
      JOIN assigned a ON a.vec_id = e.vec_id
      JOIN centroids c ON c.c_label = a.cluster),
    {_sql_pq_ctes(include_emb=False, src="remb")},
    rrec AS (
      SELECT vec_id, flatten(list(c ORDER BY m)) AS rr
      FROM passign GROUP BY vec_id),
    reconf AS (
      SELECT r.vec_id,
             list_transform(list_zip(c.centroid, r.rr),
               p -> CAST(p[1] AS DOUBLE) + CAST(p[2] AS DOUBLE)) AS r,
             a.cluster
      FROM rrec r
      JOIN assigned a ON a.vec_id = r.vec_id
      JOIN centroids c ON c.c_label = a.cluster),
    q AS (
      SELECT e.vec_id AS qid, e.e AS qe, a.cluster AS q_cluster
      FROM emb e JOIN assigned a ON a.vec_id = e.vec_id
      WHERE e.vec_id < 10),
    scored AS (
      SELECT q.qid, c.vec_id, {_sql_l2sq('q.qe', 'c.r')} AS adc
      FROM q JOIN reconf c
        ON c.cluster = q.q_cluster AND c.vec_id <> q.qid)
    SELECT qid, vec_id AS neighbor_id, CAST(rn AS BIGINT) AS rank,
           ROUND(adc, 6) AS adc_dist
    FROM (SELECT qid, vec_id, adc,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY adc ASC, vec_id) AS rn
          FROM scored) t
    WHERE rn <= 5 ORDER BY qid, rank
    """,
    tags=("pipeline", "similarity", "ivf", "pq", "residual"),
)
def similarity_ivfpq_residual_topk(spark, sf_dir):
    """FAISS-exact IVFPQ: codebooks are trained on RESIDUALS (vector minus
    its coarse IVF centroid), so each cell's quantizer spends its codebook
    on the local displacement distribution instead of the global one —
    the reconstruction is centroid + residual-decode.  Same plan economics
    as the raw-code variant (probe-pruned scan, broadcast centroids and
    codebooks, one deterministic 64-dim ADC fold); the residual join adds
    one broadcast against the 8 coarse centroids, nothing corpus-sized."""
    assign = similarity_ivf_assign(spark, sf_dir).select(
        "vec_id", F.col("assigned_label").alias("cluster")
    )
    cents = _centroids(spark, sf_dir)
    a = _pq_assign(spark, sf_dir, flavor="residual",
                   emb=_residual_emb(spark, sf_dir))
    rrec = (
        a.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "c"))).alias("pairs"))
        .select(
            "vec_id",
            F.flatten(F.transform("pairs", lambda p: p.getField("c"))).alias("rr"),
        )
    )
    reconf = (
        rrec.join(assign, "vec_id")
        .join(F.broadcast(cents), F.col("cluster") == F.col("c_label"))
        .select(
            "vec_id", "cluster",
            F.zip_with("centroid", "rr", lambda x, y: x + y).alias("r"),
        )
    )
    q = (
        _tq(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .join(assign, "vec_id")
        .filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("e").alias("qe"),
            F.col("cluster").alias("q_cluster"),
        )
    )
    adc = l2sq_expr("qe", "r")
    w = Window.partitionBy("qid").orderBy(F.col("adc").asc(), "vec_id")
    return (
        F.broadcast(q)
        .join(reconf, (F.col("cluster") == F.col("q_cluster"))
              & (F.col("vec_id") != F.col("qid")))
        .withColumn("adc", adc)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("adc", 6).alias("adc_dist"))
        .orderBy("qid", "rank")
    )


@query(
    "dedup_semantic_twostage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      FROM documents
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {sql_cos(sql_dot('a.embedding', 'b.embedding'),
                      sql_dot('a.embedding', 'a.embedding'),
                      sql_dot('b.embedding', 'b.embedding'))} AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT p.vec_a, p.vec_b,
           ROUND(p.cos_sim, 6) AS cos_sim,
           ROUND(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.tk, tb.tk))), 6)
               AS token_jaccard,
           CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.tk, tb.tk))) >= 0.2
               AS confirmed
    FROM pairs p
    JOIN toks ta ON ta.doc_id = p.vec_a
    JOIN toks tb ON tb.doc_id = p.vec_b
    WHERE p.cos_sim >= 0.30
    ORDER BY p.vec_a, p.vec_b
    """,
    tags=("pipeline", "similarity", "dedup", "semantic"),
)
def dedup_semantic_twostage(spark, sf_dir):
    """Two-stage semantic dedup (the SemDeDup pipeline shape): embedding
    cosine proposes candidate pairs (label-stratified — an LSH/IVF bucket
    at real scale), then token-set Jaccard on the documents CONFIRMS or
    rejects each candidate, so cheap vector math prunes before exact text
    comparison ever runs.  Candidate generation is the bounded similarity
    join; the verify stage joins only |candidates| rows back to the
    corpus — text is never compared all-pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tk")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("la"),
        F.col("embedding").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"),
        F.col("embedding").alias("eb"),
    )
    cos = cos_expr("ea", "eb")
    cands = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.30)
        .select("vec_a", "vec_b", "cos_sim")
    )
    ta = docs.select(F.col("doc_id").alias("vec_a"), F.col("tk").alias("ta"))
    tb = docs.select(F.col("doc_id").alias("vec_b"), F.col("tk").alias("tb"))
    jac = (
        F.size(F.array_intersect("ta", "tb")).cast("double")
        / F.size(F.array_union("ta", "tb"))
    )
    return (
        cands.join(ta, "vec_a").join(tb, "vec_b")
        .withColumn("token_jaccard", jac)
        .select(
            "vec_a", "vec_b",
            F.round("cos_sim", 6).alias("cos_sim"),
            F.round("token_jaccard", 6).alias("token_jaccard"),
            (F.col("token_jaccard") >= 0.2).alias("confirmed"),
        )
        .orderBy("vec_a", "vec_b")
    )


@query(
    "similarity_hybrid_rrf",
    oracle=f"""
    WITH lex AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('vector', 'merge', 'dup'))) AS hits
      FROM documents
    ), lexr AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER
               (ORDER BY hits DESC, doc_id) AS BIGINT) AS rank_lex
      FROM lex WHERE hits > 0
      ORDER BY hits DESC, doc_id LIMIT 50
    ), q AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), vec AS (
      SELECT e.vec_id,
             {sql_cos(sql_dot('q.qe', 'e.embedding'),
                      sql_dot('q.qe', 'q.qe'),
                      sql_dot('e.embedding', 'e.embedding'))} AS cos_sim
      FROM embeddings e CROSS JOIN q
    ), vecr AS (
      SELECT vec_id, CAST(ROW_NUMBER() OVER
               (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank_vec
      FROM vec ORDER BY cos_sim DESC, vec_id LIMIT 50
    )
    SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
           l.rank_lex, v.rank_vec,
           ROUND(COALESCE(1.0 / (60 + l.rank_lex), 0.0)
                 + COALESCE(1.0 / (60 + v.rank_vec), 0.0), 6) AS rrf
    FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.vec_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    tags=("pipeline", "similarity", "retrieval", "hybrid"),
)
def similarity_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion: a lexical candidate
    list (query-term hit count over documents) and a vector candidate
    list (cosine vs one query embedding) are each truncated to their
    top-50, then fused with the standard RRF formula
    sum(1 / (60 + rank)) and re-ranked — the retrieval shape RAG-style
    pipelines run over a 100 TB corpus.

    Scale shape: each leg is scan + distributed TakeOrdered
    (orderBy+limit, never a corpus-sized single-partition window); the
    row_number that assigns ranks runs AFTER truncation, over <=50 rows,
    so the fusion stage is constant-sized no matter the corpus.  The
    oracle ranks with a global window then limits — same result by the
    total (score, id) ordering, spelled per-engine for each engine's
    natural plan.

    Determinism: lexical scores are integers; cosine uses the exact
    decimal-fold dot product (module header); RRF sums two
    exactly-rounded divisions of integers in fixed written order."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    hits = F.size(
        F.expr("filter(split(text, ' '), t -> t IN ('vector', 'merge', 'dup'))")
    )
    lex50 = (
        docs.select("doc_id", hits.alias("hits"))
        .filter(F.col("hits") > 0)
        .orderBy(F.col("hits").desc(), "doc_id")
        .limit(50)
    )
    w_lex = Window.orderBy(F.col("hits").desc(), "doc_id")
    lexr = lex50.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("rank_lex")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cos = cos_expr("qe", "embedding")
    vec50 = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(50)
    )
    w_vec = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    vecr = vec50.select(
        "vec_id", F.row_number().over(w_vec).cast("long").alias("rank_vec")
    )
    rrf = (
        F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_lex")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_vec")), F.lit(0.0))
    )
    return (
        lexr.join(vecr, lexr.doc_id == vecr.vec_id, "full_outer")
        .select(
            F.coalesce("doc_id", "vec_id").alias("doc_id"),
            "rank_lex", "rank_vec",
            F.round(rrf, 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


# --- IVF index lifecycle: persisted inverted lists, incremental ingest,
#     deletion tombstones — FAISS add()/remove_ids() on a TRAINED index
#     (faiss IndexIVF; the reference engine has no vector index at all).
#     Completes the ANN side of the lifecycle the BM25 index already
#     has: build -> ingest delta -> delete. ----------------------------

_ANN_LISTS_VERSION = "v1"  # bump on any list-layout/scoring-input change


def _assign_clusters(spark, sf_dir, emb, extra: tuple[str, ...] = ()):
    """(vec_id, cluster, embedding[, *extra]): nearest LEARNED centroid by
    cosine — the trained quantizer applied to a batch.  Centroids are
    broadcast; assignment is one scan over the batch, so applying it to
    a delta costs O(|delta|).  ``extra`` carries payload columns (e.g.
    label) through into the lists — the vector-DB stored-payload
    posture, so filtered serving never re-joins the raw corpus."""
    cents = _centroids(spark, sf_dir)
    cos = cos_expr("embedding", "centroid")
    # Argmax spelled as max_by (r12, guide §2.3/§2.4, same rewrite as
    # similarity_ivf_assign): the window version shuffled batch×k rows
    # EACH carrying the full embedding + payload and sorted them; the
    # map-side partial max_by collapses to one row per vector before the
    # exchange.  Tie-break (cos DESC, c_label ASC) preserved via the
    # unique (cos_sim, -c_label) ordering struct — rows identical.
    payload = ["embedding", *extra]
    best = F.max_by(
        F.struct(F.col("c_label").alias("cluster"),
                 *[F.col(c).alias(c) for c in payload]),
        F.struct(F.col("cos_sim").alias("s"), (-F.col("c_label")).alias("nl")),
    ).alias("best")
    return (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("cos_sim", cos)
        .groupBy("vec_id")
        .agg(best)
        .select("vec_id", F.col("best.cluster").alias("cluster"),
                *[F.col(f"best.{c}").alias(c) for c in payload])
    )


def _ensure_ivf_lists(spark, sf_dir, with_meta: bool = False) -> list[str]:
    """Build-or-load the PERSISTED IVF inverted lists, segmented like the
    BM25 index: seg0 over the historical corpus slice (vec_id % 10 < 8),
    seg1 over a later INGEST batch (vec_id % 10 >= 8) assigned to the
    SAME persisted centroids — no Lloyd re-run, seg0 never touched (the
    FAISS add() contract: the quantizer is fixed at train time, adds
    only append lists).  Lists are directory-partitioned by cluster so
    a probe's equi-join prunes to its cell's files — the IVF promise at
    10^9 vectors.  Same atomic tmp+rename protocol as the BM25/PQ
    artifacts (pid-suffixed temp, first rename wins, losers delete).

    ``with_meta=True`` builds a SEPARATE artifact whose list rows also
    carry the ``label`` payload column (vector-DB stored payload —
    Qdrant/Weaviate keep filterable metadata IN the index so filtered
    serving reads only the probed cells, never the raw corpus).  The
    plain artifact is untouched: existing serve paths keep their
    published inodes."""
    import shutil

    flavor = "ivf_lists_meta" if with_meta else "ivf_lists"
    base = os.path.join(
        repo_root(), "spark-warehouse", "derived_ann",
        os.path.basename(sf_dir.rstrip("/")),
        f"{flavor}_{_ANN_LISTS_VERSION}",
    )
    if not os.path.isfile(os.path.join(base, "_DONE")):
        tmp = f"{base}.tmp.{os.getpid()}"
        cols = ["vec_id", "embedding"] + (["label"] if with_meta else [])
        emb = _t(spark, sf_dir, "embeddings").select(*cols)
        extra = ("label",) if with_meta else ()
        # seg0: the initial build.  seg1: the later delta batch — built
        # from the delta rows ONLY (one broadcast-assign scan).
        for seg, pred in (("seg0", F.col("vec_id") % 10 < 8),
                          ("seg1", F.col("vec_id") % 10 >= 8)):
            (_assign_clusters(spark, sf_dir, emb.filter(pred), extra=extra)
             .repartition("cluster")
             .write.mode("overwrite").partitionBy("cluster")
             .parquet(os.path.join(tmp, seg)))
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write("ok\n")
        os.makedirs(os.path.dirname(base), exist_ok=True)
        try:
            os.rename(tmp, base)
        except OSError:  # another builder won the race
            shutil.rmtree(tmp, ignore_errors=True)
    return [os.path.join(base, "seg0"), os.path.join(base, "seg1")]


def _ensure_ivf_tombstones(spark, sf_dir) -> str:
    """Record a DELETION batch (vec_id % 7 == 3) against the persisted
    lists as tombstones — FAISS remove_ids posture, derived from the
    INDEX (a scan of the lists), never from the raw corpus.  Unlike
    BM25 there is no df analog to adjust: cosine scores are pairwise,
    so deletion is exactly candidate removal and the tombstone file is
    the whole artifact.  Atomic tmp+rename."""
    import shutil

    base = os.path.join(
        repo_root(), "spark-warehouse", "derived_ann",
        os.path.basename(sf_dir.rstrip("/")),
        f"ivf_del_{_ANN_LISTS_VERSION}",
    )
    if not os.path.isfile(os.path.join(base, "_DONE")):
        segs = _ensure_ivf_lists(spark, sf_dir)
        tmp = f"{base}.tmp.{os.getpid()}"
        dead = spark.read.parquet(segs[0]).select("vec_id")
        for s in segs[1:]:
            dead = dead.unionByName(spark.read.parquet(s).select("vec_id"))
        (dead.filter(F.col("vec_id") % 7 == 3)
         .write.mode("overwrite").parquet(os.path.join(tmp, "tombstones")))
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write("ok\n")
        os.makedirs(os.path.dirname(base), exist_ok=True)
        try:
            os.rename(tmp, base)
        except OSError:  # another builder won the race
            shutil.rmtree(tmp, ignore_errors=True)
    return base


def _ivf_serve_plan(spark, sf_dir, segs: list[str],
                    tomb: str | None = None, k: int = 5) -> DataFrame:
    """Probe the PERSISTED lists (nprobe=1) for the 5 standard query
    vectors: queries are assigned to their cell with the broadcast
    quantizer, then the broadcast(query) equi-join on cluster reads only
    the probed cells of every segment (cluster is the parquet PARTITION
    column, so the probe prunes directories, not rows).  ``tomb``:
    candidates anti-join the tombstone ids BEFORE scoring — deleted
    vectors never reach the distance computation.  Ranking windows are
    qid-partitioned; per-batch cost is probe-bounded regardless of
    corpus size."""
    # one read per segment (each is its own cluster-partitioned tree;
    # parquet partition discovery requires a single root per read), then
    # a union — the probe join prunes cells in EVERY segment
    # cached_parquet: resolved-relation reuse for the write-once segment
    # artifacts (r12 — each spark.read.parquet cost 0.15-0.4 s of driver
    # listing/schema inference per serve call; execution still scans the
    # files fresh, mtime keying re-resolves any republished artifact)
    seg_dfs = [cached_parquet(spark, s) for s in segs]
    lists = seg_dfs[0]
    for s in seg_dfs[1:]:
        lists = lists.unionByName(s)
    if tomb is not None:
        dead = cached_parquet(spark, os.path.join(tomb, "tombstones"))
        lists = lists.join(dead, "vec_id", "left_anti")
    emb = _tq(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # cast to the lists' partition-column type (parquet partition values
    # 0..k-1 infer as INT): a cast on the SCAN side of the join key would
    # disqualify the partition column from dynamic partition pruning
    q = _assign_clusters(spark, sf_dir, emb.filter(F.col("vec_id") < 5)).select(
        F.col("vec_id").alias("qid"),
        F.col("cluster").cast("int").alias("q_cluster"),
        F.col("embedding").alias("qe"),
    )
    joined = F.broadcast(q).join(
        lists,
        (F.col("cluster") == F.col("q_cluster"))
        & (F.col("vec_id") != F.col("qid")),
    )
    cos = cos_expr("qe", "embedding")
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        joined.select("qid", "vec_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", "cos_sim")
    )


@query(
    "similarity_ivf_ingest_delta",
    oracle=_IVF_TOPK_ORACLE,
    tags=("pipeline", "similarity", "ivf", "index", "incremental"),
)
def similarity_ivf_ingest_delta(spark, sf_dir):
    """IVF incremental INGEST, served: a delta batch (vec_id % 10 >= 8)
    is assigned to the PERSISTED centroids — no Lloyd re-run, the
    historical seg0 lists never rewritten — and appended as a second
    list segment; the standard 5-query nprobe=1 probe then reads BOTH
    segments' probed cells (FAISS add() on a trained IndexIVF; the
    `text_bm25_index_refresh` pattern applied to derived_ann).  Ingest
    cost is O(|delta|): one broadcast-assign scan over the new batch.
    Oracle: byte-identical to `similarity_ivf_topk`'s (monolithic
    on-the-fly assignment over the full corpus) — a hash match proves
    segmented-persisted serve == monolithic index, because assignment
    to a FIXED quantizer distributes over any corpus partition.
    Recall floor vs the brute-force baseline is pinned in
    tests/test_operators.py."""
    segs = _ensure_ivf_lists(spark, sf_dir)
    return _ivf_serve_plan(spark, sf_dir, segs)


# Shared by similarity_ivf_delete and similarity_ivf_delete_compact: the
# tombstoned serve and the merged-with-deletes serve must BOTH equal the
# rebuild-without-deleted-vectors — byte-identical oracle text makes the
# driver prove delete-serve == compact-serve == rebuild (the same
# protocol the BM25 side uses for its delete/delete_compact pair).
_IVF_DELETE_ORACLE = f"""
    WITH {_SQL_IVF_ASSIGNED},
    q AS (
      SELECT e.vec_id AS qid, e.embedding AS qe, a.cluster AS q_cluster
      FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
      WHERE e.vec_id < 5
    ),
    cands AS (
      SELECT e.vec_id, e.embedding, a.cluster
      FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
      WHERE e.vec_id % 7 <> 3
    ),
    scored AS (
      SELECT q.qid, c.vec_id,
             {sql_cos(sql_dot('q.qe', 'c.embedding'),
                      sql_dot('q.qe', 'q.qe'),
                      sql_dot('c.embedding', 'c.embedding'))} AS cos_sim
      FROM q JOIN cands c ON c.cluster = q.q_cluster AND c.vec_id <> q.qid
    )
    SELECT qid, vec_id, cos_sim
    FROM (SELECT qid, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored) t
    WHERE rn <= 5
    """


@query(
    "similarity_ivf_delete",
    oracle=_IVF_DELETE_ORACLE,
    tags=("pipeline", "similarity", "ivf", "index", "incremental"),
)
def similarity_ivf_delete(spark, sf_dir):
    """IVF vector DELETION via tombstones, served: a deletion batch
    (vec_id % 7 == 3) is recorded against the persisted lists WITHOUT
    rewriting any segment (FAISS remove_ids; the Lucene .del posture
    the BM25 index uses).  The tombstone ids are derived from the INDEX
    — a scan of the lists, never the raw corpus — and the probed scan
    anti-joins them BEFORE scoring, so deleted vectors never reach the
    distance computation.  Cosine is pairwise, so unlike BM25 there is
    no df-style statistic to adjust: tombstoned serving is EXACTLY a
    rebuild without the deleted vectors, which is what the oracle
    recomputes (monolithic assignment over the corpus, candidates minus
    the deleted ids).  Queries stay external: a deleted vector may
    still QUERY the index (qid 3 does), it just cannot be returned."""
    segs = _ensure_ivf_lists(spark, sf_dir)
    tomb = _ensure_ivf_tombstones(spark, sf_dir)
    return _ivf_serve_plan(spark, sf_dir, segs, tomb=tomb)

def _ensure_ivf_delete_compacted(spark, sf_dir) -> str:
    """TOMBSTONE-AWAY compaction of the IVF lists — the vector-side
    analog of `_ensure_bm25_delete_compacted` (FAISS merge_from / a
    Lucene merge applying the .del files): merge seg0+seg1 into ONE
    cluster-partitioned segment while physically dropping every
    tombstoned vector, and RESET the tombstone set (the merged layout
    carries an empty tombstones file).  Cosine is pairwise — there is
    no df-style statistic to fold, so the merge is strictly simpler
    than BM25's: one union scan + tombstone LEFT ANTI join riding the
    same repartition("cluster") shuffle that rebuilds the directory
    partitioning.  Index-sized, never corpus-sized: no embedding is
    ever re-quantized (cluster assignments are carried, the quantizer
    stays fixed).  Same atomic tmp+rename publication protocol."""
    import shutil

    base = os.path.join(
        repo_root(), "spark-warehouse", "derived_ann",
        os.path.basename(sf_dir.rstrip("/")),
        f"ivf_delcmp_{_ANN_LISTS_VERSION}",
    )
    if not os.path.isfile(os.path.join(base, "_DONE")):
        segs = _ensure_ivf_lists(spark, sf_dir)
        tomb = _ensure_ivf_tombstones(spark, sf_dir)
        tmp = f"{base}.tmp.{os.getpid()}"
        dead = spark.read.parquet(
            os.path.join(tomb, "tombstones")).select("vec_id")
        merged = spark.read.parquet(segs[0])
        for s in segs[1:]:
            merged = merged.unionByName(spark.read.parquet(s))
        (merged.join(dead, "vec_id", "left_anti")
         .repartition("cluster")
         .write.mode("overwrite").partitionBy("cluster")
         .parquet(os.path.join(tmp, "seg")))
        # tombstone reset: the merged segment starts with an EMPTY
        # delete set, exactly as a Lucene merge discards input .del
        dead.limit(0).write.mode("overwrite").parquet(
            os.path.join(tmp, "tombstones"))
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write("ok\n")
        os.makedirs(os.path.dirname(base), exist_ok=True)
        try:
            os.rename(tmp, base)
        except OSError:  # another builder won the race
            shutil.rmtree(tmp, ignore_errors=True)
    return base


@query(
    "similarity_ivf_delete_compact",
    oracle=_IVF_DELETE_ORACLE,
    tags=("pipeline", "similarity", "ivf", "index", "incremental"),
)
def similarity_ivf_delete_compact(spark, sf_dir):
    """IVF compaction AFTER deletion — compact(delete(ingest(build))),
    served: seg0+seg1 merge into ONE cluster-partitioned segment while
    the tombstoned vectors are physically dropped (the anti-join rides
    the same single-shuffle merge job), and the tombstone set RESETS —
    FAISS merge_from / the Lucene merge applying .del files, closing
    the vector-side lifecycle symmetry with
    `text_bm25_index_delete_compact` (r11 verdict item).  Cosine is
    pairwise, so unlike BM25 no statistic folds: the merge is exactly
    candidate removal.  Serving over the merged layout passes NO
    tombstone argument — the correction delete-serve computes per query
    is baked into the index, and the probe's dynamic partition pruning
    now opens ONE segment's directories instead of two (the merge-
    policy payoff SCALE.md documents: per-segment scan setup stops
    multiplying).  Oracle: byte-identical to `similarity_ivf_delete`'s
    (full rebuild on corpus minus deleted ids) — hash matches on both
    prove delete-serve == compact-serve == rebuild, and a unit pin
    asserts row-for-row equality between the two serving paths plus the
    physical-drop / tombstone-reset / published-inode invariants."""
    base = _ensure_ivf_delete_compacted(spark, sf_dir)
    return _ivf_serve_plan(spark, sf_dir, [os.path.join(base, "seg")])


_IVF_FILTERED_LIFECYCLE_ORACLE = f"""
    WITH {_SQL_IVF_ASSIGNED},
    q AS (
      SELECT e.vec_id AS qid, e.embedding AS qe, e.label AS q_label
      FROM embeddings e WHERE e.vec_id < 10
    ),
    probes AS (
      SELECT qid, c_label AS probe_cluster
      FROM (
        SELECT q.qid, c.c_label,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {sql_cos(sql_dot('q.qe', 'c.centroid'),
                          sql_dot('q.qe', 'q.qe'),
                          sql_dot('c.centroid', 'c.centroid'))} DESC, c.c_label) AS rn
        FROM q CROSS JOIN centroids c) t
      WHERE rn <= {_NPROBE}
    ),
    cands AS (
      SELECT e.vec_id, e.embedding, e.label, a.cluster
      FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
      WHERE e.vec_id % 7 <> 3
    ),
    scored AS (
      SELECT q.qid, c.vec_id,
             {sql_cos(sql_dot('q.qe', 'c.embedding'),
                      sql_dot('q.qe', 'q.qe'),
                      sql_dot('c.embedding', 'c.embedding'))} AS cos_sim
      FROM q JOIN probes p ON p.qid = q.qid
             JOIN cands c ON c.cluster = p.probe_cluster
                         AND c.vec_id <> q.qid
                         AND c.label = q.q_label
    )
    SELECT qid, vec_id, cos_sim
    FROM (SELECT qid, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored) t
    WHERE rn <= 5
    """


@query(
    "similarity_ivf_filtered_lifecycle",
    oracle=_IVF_FILTERED_LIFECYCLE_ORACLE,
    tags=("pipeline", "similarity", "ivf", "filtered", "index",
          "incremental"),
)
def similarity_ivf_filtered_lifecycle(spark, sf_dir):
    """The PRODUCTION retrieval serving path in ONE plan (r11 verdict
    item): a filtered multiprobe ANN query composed over the PERSISTED
    segmented lists WITH tombstoned deletes — metadata filter + segments
    + deletes together, the shape a vector store actually serves.

    Structure: queries (vec_id < 10) multiprobe their nprobe={_NPROBE}
    nearest cells with the broadcast quantizer; the probe equi-join
    carries dynamic partition pruning into BOTH cluster-partitioned
    segment scans (only probed cells' directories are read); the
    metadata conjunct (candidate label == query label — the
    same-tenant / same-language payload filter) rides IN the same join,
    evaluated on the label PAYLOAD stored in the lists (vector-DB
    stored-payload posture: filtered serving never re-joins the raw
    corpus — the `ivf_lists_meta` artifact carries the payload per
    row); the tombstone ids anti-join the candidate stream BEFORE
    scoring.  Serve cost is probe-bounded at any corpus size: cells ×
    nprobe × queries, never corpus rows.  Oracle: monolithic filtered
    multiprobe over the corpus minus deleted ids — a hash match proves
    segmented-persisted filtered serve == rebuild.  Recall floor vs the
    filtered brute force is pinned in tests/test_operators.py."""
    segs = _ensure_ivf_lists(spark, sf_dir, with_meta=True)
    tomb = _ensure_ivf_tombstones(spark, sf_dir)
    lists = cached_parquet(spark, segs[0])
    for s in segs[1:]:
        lists = lists.unionByName(cached_parquet(spark, s))
    dead = cached_parquet(spark, os.path.join(tomb, "tombstones"))
    lists = lists.join(dead, "vec_id", "left_anti")
    emb = _tq(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label")
    cents = _centroids(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("q_label"),
    )
    qc = F.broadcast(q).crossJoin(F.broadcast(cents))
    probe_cos = cos_expr("qe", "centroid")
    wp = Window.partitionBy("qid").orderBy(F.col("probe_sim").desc(),
                                           "c_label")
    # cast to the lists' partition-column type on the BROADCAST side
    # (a cast on the scan side would disqualify DPP — same note as
    # _ivf_serve_plan)
    probes = (
        qc.select("qid", "qe", "q_label", "c_label",
                  probe_cos.alias("probe_sim"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _NPROBE)
        .select("qid", "qe", "q_label",
                F.col("c_label").cast("int").alias("probe_cluster"))
    )
    joined = F.broadcast(probes).join(
        lists,
        (F.col("cluster") == F.col("probe_cluster"))
        & (F.col("vec_id") != F.col("qid"))
        & (F.col("label") == F.col("q_label")),
    )
    cos = cos_expr("qe", "embedding")
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        joined.select("qid", "vec_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "cos_sim")
    )
