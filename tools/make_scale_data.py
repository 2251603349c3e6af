"""Generate a TIMING-ONLY sf1 dataset by scaling sf0.1 up 10x.

The driver ships sf0.001/0.01/0.1; the 100 TB argument needs at least one
decade of slope above the bench SF, so this tool derives an sf1-shaped
dataset from sf0.1 the way TPC-H itself scales: region/nation stay fixed,
every other table is replicated REPLICAS times with primary keys offset by a
clean stride and foreign keys remapped consistently (so join fan-outs and
key cardinalities grow like a real SF bump, not like a skew bomb).

Content columns are perturbed per replica where identity would distort the
workload rather than scale it:

  * documents.text gets a per-replica vowel rotation (``translate``) so
    minhash/LSH/near-dup entries see 10x more *distinct* documents instead
    of 10 exact copies of each — exact copies would grow candidate pairs
    quadratically (a data artifact, not a plan property).
  * embeddings.embedding gets a tiny per-replica scalar warp so ANN entries
    see 10x distinct vectors, not tied duplicates.

Output: ``/root/repo/.scale/sf1`` (gitignored scratch; ~170 MB).  This data
is for ``tools/measure.py --sf`` wall-time slopes ONLY — it is NOT a
correctness input and no oracle ever reads it (the driver's read-only
``/root/testdata`` stays the single source of truth for correctness).

    python tools/make_scale_data.py            # writes .scale/sf1
    python tools/make_scale_data.py --replicas 10 --out /root/repo/.scale/sf1
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"

# Key strides: clean powers of ten comfortably above the sf0.1 max key, so
# replica keyspaces never collide and keys stay readable in plans.
STRIDES = {
    "customer": ("c_custkey", 100_000),
    "supplier": ("s_suppkey", 10_000),
    "part": ("p_partkey", 100_000),
    "orders": ("o_orderkey", 1_000_000),
    "lineitem": (None, None),  # composite PK; FKs remapped below
    "events": ("event_id", 1_000_000),
    "documents": ("doc_id", 100_000),
    "embeddings": ("vec_id", 100_000),
}

VOWEL_MAPS = ["aeiou", "eioua", "iouae", "ouaei", "uaeio",
              "aeuio", "eiaou", "ioeua", "oueai", "uaoei"]


def scale_table(spark, name: str, replicas: int):
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        # The source files carry no-tz micros; a plain Spark read infers
        # TIMESTAMP_NTZ and the rewrite would BAKE that into the output's
        # footer spark-schema — which then overrides the reader-side
        # inferTimestampNTZ=false that catalog.load_table relies on, so
        # every events entry sees a different ts type at this SF than at
        # the real testdata SFs (found by the r7 sf1 audit).  Reinterpret
        # to TIMESTAMP here, at GENERATION time, where a projection over
        # the scan costs nothing.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.to_timestamp(F.col("ts")))
    if name in ("region", "nation"):
        return df

    parts = []
    for i in range(replicas):
        r = df
        pk, stride = STRIDES[name]
        if pk:
            r = r.withColumn(pk, F.col(pk) + F.lit(i * stride))
        if name == "orders":
            r = r.withColumn("o_custkey", F.col("o_custkey") + F.lit(i * STRIDES["customer"][1]))
        elif name == "lineitem":
            r = (r.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * STRIDES["orders"][1]))
                  .withColumn("l_partkey", F.col("l_partkey") + F.lit(i * STRIDES["part"][1]))
                  .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(i * STRIDES["supplier"][1])))
        elif name == "events":
            # user_id cardinality scales with SF, like a real event stream.
            r = r.withColumn("user_id", F.col("user_id") + F.lit(i * 100_000))
        elif name == "documents":
            r = r.withColumn("text", F.translate(F.col("text"), VOWEL_MAPS[0], VOWEL_MAPS[i % len(VOWEL_MAPS)]))
        elif name == "embeddings":
            warp = 1.0 + i * 0.003
            r = r.withColumn(
                "embedding",
                F.transform(F.col("embedding"), lambda x: (x * F.lit(warp)).cast("float")),
            )
        parts.append(r)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1"))
    args = ap.parse_args()

    from datafusion_spark import get_spark

    spark = get_spark("make_scale_data")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    for name in ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]:
        dest = os.path.join(args.out, f"{name}.parquet")
        df = scale_table(spark, name, args.replicas)
        # Mirror the source layout (one parquet dir per table); keep files
        # large enough that scan parallelism comes from row groups, not
        # a thousand tiny files.
        n_files = max(1, min(16, args.replicas if name not in ("region", "nation") else 1))
        df.repartition(n_files).write.mode("overwrite").parquet(dest)
        print(f"{name}: wrote {dest}")
    print("done")


if __name__ == "__main__":
    main()
