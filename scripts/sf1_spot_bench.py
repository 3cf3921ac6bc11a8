"""sf1-scale spot bench for the heavy headline queries (r13 verdict ask #6).

The driver's testdata stops at sf0.1 (~17 MB), where per-query wall is
dominated by fixed job/scheduling overhead and 8 cores beat 32 on a
contended box — scaling claims cannot be measured there. This script
builds a DETERMINISTIC 10x scale-up of sf0.1 (seeded by the copy index
alone, no RNG) under /tmp and times the six heaviest headline queries
at $SPARK_GRAFT_CPUS cores with the bench's noop-sink methodology.

Scale-up construction (copy k in 0..9, every copy a disjoint replica):
- key tables (customer/supplier/part/orders/lineitem): big keys offset
  by k * 10^7 so every within-copy join relationship is preserved and
  copies never join each other; nation/region stay fixed (dimensions).
- documents: doc_id offset; every TOKEN prefixed with the copy index,
  so per-copy token/gram/dup structure is byte-equivalent to sf0.1
  while copies share no vocabulary — near-dup and contamination
  workloads scale linearly instead of quadratically (10 exact copies
  of every doc would manufacture k^2 candidate-pair blowup that sf1
  data would not have).
- embeddings: vec_id offset; copy k flips the sign of dimensions
  0..k-1 — a fixed orthogonal transform per copy, so within-copy
  cosines (and hyperplane-LSH structure) are EXACTLY sf0.1's while
  cross-copy vectors rarely collide.
- events: user_id/event offsets, same time range (more users, same
  window — the realistic growth axis).

Usage:
    SPARK_GRAFT_CPUS=32 python scripts/sf1_spot_bench.py
    SPARK_GRAFT_CPUS=8  python scripts/sf1_spot_bench.py

Prints one JSON line: {"cpus": N, "queries": {name: sec, ...},
"corpus": {table: {"rows": n, "digest": d}, ...}}. The data dir
(``DST``) is built once and reused; it is scratch, apart from the
read-only source data (``SRC``). Because a reused dir may
come from another version of this script, the line names the corpus its
timings ran on: each table's row count and ``sum(xxhash64(*cols))``, a
digest that does not depend on row order or file layout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gan_deeplearning4j_spark.queries import REGISTRY  # noqa: E402
from gan_deeplearning4j_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1x10")
COPIES = 10
OFF = 10_000_000  # key offset per copy — far above any sf0.1 key

HEAVY = [
    "dedup_clusters", "minhash_dedup", "pagerank_fixed_topk",
    "contamination_13gram_audit", "tpch_q5_volume", "embedding_neardup_lsh",
]

# per-table key columns that get the copy offset
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["user_id", "event_id"],
}
FIXED = ["region", "nation"]
TABLES = FIXED + list(KEYED) + ["documents", "embeddings"]


def build(spark) -> None:
    if os.path.exists(os.path.join(DST, "_DONE")):
        return
    os.makedirs(DST, exist_ok=True)
    for t in FIXED:
        spark.read.parquet(f"{SRC}/{t}.parquet").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{DST}/{t}.parquet")
    for t, keys in KEYED.items():
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = []
        for k in range(COPIES):
            c = src
            for col in keys:
                if col in c.columns:
                    c = c.withColumn(col, F.col(col) + F.lit(k * OFF))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
    # documents: offset ids, tag every token with the copy index
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    parts = []
    for k in range(COPIES):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * OFF))
        c = c.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda t: F.concat(F.lit(f"{k}"), t),
                ),
                " ",
            ),
        )
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{DST}/documents.parquet")
    # embeddings: offset ids, flip signs of dims 0..k-1 (fixed
    # orthogonal transform per copy)
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    parts = []
    for k in range(COPIES):
        c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * OFF))
        if k:
            c = c.withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda v, i: F.when(i < F.lit(k), -v).otherwise(v),
                ),
            )
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{DST}/embeddings.parquet")
    open(os.path.join(DST, "_DONE"), "w").write("ok\n")


def corpus(spark, root: str) -> dict[str, dict]:
    """Row count and order-independent content digest of each table."""
    out = {}
    for t in TABLES:
        df = spark.read.parquet(f"{root}/{t}.parquet")
        rows, digest = df.agg(
            F.count("*"), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
        ).first()
        out[t] = {"rows": rows, "digest": str(digest)}
    return out


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("sf1-spot-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark)
    tables = corpus(spark, DST)
    # warm the python worker pool (bench.py discipline)
    spark.range(64).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    repeats = int(os.environ.get("SPARK_GRAFT_SF1_REPEATS", "3"))
    out: dict[str, float] = {}
    import gc

    for name in HEAVY:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"sf1 spot: {name}")
        q.fn(spark, DST).write.format("noop").mode("overwrite").save()  # warm
        runs = []
        for _ in range(repeats):
            gc.collect()
            spark.sparkContext._jvm.java.lang.System.gc()
            time.sleep(0.3)
            t0 = time.perf_counter()
            q.fn(spark, DST).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        out[name] = round(runs[len(runs) // 2], 3)
        print(f"# {name}: med {out[name]} (min {runs[0]:.3f})", flush=True)
    print(json.dumps({"cpus": cpus, "sf": "sf0.1 x10 synthetic",
                      "repeats": repeats, "queries": out,
                      "total": round(sum(out.values()), 3), "corpus": tables}))
    spark.stop()


if __name__ == "__main__":
    main()
