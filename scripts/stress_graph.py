"""Graph-family 100x stress harness (SCALE.md methodology).

Replicates the sf0.1 graphs 100x with offset ids (disconnected copies —
wall time should scale ~linearly if the operators shuffle what they
claim) and times the round-7 graph operators end-to-end:

    python scripts/stress_graph.py linkpred  # co-purchase pairs x100
    python scripts/stress_graph.py hits      # customer-supplier edges x100
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gan_deeplearning4j_spark.session import ensure_engine_conf, get_spark  # noqa: E402


def main() -> int:
    which = sys.argv[1] if len(sys.argv) > 1 else "linkpred"
    copies_n = int(os.environ.get("SPARK_GRAFT_STRESS_COPIES", "100"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = ensure_engine_conf(get_spark("stress-graph", master="local[32]"))
    spark.sparkContext.setLogLevel("ERROR")
    copies = F.broadcast(
        spark.range(copies_n).select(F.col("id").alias("rep"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    if which == "linkpred":
        from gan_deeplearning4j_spark.operators.graph import (
            adamic_adar_topk,
            co_purchase_pairs,
        )

        pr = co_purchase_pairs(li)
        big = pr.crossJoin(copies).select(
            (F.col("p1") + F.col("rep") * 10_000_000).alias("p1"),
            (F.col("p2") + F.col("rep") * 10_000_000).alias("p2"),
        )
        n = big.count()
        t0 = time.perf_counter()
        rows = adamic_adar_topk(big, "p1", "p2", k=100).count()
        dt = time.perf_counter() - t0
        print(f"linkpred x{copies_n}: edges={n} -> top rows={rows} "
              f"in {dt:.1f} s")
    elif which == "katz":
        from gan_deeplearning4j_spark.operators.graph import (
            co_purchase_pairs,
            katz_scores,
        )

        pr = co_purchase_pairs(li)
        big = pr.crossJoin(copies).select(
            (F.col("p1") + F.col("rep") * 10_000_000).alias("p1"),
            (F.col("p2") + F.col("rep") * 10_000_000).alias("p2"),
        ).localCheckpoint(eager=True)
        n = big.count()
        t0 = time.perf_counter()
        # the SAME operator the registered query certifies — no inline copy
        x = katz_scores(big, iters=3)
        rows = x.orderBy(F.desc("score"), "node").limit(20).count()
        dt = time.perf_counter() - t0
        print(f"katz x{copies_n}: edges={n} -> top rows={rows} "
              f"in {dt:.1f} s")
    elif which == "hits":
        from gan_deeplearning4j_spark.operators.graph import hits_fixed

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        e = (
            o.join(li, li.l_orderkey == o.o_orderkey)
            .groupBy(
                F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
            )
            .agg(F.count("*").cast("long").alias("w"))
        )
        big = e.crossJoin(copies).select(
            (F.col("c") + F.col("rep") * 10_000_000).alias("c"),
            (F.col("s") + F.col("rep") * 10_000_000).alias("s"),
            "w",
        )
        n = big.count()
        # SPARK_GRAFT_HITS_BCMAX: lower the broadcast threshold to force
        # the shuffled-join fallback at this scale (the past-the-cliff
        # stress row; hash-equality of the two paths is pinned in
        # tests/test_operators.py)
        from gan_deeplearning4j_spark.operators import graph as G

        bc_max = int(os.environ.get("SPARK_GRAFT_HITS_BCMAX",
                                    G.BROADCAST_NODES_MAX))
        G.BROADCAST_NODES_MAX = bc_max
        # Loud heap guard (SCALE.md round-8 note): in single-JVM local
        # mode the checkpointed 58.7M-edge list plus per-half-step join
        # buffers starve an 8 g heap — the broadcast path crawled and the
        # shuffled fallback OOMed outright at the default driver size.
        # Measured good at 32 g for the 100x shape; require ~proportional
        # heap instead of letting the JVM die 60 s in with an opaque GC
        # overhead error. On a real cluster this is executor sizing, not
        # a driver constraint.
        heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        need = int(32 * (1 << 30) * min(copies_n, 100) / 100 * 0.85)
        if heap < need:
            raise SystemExit(
                f"stress_graph hits: JVM max heap {heap / (1 << 30):.1f} g "
                f"is below the ~{need / (1 << 30):.0f} g this {copies_n}x "
                "shape needs (measured: 32 g OK, 8 g OOMs on the shuffled "
                "fallback at 100x). Re-run with SPARK_DRIVER_MEMORY=32g "
                "or fewer SPARK_GRAFT_STRESS_COPIES."
            )
        t0 = time.perf_counter()
        auth, hub = hits_fixed(big, "c", "s", "w", rounds=2)
        rows = auth.count() + hub.count()
        dt = time.perf_counter() - t0
        print(f"hits x{copies_n} (bc_max={bc_max}): edges={n} -> "
              f"scored nodes={rows} in {dt:.1f} s")
    elif which == "sssp":
        # multi-source weighted SSSP over the replicated co-purchase
        # graph: one hub per copy seeds the frontier, so frontier AND
        # edge list both scale with copies (seeding only copy-0's hub
        # would explore one disconnected copy and measure nothing)
        from gan_deeplearning4j_spark.operators.graph import sssp_weighted

        b = li.select("l_orderkey", "l_partkey").distinct()
        a2, c2 = b.alias("a"), b.alias("c")
        e = (
            a2.join(c2, (F.col("c.l_orderkey") == F.col("a.l_orderkey"))
                    & (F.col("c.l_partkey") > F.col("a.l_partkey")))
            .groupBy(F.col("a.l_partkey").alias("p1"),
                     F.col("c.l_partkey").alias("p2"))
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= 2)
            .select("p1", "p2", F.expr("1 + 1000 div cnt").alias("w"))
        )
        und1 = e.select(F.col("p1").alias("node"), F.col("p2").alias("nb"),
                        "w").union(e.select("p2", "p1", "w"))
        big = und1.crossJoin(copies).select(
            (F.col("node") + F.col("rep") * 10_000_000).alias("node"),
            (F.col("nb") + F.col("rep") * 10_000_000).alias("nb"),
            "w",
        ).localCheckpoint(eager=True)
        n = big.count()
        hub0 = (
            und1.groupBy("node").agg(F.count("*").alias("deg"))
            .orderBy(F.desc("deg"), "node").limit(1).select("node")
        )
        seeds = hub0.crossJoin(copies).select(
            (F.col("node") + F.col("rep") * 10_000_000).alias("node")
        )
        t0 = time.perf_counter()
        # the SAME operator the registered query certifies — no inline copy
        best = sssp_weighted(big, seeds, rounds=8)
        rows = best.count()
        dt = time.perf_counter() - t0
        print(f"sssp x{copies_n}: edges={n} -> reached nodes={rows} "
              f"in {dt:.1f} s")
    elif which == "ppr":
        from gan_deeplearning4j_spark.operators.graph import (
            co_purchase_pairs,
            ppr_fixed,
        )

        pr = co_purchase_pairs(li)
        big = pr.crossJoin(copies).select(
            (F.col("p1") + F.col("rep") * 10_000_000).alias("p1"),
            (F.col("p2") + F.col("rep") * 10_000_000).alias("p2"),
        ).localCheckpoint(eager=True)
        n = big.count()
        t0 = time.perf_counter()
        # the SAME operator the registered query certifies — no inline copy
        ranks = ppr_fixed(big, "p1", "p2", iters=3)
        rows = ranks.orderBy(F.desc("rank"), "node").limit(20).count()
        dt = time.perf_counter() - t0
        print(f"ppr x{copies_n}: edges={n} -> top rows={rows} "
              f"in {dt:.1f} s")
    elif which == "reach2":
        # same two-hop shape as the staged q_graph_2hop_reach, over the
        # replicated co-purchase pairs (replicating lineitem itself would
        # mostly measure the pair-building join, already covered above)
        from gan_deeplearning4j_spark.operators.graph import (
            co_purchase_pairs,
        )

        pr = co_purchase_pairs(li)
        big = pr.crossJoin(copies).select(
            (F.col("p1") + F.col("rep") * 10_000_000).alias("s"),
            (F.col("p2") + F.col("rep") * 10_000_000).alias("d"),
        )
        und = big.union(
            big.select(F.col("d").alias("s"), F.col("s").alias("d"))
        ).localCheckpoint(eager=True)
        n = und.count()
        t0 = time.perf_counter()
        u1 = und.select(F.col("s").alias("node"), F.col("d").alias("mid"))
        u2 = und.select(F.col("s").alias("mid"), F.col("d").alias("r"))
        hop2 = (
            u1.join(u2, "mid")
            .filter(F.col("r") != F.col("node"))
            .select("node", "r")
            .union(und.select(F.col("s").alias("node"),
                              F.col("d").alias("r")))
            .distinct()
        )
        rows = (
            hop2.groupBy("node").agg(F.count("*").alias("reach2"))
            .orderBy(F.desc("reach2"), "node").limit(20).count()
        )
        dt = time.perf_counter() - t0
        print(f"reach2 x{copies_n}: und edges={n} -> top rows={rows} "
              f"in {dt:.1f} s")
    else:
        raise SystemExit(f"unknown target {which!r}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
