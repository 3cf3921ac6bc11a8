"""Check minhash_dedup and dedup_clusters against their DuckDB oracles.

The benchmark checks dedup_clusters by property only and does not run
minhash_dedup: the two queries' oracles are exact all-pairs Jaccard joins,
quadratic in the document count (about 12 s and 38 s at sf0.01). This script
runs both queries and both oracles on the benchmark's seeded tables at
sf0.01:

    python3 perfbench/check_dedup_oracles.py --seed 1

Exits 0 when both queries match their oracles, 1 otherwise.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    work = os.path.join(run.ROOT, ".perfbench_work", f"dedup-oracles-{os.getpid()}")
    run.configure_env(work)
    import headline
    from checks import compare_to_oracle

    sf_dir = os.path.join(work, "tables")
    headline.write_tables(sf_dir, headline.SF, args.seed)
    from gan_deeplearning4j_spark.queries import REGISTRY
    from gan_deeplearning4j_spark.session import get_spark

    spark = get_spark("perfbench-dedup-oracles", master=f"local[{run.CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    failed = False
    try:
        con = headline.duckdb_views(sf_dir)
        for name in ("minhash_dedup", "dedup_clusters"):
            q = REGISTRY[name]
            engine = q.fn(spark, sf_dir).toPandas()
            t = time.perf_counter()
            oracle = con.sql(q.oracle).df()
            errs = compare_to_oracle(engine, oracle)
            print(f"{name}: {len(engine)} rows, oracle {time.perf_counter() - t:.1f} s, "
                  + ("match" if not errs else "; ".join(errs)), flush=True)
            failed |= bool(errs)
        con.close()
    finally:
        run.shutdown(spark)
        run.remove_work(work)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
