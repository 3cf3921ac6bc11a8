"""The verify skill's driver-replica correctness gate as a script.

Vanilla SparkSession with a NON-UTC timezone (the driver brings its own
session, so hidden dependencies on our tuned session conf must fail here),
every `queries()` entry executed at sf0.01, oracled ones hash-compared
against DuckDB exactly the way the driver does.

Usage:
    python scripts/driver_replica.py                 # every registered query
    python scripts/driver_replica.py name [name...]  # just those queries
    python scripts/driver_replica.py --sample N      # the driver's window

``--sample N`` reproduces the driver's own sampling rule exactly: the
FIRST N entries of ``queries()`` in its returned order (least-verified
first — queries with no green CORRECTNESS_r*.json row sort to the front,
then oldest-green; see ``queries._verification_evidence``). ``--sample 50``
is therefore the exact set the next driver round will grade, computed from
the CORRECTNESS files present at run time. Each run prints a round-stamp
(latest CORRECTNESS round seen + git HEAD) so a recorded transcript pins
which evidence state produced that window.

A query whose Spark run or oracle raises prints ``name ERROR <type>:
<message>``, counts as failed, and the run goes on to the next query; any
failure makes the exit status 1.
"""

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers the session starts import the package too, whatever
# directory the script is started from
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)
import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as E


def main() -> int:
    builder = (SparkSession.builder.master("local[4]")
               .config("spark.sql.session.timeZone", "America/New_York")
               .config("spark.ui.enabled", "false"))
    # SPARK_GRAFT_PERTURB: layout/planner invariance gates (SCALE.md) —
    # results must hash-match the oracle under any of these.
    perturb = os.environ.get("SPARK_GRAFT_PERTURB", "")
    if perturb == "shuffle3":
        builder = builder.config("spark.sql.shuffle.partitions", "3")
    elif perturb == "noaqe":
        builder = builder.config("spark.sql.adaptive.enabled", "false")
    elif perturb == "noansi":
        builder = builder.config("spark.sql.ansi.enabled", "false")
    elif perturb:
        raise SystemExit(f"unknown SPARK_GRAFT_PERTURB={perturb!r}")
    spark = builder.getOrCreate()
    if not E.entry(spark).collect():  # sf0.001 smoke
        raise SystemExit("smoke: entry(spark) returned no rows")

    # SPARK_GRAFT_REPLICA_SF_DIR: run the same gate at another scale
    # factor (e.g. sf0.001 for empty-group/small-regime edge cases)
    sf = os.environ.get(
        "SPARK_GRAFT_REPLICA_SF_DIR", "/root/testdata/sf0.01"
    )
    con = duckdb.connect()
    for t in ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
              'lineitem', 'events', 'documents', 'embeddings']:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    def canon(df):
        cols = sorted(df.columns)

        def cell(v):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return "N"
            if isinstance(v, float):
                if v == int(v) and abs(v) < 1e15:
                    return f"{int(v)}"
                return f"{v:.9g}"
            return str(v)

        return cols, sorted(
            tuple(cell(x) for x in r) for r in df[cols].itertuples(index=False)
        )

    qs, oracles = E.queries(), E.oracle_sql()
    # round-stamp: which evidence state ordered queries() for this run
    import glob
    import re
    import subprocess
    rounds = sorted(
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    )
    try:
        head = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except Exception:  # noqa: BLE001
        head = "?"
    print(f"round-stamp: evidence through r{rounds[-1] if rounds else 0}, "
          f"git {head or '?'}, sf_dir {sf}, perturb {perturb or 'none'}",
          flush=True)

    args = sys.argv[1:]
    if args[:1] == ["--sample"]:
        if len(args) != 2 or not args[1].isdigit():
            raise SystemExit("usage: driver_replica.py --sample N")
        names = list(qs)[: int(args[1])]
    else:
        names = args or list(qs)
    fails = []
    for name in names:
        # reset to a non-UTC timezone before EVERY query: a query must be
        # correct standalone, not because an earlier query on the shared
        # session happened to set UTC (the driver's run order is its own)
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            sdf = qs[name](spark, sf).toPandas()
            if name in oracles:
                sc, sr = canon(sdf)
                oc, orows = canon(con.sql(oracles[name]).df())
                if not (sc == oc and sr == orows):
                    fails.append(name)
        except Exception as e:  # noqa: BLE001 — one query's error must not end the run
            fails.append(name)
            # first line and last line: a Python worker's error ends its traceback
            lines = str(e).strip().splitlines() or [""]
            msg = " ... ".join(dict.fromkeys([lines[0], lines[-1]]))
            print(f"{name} ERROR {type(e).__name__}: {msg}", flush=True)
            continue
        # a 0-row result still hash-matches a 0-row oracle — loud flag
        # so vacuous greens get eyeballed (some are legit: sparse-graph
        # ops can be empty at one SF; a NEW query should never be)
        note = " (0 ROWS — vacuous match?)" if len(sdf) == 0 else ""
        print(name, ("MISMATCH" if name in fails else "ok") + note,
              flush=True)
    print(f"{len(names) - len(fails)}/{len(names)} pass")
    if fails:
        print("FAILED:", " ".join(fails))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
