"""Benchmark of the engine's GAN training and inference dataflow and of its
headline queries.

    python3 perfbench/run.py --workload gan --seed 1 --seconds 24 --trace 0

Run from the repository root. Prints, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the run also writes spans and per-operation
status-store counts to ``.perfbench_traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = len(os.sched_getaffinity(0))
BLAS_THREADS = "1"
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
             "NUMEXPR_NUM_THREADS")
WORKLOADS = ("gan", "headline_queries")
# Timed passes per run: --seconds buys round(seconds / NOMINAL_PASS_S) of
# them, at least MIN_PASSES, so each operation's median has three or more
# samples. The count depends on the arguments only, never on how fast the
# passes turn out. NOMINAL_PASS_S is a pass's wall time on a 4-core VM.
MIN_PASSES = 3
NOMINAL_PASS_S = {"gan": 8.0, "headline_queries": 8.0}
END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "core-s",
              "driver_peak_rss_mb": "MB", "shuffle_mb": "MB"}


def configure_env(work: str) -> None:
    """Pin the thread budget and keep every file the run writes inside the
    checkout. Must run before numpy or Spark start: the JVM and the Python
    workers inherit this environment."""
    for var in BLAS_VARS:
        os.environ[var] = BLAS_THREADS
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # CompileThresholdScaling=0.1: the JIT compiles hot methods after a tenth
    # of the usual invocations, so the warm-up passes in set-up reach the
    # compiled steady state the timed passes measure
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:CompileThresholdScaling=0.1"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the JVM that builds the spark-submit command
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '{jvm_opts}' pyspark-shell")
    sys.path[:0] = [ROOT, HERE]


class Context:
    """What a workload needs from the run: seed, cores, a work directory, the
    Spark session, and the set-up / pass bookkeeping."""

    def __init__(self, bench, seed: int, work: str):
        self.bench = bench
        self.seed = seed
        self.cpus = CPUS
        self.work = work
        self.info: dict = {"cpus": CPUS, "seed": seed}
        self.setup_end = None
        self.rss_mb = None
        self.spark = None

    def record_digest(self, name: str, *arrays) -> None:
        h = hashlib.sha256()
        for a in arrays:
            h.update(a.tobytes())
        self.info.setdefault("digests", {})[name] = h.hexdigest()

    def start_spark(self):
        from gan_deeplearning4j_spark.session import get_spark

        t = time.perf_counter()
        self.phase("inputs")
        spark = get_spark("perfbench", master=f"local[{CPUS}]")
        self.bench.layer["session.start_s"] = time.perf_counter() - t
        self.phase("session")
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.bench.attach(spark)
        ok, threads = self.bench.run_op("thread_probe", lambda: _worker_threads(spark),
                                        warmup=True)
        self.info["threads"] = {"spark_slots": CPUS, "driver": _thread_env(),
                                "workers": threads if ok else None}
        self.phase("thread_probe")
        return spark

    def phase(self, name: str) -> None:
        """Note how far into the run (seconds since start) a phase ended."""
        self.info.setdefault("phases", {})[name] = time.perf_counter() - T0

    def mark_setup_done(self) -> None:
        self.setup_end = time.perf_counter()
        self.phase("setup")

    def mark_pass_done(self) -> None:
        import harness

        self.rss_mb = harness.peak_rss_mb()
        self.phase("passes")


def _thread_env() -> dict:
    return {v: os.environ.get(v) for v in BLAS_VARS}


def _worker_threads(spark) -> list[dict]:
    """The BLAS thread settings each Python worker sees."""
    import pandas as pd

    def probe(batches):
        import os as _os
        for _ in batches:
            pass
        yield pd.DataFrame({"env": [json.dumps({v: _os.environ.get(v) for v in BLAS_VARS})]})

    rows = (spark.range(CPUS).repartition(CPUS).mapInPandas(probe, "env string")
            .distinct().collect())
    return [json.loads(r["env"]) for r in rows]


def end_to_end(bench, ctx) -> dict:
    import harness

    s = bench.samples
    return {
        "setup_s": ctx.setup_end - T0,
        "pass_s": harness.per_op_median(s, "wall"),
        "cpu_s": harness.per_op_median(s, "cpu"),
        "driver_peak_rss_mb": ctx.rss_mb,
        "shuffle_mb": harness.per_op_median(s, "shuffle_write_b") / harness.MB,
    }


PER_LAYER = {
    "session.start_s": "s", "queries.import_s": "s", "queries.build_s": "s",
    "io.csv_read_s": "s", "io.csv_write_s": "s", "spark.input_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "core-s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.result_mb": "MB",
    "python.sent_mb": "MB", "python.received_mb": "MB", "python.run_s": "s",
    "kernels.step_s": "s", "kernels.forward_s": "s",
    "pipeline.round_s.dis": "s", "pipeline.round_s.gan": "s", "pipeline.round_s.cv": "s",
    "pipeline.fit_tasks": "count", "pipeline.fit_stage_s": "s",
    "pipeline.exchange_rows": "count", "pipeline.exchange_mb": "MB",
    "pipeline.collect_rows": "count", "pipeline.unpack_s": "s",
    "pipeline.predict_rows_per_s": "1/s", "trace.overhead_pct": "%",
}


def per_layer(bench) -> dict:
    import harness

    ts = bench.traced_samples
    for runs in ts.values():
        for s in runs:
            py = s.get("python", [])
            s["py_sent"] = sum(n.get("data sent to Python workers", 0) for n in py)
            s["py_recv"] = sum(n.get("data returned from Python workers", 0) for n in py)
            s["py_run"] = sum(n.get("time to run Python workers", 0) for n in py)
    med = lambda key: harness.per_op_median(ts, key)  # noqa: E731
    out = {name: 0.0 for name in PER_LAYER}
    out.update({
        "spark.input_mb": med("input_b") / harness.MB,
        "spark.jobs": med("jobs"), "spark.stages": med("stages"), "spark.tasks": med("tasks"),
        "spark.executor_run_s": med("run_ms") / 1e3,
        "spark.executor_cpu_s": med("cpu_ns") / 1e9,
        "spark.gc_s": med("gc_ms") / 1e3,
        "spark.shuffle_write_mb": med("shuffle_write_b") / harness.MB,
        "spark.spill_mb": med("spill_b") / harness.MB,
        "spark.result_mb": med("result_b") / harness.MB,
        "python.sent_mb": med("py_sent") / harness.MB,
        "python.received_mb": med("py_recv") / harness.MB,
        "python.run_s": med("py_run"),
    })
    out.update(bench.layer)
    untraced = harness.median(bench.pass_walls["untraced"])
    traced = harness.median(bench.pass_walls["traced"])
    out["trace.overhead_pct"] = 100.0 * (traced / untraced - 1.0) if untraced else 0.0
    return out


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run started
    has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    import harness

    deadline = time.monotonic() + 30
    while True:
        left = harness.descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    import harness
    import gan
    import headline

    run = {"gan": gan.gan, "headline_queries": headline.headline_queries}[args.workload]
    bench = harness.Bench(args.workload, bool(args.trace), T0)
    ctx = Context(bench, args.seed, work)
    try:
        passes = max(MIN_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        ctx.info["timed_passes"] = passes
        outcome = run(bench, ctx, passes)
        metrics = per_layer(bench) if args.trace else end_to_end(bench, ctx)
        units = PER_LAYER if args.trace else END_TO_END
        if args.trace:
            write_trace(bench, ctx, metrics, outcome["errors"], args)
    finally:
        if ctx.spark is not None:
            shutdown(ctx.spark)
        remove_work(work)
    for err in bench.errors + outcome["errors"]:
        print(err, file=sys.stderr)
    ctx.phase("checks_and_shutdown")
    print(json.dumps(ctx.info.get("phases")), file=sys.stderr)
    result = {
        "correct": not outcome["errors"],
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def write_trace(bench, ctx, metrics, errors, args) -> None:
    """Spans, per-operation (job group) counts and the run's notes, as one
    JSON file under .perfbench_traces/."""
    import harness

    out_dir = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
    ops = {name: [{**{k: v for k, v in s.items() if k != "sub"},
                   "sub_groups": {label: [harness.sum_stages(st) for st in reads]
                                  for label, reads in s["sub"].items()}}
                  for s in runs]
           for name, runs in bench.traced_samples.items()}
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "info": ctx.info, "per_layer": metrics, "errors": errors,
                   "pass_walls": bench.pass_walls, "ops": ops,
                   "spans": bench.tracer.spans}, fh, indent=1, default=str)
    print(f"trace written to {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
