#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Execution is forced with the noop sink (full pipeline runs, no driver
collect), which is what a cluster job would look like.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gan_deeplearning4j_spark.queries import REGISTRY  # noqa: E402
from gan_deeplearning4j_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("gan-dl4j-spark-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    headliners = {n: q for n, q in REGISTRY.items() if q.headline}
    errors: dict[str, str] = {}
    # warm the JVM + parquet footers so per-query numbers reflect execution
    try:
        next(iter(headliners.values())).fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        # warm the Python worker pool too: the first pandas-UDF stage
        # otherwise pays ~1-2 s of worker forking inside whichever dedup
        # query happens to run first
        spark.range(64).repartition(cpus).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001
        errors["warmup"] = f"{type(exc).__name__}: {exc}"[:300]

    # SPARK_GRAFT_BENCH_REPEATS: run each query n times, report the median
    # (robust against one GC/compilation hiccup) plus per-query population
    # sigma so regressions can be told apart from noise. Default 3: the
    # first execution of a query pays whole-stage-codegen + JIT compilation
    # (r3 measurement: single-shot total 13.8 s vs 6.8 s steady state), so
    # a single-shot number benchmarks the compiler, not the engine. The
    # repeats/sigma fields in the JSON line make the methodology explicit.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    timings: dict[str, float] = {}
    sigmas: dict[str, float] = {}
    firsts: dict[str, float] = {}
    total = 0.0
    total_first = 0.0
    for name, q in headliners.items():
        runs: list[float] = []
        # one broken query must not sink the whole bench run: record the
        # failure in the JSON line and keep timing the rest
        try:
            for _ in range(repeats):
                t0 = time.perf_counter()
                q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        # first execution = the r1-r3 "single-shot" methodology (pays
        # whole-stage-codegen + JIT); recorded alongside the median so
        # cross-round comparisons never mix methodologies again
        firsts[name] = round(runs[0], 3)
        total_first += firsts[name]
        runs.sort()
        med = runs[len(runs) // 2] if len(runs) % 2 else (
            runs[len(runs) // 2 - 1] + runs[len(runs) // 2]
        ) / 2
        timings[name] = round(med, 3)
        if repeats > 1:
            mean = sum(runs) / len(runs)
            sigmas[name] = round(
                (sum((r - mean) ** 2 for r in runs) / len(runs)) ** 0.5, 3
            )
        total += timings[name]

    out = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # both methodologies, explicitly: `value` == total_median (the
        # steady-state engine number); total_single_shot is comparable to
        # the r1/r3 records which ran each query exactly once
        "total_median": round(total, 3),
        "total_single_shot": round(total_first, 3),
        "queries_single_shot": firsts,
    }
    if repeats > 1:
        out["repeats"] = repeats
        out["sigma"] = sigmas
    # Isolated per-query medians (r8 verdict ask #4): the in-suite numbers
    # above interleave 3-second iterative-graph/dedup headliners whose
    # GC/JIT pressure moves sub-second queries ±10-22% round-over-round
    # with byte-identical plans (SCALE.md measured the TPC-H trio at
    # 0.76-0.86 s isolated vs 0.83-0.94 s in-suite). This second pass
    # re-times each query after a forced JVM+Python GC and a short
    # settle, over its own consecutive repeats, so the measured run only
    # carries its own allocation pressure — the cross-round comparison
    # series. (Whole-stage-codegen caches survive the GC, so these are
    # steady-state numbers, not re-JIT ones.)
    iso_repeats = int(os.environ.get("SPARK_GRAFT_BENCH_ISO_REPEATS", "5"))
    if iso_repeats > 0:
        import gc as _pygc

        jvm_gc = spark.sparkContext._jvm.java.lang.System.gc
        iso: dict[str, float] = {}
        iso_sigmas: dict[str, float] = {}
        # Exec-only decomposition (r12 verdict ask #1, made permanent):
        # each isolated repeat is timed twice — (a) wall as before
        # (driver-side DataFrame construction + analysis + execution) and
        # (b) exec-only (the DataFrame is BUILT un-timed, then only the
        # noop action is timed). The r12 SCALE.md decomposition showed
        # driver-box drift (argmax_accuracy 0.26 s wall vs 0.143 s
        # exec-only) lives almost entirely in the Python-side
        # construction/analysis half, which scales with REGISTRY size and
        # box load, not with the engine. The exec-only series is the
        # cross-round engine number; wall stays for continuity.
        exc_only: dict[str, float] = {}
        exc_sigmas: dict[str, float] = {}
        for name, q in headliners.items():
            if name in errors:
                continue
            _pygc.collect()
            jvm_gc()
            time.sleep(0.3)
            runs = []
            eruns = []
            try:
                for _ in range(iso_repeats):
                    t0 = time.perf_counter()
                    df = q.fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    runs.append(t2 - t0)
                    eruns.append(t2 - t1)
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"isolated: {type(exc).__name__}: {exc}"[:300]
                continue

            def _med_sig(xs: list[float]) -> tuple[float, float]:
                xs = sorted(xs)
                med = xs[len(xs) // 2] if len(xs) % 2 else (
                    xs[len(xs) // 2 - 1] + xs[len(xs) // 2]
                ) / 2
                mean = sum(xs) / len(xs)
                sig = (sum((r - mean) ** 2 for r in xs) / len(xs)) ** 0.5
                return round(med, 3), round(sig, 3)

            iso[name], iso_sigmas[name] = _med_sig(runs)
            exc_only[name], exc_sigmas[name] = _med_sig(eruns)
        out["queries_isolated_median"] = iso
        out["sigma_isolated"] = iso_sigmas
        out["iso_repeats"] = iso_repeats
        out["total_isolated_median"] = round(sum(iso.values()), 3)
        out["queries_exec_only_median"] = exc_only
        out["sigma_exec_only"] = exc_sigmas
        out["total_exec_only_median"] = round(sum(exc_only.values()), 3)
        # construction share per query: (wall - exec) / wall — a high
        # share means the query's cross-round wall drift is driver-side
        # plan building, not engine execution
        out["construction_share"] = {
            n: round((iso[n] - exc_only[n]) / iso[n], 2)
            for n in exc_only
            if n in iso and iso[n] > 0
        }
        # Per-query in-suite/isolated ratio (r9 verdict ask #4): on a busy
        # box the in-suite series inflates up to 13x (r9 driver run:
        # doc_stats 4.36 s in-suite vs 0.33 s isolated) with byte-identical
        # plans. A ratio >> 1 means the in-suite number measured box
        # contention, not the engine — readers must quote ONLY the isolated
        # series for cross-round comparisons; in-suite stays for
        # continuity with r1-r8 records.
        out["noise_ratio"] = {
            n: round(timings[n] / iso[n], 2)
            for n in iso
            if n in timings and iso[n] > 0
        }
        ratios = sorted(out["noise_ratio"].values())
        if ratios:
            out["noise_ratio_median"] = ratios[len(ratios) // 2]
            out["noise_ratio_max"] = ratios[-1]
        # exec-only is the engine series: it excludes the driver-side
        # construction/analysis half whose cost tracks REGISTRY size and
        # box load (r12 drift postmortem). Readers comparing rounds
        # before r13 should use queries_isolated_median (wall), which is
        # still emitted above.
        #
        # EXCEPTION — eager-iterative queries: a fn() that runs
        # localCheckpoint rounds (CC label propagation, pagerank power
        # iterations) executes its heavy jobs DURING construction, so
        # its exec-only number covers only the final stage (r13
        # measurement: dedup_clusters 2.49 s wall / 0.17 s exec,
        # construction_share 0.93; pagerank 0.99). For those, quote the
        # WALL. They are the queries whose construction_share exceeds
        # 0.85 (declarative headliners sit at 0.16-0.68 at sf0.1).
        out["quote_this_series"] = "queries_exec_only_median"
        out["quote_wall_for_eager_iterative"] = sorted(
            n for n, share in out["construction_share"].items()
            if share > 0.85
        )

    if errors:
        out["errors"] = errors
    # Full diagnostics record first (every series: single-shot, in-suite,
    # isolated, exec-only, sigmas) — nothing is dropped...
    print(json.dumps(out))
    # ...then the driver-parseable contract line LAST. The driver keeps
    # only the last ~2000 chars of bench output and json-parses the last
    # line inside that window: BENCH_r01-r08 parsed fine, but the full
    # record outgrew the window when r9 added the isolated series, and
    # BENCH_r09..r12 all show "parsed": null — four rounds of per-query
    # PERF data silently lost (r13 optimization round, guide §1 "measure
    # first" applied to the measurement channel itself). The compact line
    # carries exactly the fields the driver parsed through r08 — same
    # names, same in-suite-median methodology, every existing `queries`
    # entry — so the cross-round series is unbroken.
    print(json.dumps(compact_line(out)))
    spark.stop()


def compact_line(out: dict) -> dict:
    """The driver-facing subset of the full bench record.

    Must stay well under the driver's 2000-char tail window (the full
    line is asserted < 1900 chars in tests/test_bench_contract.py with
    headroom for growth of the headline set); field semantics are frozen
    to the r01-r08 contract: `value` == sum of in-suite per-query medians
    == `queries` summed. Extended series live in the full record printed
    on the line above (and in this round's OPTIMIZATION_r13.md tables)."""
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        "sf": out["sf"],
    }
    if "repeats" in out:
        compact["repeats"] = out["repeats"]
    # one short contention-robust scalar (r13 verdict ask #2b): the
    # in-suite `value` above inflates up to 4x under box contention with
    # byte-identical plans (BENCH_r13 noise_ratio_max 4.15), so the
    # driver's record also carries the exec-only total — the engine
    # series readers should quote for cross-round comparisons. Additive:
    # no existing field changes meaning; costs ~35 chars of the budget,
    # and is the FIRST thing dropped if the headline set ever grows the
    # line toward the driver window (the r01-r08 core contract fields
    # always survive intact).
    if "total_exec_only_median" in out:
        compact["total_exec_only_median"] = out["total_exec_only_median"]
        if len(json.dumps(compact)) >= 1900:
            del compact["total_exec_only_median"]
    if "errors" in out:
        # names only — full messages are in the diagnostics record
        compact["errors"] = sorted(out["errors"])
    return compact


if __name__ == "__main__":
    main()
