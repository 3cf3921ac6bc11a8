"""Measurement harness shared by the workloads.

Everything here measures the engine from outside: wall and CPU time around
the benchmark's own calls, Spark's status store read per job group after the
listener bus is drained, and (traced runs only) spans around calls into the
package's public functions plus the SQL metrics Spark keeps for its Python
exec nodes.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import resource
import statistics
import time
import traceback

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1e6
# passes of each kind in a traced run; its per-layer numbers have no bound
TRACED_PASSES = 2


# ---------------------------------------------------------------------------
# CPU of this process tree (Python driver, JVM, Python workers)
# ---------------------------------------------------------------------------

def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime in seconds) for every process
    visible in /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                raw = fh.read().decode()
        except OSError:
            continue  # exited between listdir and open
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[0] is state (stat field 3): ppid = 4, utime..cstime = 14..17
        ticks = sum(int(x) for x in fields[11:15])
        out[int(entry)] = (int(fields[1]), ticks / CLK_TCK)
    return out


def _tree(root: int | None) -> tuple[list[int], dict]:
    """([root, its descendants...], per-pid stats) from one read of /proc."""
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out, stats


def descendants(root: int | None = None) -> list[int]:
    return _tree(root)[0][1:]


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and all its descendants, counting
    children that already exited through their parent's cutime/cstime."""
    pids, stats = _tree(root)
    return sum(stats[pid][1] for pid in pids if pid in stats)


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024 / MB


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

STAGE_FIELDS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_b",
                "shuffle_write_rec", "shuffle_read_rec", "spill_b", "result_b",
                "input_b", "wall_ms")

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
         "min": 60.0, "h": 3600.0}
_PY_NODE = re.compile(r"InPandas|InArrow|EvalPython|Python")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it ('12.3 KiB', '450 ms',
    'total (min, med, max (stageId: taskId))\\n1.2 MiB (...)') -> bytes,
    seconds or a plain count."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-zµ]*)", body)
    if not m:
        raise ValueError(f"unparsable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


class StatusStore:
    """Reads jobs, stages and SQL executions that ran since the last read."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.max_stage = -1
        self.jobs_read = 0
        self.max_exec = self._last_execution_id()

    def drain(self) -> None:
        """Wait until every listener event posted so far is processed, so
        counts read next are complete."""
        self._bus.waitUntilEmpty()

    def _last_execution_id(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def stages_for_group(self, group: str) -> list[dict]:
        """Completed stages of the group's jobs that first ran after the last
        read (a shuffle stage reused from earlier work is not counted twice)."""
        seen: set[int] = set()
        rows = []
        jobs = self.sc.statusTracker().getJobIdsForGroup(group)
        self.jobs_read += len(jobs)
        for jid in jobs:
            job = self._store.job(jid)
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid <= self.max_stage or sid in seen:
                    continue
                seen.add(sid)
                s = self._store.lastStageAttempt(sid)
                if s.status().toString() != "COMPLETE":
                    continue
                sub, done = s.submissionTime(), s.completionTime()
                wall = (done.get().getTime() - sub.get().getTime()
                        if sub.isDefined() and done.isDefined() else 0)
                rows.append({
                    "stage": sid, "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(), "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(), "shuffle_write_b": s.shuffleWriteBytes(),
                    "shuffle_write_rec": s.shuffleWriteRecords(),
                    "shuffle_read_rec": s.shuffleReadRecords(),
                    "spill_b": s.diskBytesSpilled() + s.memoryBytesSpilled(),
                    "result_b": s.resultSize(), "input_b": s.inputBytes(),
                    "wall_ms": wall,
                })
        return rows

    def close_read(self, stages: list[dict]) -> None:
        if stages:
            self.max_stage = max(self.max_stage, max(s["stage"] for s in stages))

    def python_nodes(self) -> list[dict]:
        """Python exec nodes (MapInArrow, MapInPandas, FlatMapGroupsInPandas,
        ...) of the SQL executions started since the last call, with their
        SQL metrics parsed to bytes / seconds / counts."""
        nodes = []
        eid = self.max_exec + 1
        while True:
            opt = self._sql.execution(eid)
            if not opt.isDefined():
                break
            self.max_exec = eid
            values = {}
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            graph = self._sql.planGraph(eid).allNodes()
            for i in range(graph.size()):
                node = graph.apply(i)
                name = node.name()
                if not _PY_NODE.search(name):
                    continue
                ms = node.metrics()
                row = {"execution": eid, "node": name}
                for k in range(ms.size()):
                    metric = ms.apply(k)
                    text = values.get(metric.accumulatorId())
                    if text is not None:
                        row[metric.name()] = parse_metric(text)
                nodes.append(row)
            eid += 1
        return nodes


def sum_stages(stages: list[dict]) -> dict:
    out = {f: 0 for f in STAGE_FIELDS}
    out["stages"] = len(stages)
    for s in stages:
        for f in STAGE_FIELDS:
            out[f] += s[f]
    return out


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call.
        ``on_call(rec, args, kwargs)`` may add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                if on_call is not None:
                    on_call(rec, args, kwargs)
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr``; ``unwrap_all`` puts the original back."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# Operations, passes and failure accounting
# ---------------------------------------------------------------------------

class Bench:
    """Runs operations under job groups and keeps one sample per execution.

    A sample holds the op's wall time, the CPU of the process tree during it,
    and the status-store counts of the stages it ran."""

    def __init__(self, workload: str, trace: bool, t0: float):
        self.workload = workload
        self.trace = trace
        self.tracer = Tracer(t0)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[dict]] = {}
        self.traced_samples: dict[str, list[dict]] = {}
        self.pass_walls: dict[str, list[float]] = {"untraced": [], "traced": []}
        self.store: StatusStore | None = None
        self.layer: dict[str, float] = {}
        self.subgroups: list[tuple[str, str]] = []
        self._seq = 0

    def attach(self, spark) -> None:
        self.store = StatusStore(spark)

    @contextlib.contextmanager
    def job_group(self, name: str):
        """Run the enclosed actions under a fresh job group; yields the group
        id. Restores the enclosing group on exit."""
        sc = self.store.sc
        outer = sc.getLocalProperty("spark.jobGroup.id")
        outer_desc = sc.getLocalProperty("spark.job.description")
        self._seq += 1
        group = f"{self.workload}:{name}:{self._seq}"
        sc.setJobGroup(group, name)
        try:
            yield group
        finally:
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(outer, outer_desc or "")

    def run_op(self, name: str, fn, warmup: bool = False, traced: bool = False):
        """Attempt one operation. Returns (ok, result). A failure is counted
        and its traceback kept; it never stops the run."""
        self.attempted += 1
        self.subgroups = []
        with self.job_group(name) as group:
            cpu0 = tree_cpu_s()
            t = time.perf_counter()
            try:
                if traced:
                    with self.tracer.span(f"op:{name}"):
                        result = fn()
                else:
                    result = fn()
            except Exception:  # noqa: BLE001 - the op boundary keeps the run going
                self.failed += 1
                self.errors.append(f"{name}: {traceback.format_exc(limit=8)}")
                return False, None
            wall = time.perf_counter() - t
            cpu = tree_cpu_s() - cpu0
        self.store.drain()
        jobs0 = self.store.jobs_read
        stages = self.store.stages_for_group(group)
        sub = {}
        for label, sgroup in self.subgroups:
            sstages = self.store.stages_for_group(sgroup)
            sub.setdefault(label, []).append(sstages)
            stages = stages + sstages
        self.store.close_read(stages)
        sample = {"wall": wall, "cpu": cpu, "jobs": self.store.jobs_read - jobs0,
                  **sum_stages(stages), "sub": sub}
        if traced:
            sample["python"] = self.store.python_nodes()
        elif self.trace:
            self.store.python_nodes()  # advance past untraced executions
        if not warmup:
            (self.traced_samples if traced else self.samples).setdefault(name, []).append(sample)
        return True, result

    def sub_group(self, label: str):
        """Job group for a part of the running op (traced runs), read back
        with the op's own stages."""
        bench = self

        @contextlib.contextmanager
        def cm():
            with bench.job_group(label) as g:
                bench.subgroups.append((label, g))
                yield g
        return cm()

    def run_passes(self, ops, passes: int, traced: bool = False, after_pass=None) -> None:
        """``passes`` whole passes over ``ops``. The count is fixed before the
        first pass, so every run attempts the same operations whatever the
        machine's speed, and a faster program never buys itself extra, warmer
        passes."""
        for _ in range(passes):
            wall = 0.0
            for name, fn in ops:
                ok, _ = self.run_op(name, fn, traced=traced)
                samples = self.traced_samples if traced else self.samples
                if ok:
                    wall += samples[name][-1]["wall"]
            self.pass_walls["traced" if traced else "untraced"].append(wall)
            if after_pass is not None:
                after_pass()

    def measure(self, ops, passes: int, instrument=None, after_pass=None,
                on_traced_pass=None) -> None:
        """The timed part of a run. Untraced: ``passes`` passes. Traced:
        ``TRACED_PASSES`` untraced and as many traced passes, alternating
        (``instrument`` installs the spans, ``tracer.unwrap_all`` removes
        them), so the overhead compares passes from the same stretch of the
        run."""
        if not self.trace:
            self.run_passes(ops, passes, after_pass=after_pass)
            return
        for k in range(2 * TRACED_PASSES):
            traced = k % 2 == 1
            if traced and instrument is not None:
                instrument()
            self.run_passes(ops, 1, traced=traced, after_pass=after_pass)
            if traced:
                self.tracer.unwrap_all()
                if on_traced_pass is not None:
                    on_traced_pass()


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_op_median(samples: dict[str, list[dict]], key: str) -> float:
    """Sum over operations of the median of ``key`` across their samples."""
    return sum(median(s[key] for s in runs) for runs in samples.values())
