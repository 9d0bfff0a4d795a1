"""Spans around the program's layers, and the Spark probes that fill them.

A `Tracer` records one span per call into a layer: name, start, end,
parent and tags (query or epoch id). Each span gets its own Spark job
group, so the jobs a span runs directly are attributed to it; jobs run
by a child span belong to the child. Spans live in memory and are
written out once, at the end of the run.

`Tracer.wrap` replaces a class method with a span-recording wrapper for
the duration of a traced run; the cdc workload wraps the storage entry
points the streaming operators call internally (`DiffStateTable.advance`
/ `read_live`, `TransactionalTable.merge` / `append_fresh`). The
program's source is not changed.

The probes read Spark's in-process status stores over py4j, so they
work with the UI disabled:
- `AppStatusStore.job` / `lastStageAttempt`: job intervals, tasks,
  executor run and CPU time, shuffle bytes and spills;
- `SQLAppStatusStore.planGraph` / `executionMetrics`: rows, bytes and
  worker time of the Python (Arrow/pandas) exec nodes;
- `CodegenMetrics.METRIC_COMPILATION_TIME`: whole-stage codegen
  compiles and their time;
- `RuleExecutor.getCurrentMetrics`: Catalyst rule time and runs.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# exec nodes that run Python (Arrow/pandas) workers, and their metrics
PY_NODE_MARKS = ("Python", "Pandas", "Arrow")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
PY_TIME = "time to run Python workers"
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_value(text: str) -> float:
    """A SQL metric as the status store formats it: '2,000',
    '286.4 KiB', '3.2 s' (the first line when it carries a breakdown)."""
    head = text.split("\n")[-1] if text.startswith("total") else text
    parts = head.replace(",", "").split()
    unit = _UNITS.get(parts[1], 1) if len(parts) > 1 else 1
    return float(parts[0]) * unit


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    tags: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # job ids run directly
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With `enabled=False` every call is a no-op, so the
    workloads run the same code with tracing off."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time the tracer spends on its own work
        self._patches: list = []

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, 0.0,
                 tags={**(parent.tags if parent else {}), **tags})
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"pb-{s.id}", name)
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        s.start = t1
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"pb-{parent.id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - s.end

    def wrap(self, cls, method: str, name: str, on_result=None) -> None:
        """Replace cls.method with a span-recording wrapper until
        `unpatch`. on_result(span, result) may record counters."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        setattr(cls, method, traced)
        self._patches.append((cls, method, orig))

    def unpatch(self) -> None:
        for cls, method, orig in reversed(self._patches):
            setattr(cls, method, orig)
        self._patches = []

    # -- attribution ---------------------------------------------------------

    def tree(self, root: Span) -> list[Span]:
        out, ids = [], {root.id}
        for s in self.spans[root.id:]:
            if s.id == root.id or s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def self_time(self, s: Span, tree: list[Span]) -> float:
        return s.dur - sum(c.dur for c in tree if c.parent == s.id)

    def attribute_jobs(self, root: Span, probes: "SparkProbes") -> dict:
        """Collect the Spark jobs of every span under `root` (call right
        after the root closes, before the status store evicts them) and
        return the root's summed job and stage counters."""
        t0 = time.perf_counter()
        tracker = self.spark.sparkContext.statusTracker()
        totals: dict = {}
        intervals = []
        for s in self.tree(root):
            s.jobs = sorted(tracker.getJobIdsForGroup(f"pb-{s.id}"))
            c = probes.jobs(s.jobs)
            intervals += c.pop("_intervals")
            s.counters.update(c)
            for k, v in c.items():
                totals[k] = totals.get(k, 0) + v
        totals["driver_s"] = root.dur - _covered(intervals, root.start, root.end)
        self.overhead_s += time.perf_counter() - t0
        return totals

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "tags": s.tags,
                    "jobs": s.jobs, "counters": s.counters,
                }) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkProbes:
    """Readers of Spark's in-process status over py4j."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = sc._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._rules = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        # perf_counter and the JVM's wall clock differ by a fixed offset
        self._clock_off = time.time() - time.perf_counter()

    def codegen(self) -> tuple[int, float]:
        """(compiles, compile ms) since JVM start."""
        h = self._codegen.METRIC_COMPILATION_TIME()
        snap = h.getSnapshot()
        n = h.getCount()
        # the histogram keeps every sample until its 1028-entry reservoir
        # fills; past that, the mean stands in for the dropped ones
        ms = float(sum(snap.getValues())) if snap.size() >= n else snap.getMean() * n
        return n, ms

    def rules(self) -> tuple[float, int]:
        """(Catalyst rule seconds, rule runs) since JVM start."""
        m = self._rules.getCurrentMetrics()
        return m.time() / 1e9, m.numRuns()

    def jobs(self, job_ids: list[int]) -> dict:
        """Summed counters of the given jobs and their stages."""
        c = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
             "executor_cpu_s": 0.0, "shuffle_write_bytes": 0,
             "shuffle_read_bytes": 0, "spill_bytes": 0,
             "_intervals": []}
        for jid in job_ids:
            try:
                j = self._store.job(jid)
            except Py4JJavaError:  # evicted from the status store
                continue
            c["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                c["_intervals"].append(
                    (sub.get().getTime() / 1e3 - self._clock_off,
                     done.get().getTime() / 1e3 - self._clock_off))
            sids = j.stageIds()
            for i in range(sids.size()):
                try:
                    st = self._store.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return c

    def sql_executions(self) -> int:
        return self._sql.executionsCount()

    def python_nodes(self, first_execution: int) -> dict:
        """Rows, bytes and worker seconds of the Python exec nodes in the
        SQL executions since `first_execution` (an executionsCount)."""
        c = {"python_rows": 0.0, "python_bytes": 0.0, "python_s": 0.0}
        ex = self._sql.executionsList(int(first_execution), 10_000)
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            vals = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not any(m in node.name() for m in PY_NODE_MARKS):
                    continue
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    v = vals.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() in PY_BYTES:
                        c["python_bytes"] += _metric_value(v.get())
                    elif m.name() == PY_TIME:
                        c["python_s"] += _metric_value(v.get())
                    elif m.name() == "number of output rows":
                        c["python_rows"] += _metric_value(v.get())
        return c


def _stats() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                out[int(p)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def _descendants(stats: dict[int, list[str]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def process_start() -> float:
    """This process's start time on the perf_counter clock (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its JVM
    and the JVM's Python workers, including exited children, less the
    JVM's live JIT compiler threads (one that has exited stays counted).
    JIT compilation runs in the background for minutes after start and
    is most of the CPU of a short run; it is warm-up of the platform, not
    work of the program, and its timing varies from run to run."""
    stats = _stats()
    ticks = 0
    for pid in _descendants(stats):
        f = stats.get(pid)
        if f is None:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])  # u/s, children u/s
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        if len(tids) < 2:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    t = fh.read()
            except OSError:
                continue
            if t[t.index("(") + 1:t.rindex(")")] in JIT_THREADS:
                tf = t.rsplit(")", 1)[1].split()
                ticks -= int(tf[11]) + int(tf[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Summed VmHWM (peak resident memory) of this process, its JVM and
    the JVM's Python workers, in MB."""
    kb = 0
    for pid in _descendants(_stats()):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0
