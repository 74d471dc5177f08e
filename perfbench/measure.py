"""Statistics, spans and the outside-in collectors.

Everything here reads the engine from outside: Spark's status stores,
the Catalyst phase tracker, the JVM's management beans and Spark's
codegen metrics over py4j, the Python UDF profiler, /proc and the
file system. Nothing in the program under test
is changed to be measured.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager

# ---------------------------------------------------------------- stats


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError(f"geomean needs positive values, got {values!r}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least `beyond` samples above it:
    (percentile, value), or None when there are not enough samples.
    With n sorted samples the value is the (n - beyond)-th smallest,
    so exactly `beyond` samples lie beyond it (ties aside)."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond
    return 100.0 * k / n, sorted(values)[k - 1]


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def drift(values: list[float]) -> float:
    """Median of the second half over median of the first half: above
    1 when passes slow down over the window (a leak shows here)."""
    h = len(values) // 2
    return statistics.median(values[-h:]) / statistics.median(values[:h])


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: id, name, parent, start, end. Disabled, it
    records nothing, so untraced runs share the traced code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Each span's duration minus the part its children cover, summed
    per span name with `item:<x>` folded to its kind."""
    kids: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + (
                s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        key = s["name"].split(":", 1)[0]
        own = (s["end"] - s["start"]) - kids.get(s["id"], 0.0)
        out[key] = out.get(key, 0.0) + own
    return out


# ----------------------------------------------------------- collectors


class Py4JCounter:
    """Counts the py4j round trips the calling thread makes, by wrapping
    the gateway client's send_command while active. Calls from other
    threads share the client and are not counted."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    @contextmanager
    def counting(self):
        orig = self._client.send_command
        me = threading.get_ident()

        def send_command(*args, **kwargs):
            if threading.get_ident() == me:
                self.calls += 1
            return orig(*args, **kwargs)

        self._client.send_command = send_command
        try:
            yield
        finally:
            del self._client.send_command


def group_jobs(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


_STAGE_FIELDS = {
    "exec.task_s": ("executorRunTime", 1e-3),
    "exec.task_cpu_s": ("executorCpuTime", 1e-9),
    "exec.input_mb": ("inputBytes", 1 / 2**20),
    "exec.shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "exec.shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "exec.spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "exec.tasks": ("numCompleteTasks", 1),
    "exec.failed_tasks": ("numFailedTasks", 1),
    "exec.killed_tasks": ("numKilledTasks", 1),
}


def stage_metrics(spark, job_ids: list[int]) -> dict[str, float]:
    """Task-level sums over every stage of the given jobs, read from
    the status store's last attempt of each stage, plus the number of
    shuffle map stages (exec.exchanges: stages that wrote shuffle)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(_STAGE_FIELDS, 0.0)
    out["exec.exchanges"] = 0.0
    stages = set()
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # skipped stages have no attempt
            continue
        for key, (field, scale) in _STAGE_FIELDS.items():
            out[key] += getattr(sd, field)() * scale
        if sd.shuffleWriteRecords() > 0:
            out["exec.exchanges"] += 1
    return out


class JvmCounters:
    """Cumulative JVM-wide counters, read over py4j: Spark's codegen
    compilations (CodegenMetrics), HotSpot's JIT compile time
    (CompilationMXBean) and collection time (GarbageCollectorMXBeans).
    One JVM runs the scheduler and every executor in local mode."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._codegen = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                         .METRIC_COMPILATION_TIME())
        self._arrays = jvm.java.util.Arrays
        self._jit = mf.getCompilationMXBean()
        self._gcs = mf.getGarbageCollectorMXBeans()

    def read(self) -> dict:
        # the compile-time histogram's reservoir (1028 samples, one per
        # compile, in ms), as one string: a py4j call per value is slow
        text = self._arrays.toString(self._codegen.getSnapshot().getValues())
        return {
            "codegen.compiles": float(self._codegen.getCount()),
            "codegen.samples": Counter(int(x) for x in
                                       text.strip("[]").split(",") if x),
            "jvm.jit_s": self._jit.getTotalCompilationTime() / 1e3,
            "jvm.gc_s": sum(self._gcs.get(i).getCollectionTime()
                            for i in range(self._gcs.size())) / 1e3,
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        """The counters' growth between two reads. codegen.compile_ms
        sums the samples the reservoir gained: exact while it holds
        every compile of the run, n times their mean once it is full."""
        n = after["codegen.compiles"] - before["codegen.compiles"]
        new = after["codegen.samples"] - before["codegen.samples"]
        kept = sum(new.values())
        return {"codegen.compiles": n,
                "codegen.compile_ms": (sum(new.elements()) * n / kept
                                       if kept else 0.0),
                "jvm.jit_s": after["jvm.jit_s"] - before["jvm.jit_s"],
                "jvm.gc_s": after["jvm.gc_s"] - before["jvm.gc_s"]}


def materialized(spark) -> dict[str, float]:
    """What stays materialized: persistent RDDs the context still
    tracks, and the memory and disk their cached blocks hold."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return {"materialize.live_rdds": float(jsc.getPersistentRDDs().size()),
            "materialize.cached_mb": held / 2**20}


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40}
_PY_METRICS = {"data sent to Python workers": "udf.to_python_mb",
               "data returned from Python workers": "udf.from_python_mb"}


def _size_bytes(text: str) -> float:
    """First figure of a size SQL metric's display string, e.g.
    'total (min, med, max ...)\\n1.5 MiB (...)' -> 1572864."""
    m = re.search(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b",
                  text.split("\n")[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def python_node_metrics(spark, job_ids: list[int]) -> dict[str, float]:
    """Bytes crossing the JVM/Python boundary: the Python nodes' SQL
    metrics of every SQL execution the given jobs belong to."""
    sc = spark.sparkContext
    app_store = sc._jsc.sc().statusStore()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    execs = set()
    for j in job_ids:
        opt = app_store.jobWithAssociatedSql(j)._2()
        if opt.isDefined():
            execs.add(opt.get())
    out = dict.fromkeys(_PY_METRICS.values(), 0.0)
    for e in execs:
        data = sql_store.execution(e)
        if not data.isDefined():
            continue
        wanted = {}
        metrics = data.get().metrics()
        for i in range(metrics.size()):
            m = metrics.apply(i)
            if m.name() in _PY_METRICS:
                wanted[m.accumulatorId()] = _PY_METRICS[m.name()]
        if not wanted:
            continue
        values = sql_store.executionMetrics(e).toSeq()
        for i in range(values.size()):
            kv = values.apply(i)
            key = wanted.get(kv._1())
            if key:
                out[key] += _size_bytes(kv._2()) / 2**20
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Force the executed plan of df's own QueryExecution and read the
    tracker's analysis / optimization / planning durations (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = (
            float(opt.get().durationMs()) if opt.isDefined() else 0.0)
    return out


#: UDF-profiler rows attributed by (source file basename, function
#: name or None for any); the profiler keeps basenames only. The
#: runner counts are the wc app's map calls (one per document) and
#: reduce calls (one per key).
KERNELS = {"functions.simd": ("simd.py", None),
           "runner.map": ("runner.py", "wc_map"),
           "runner.reduce": ("runner.py", "wc_reduce")}


def take_udf_profile(spark) -> dict[str, float]:
    """Sum and clear the perf UDF profiler's results: every profiled
    Python function call and its self time, and the calls per kernel
    (functions.kernel_s: self time inside the kernel files)."""
    coll = spark._profiler_collector
    out = {"udf.python_s": 0.0, "udf.python_calls": 0.0,
           "functions.kernel_s": 0.0}
    for key in KERNELS:
        out[f"{key}_calls"] = 0.0
    for st in coll._perf_profile_results.values():
        for (fname, _line, fn), (_cc, nc, tt, _ct, _callers) in \
                st.stats.items():
            out["udf.python_s"] += tt
            out["udf.python_calls"] += nc
            for key, (base, func) in KERNELS.items():
                if fname == base and func in (None, fn):
                    out[f"{key}_calls"] += nc
                    if key.startswith("functions."):
                        out["functions.kernel_s"] += tt
    coll.clear_perf_profiles()
    return out


# ------------------------------------------------------------- the host


def descendants(pid: int) -> list[int]:
    """pid and every live process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of pid's process tree: user + system time of every
    live process in it, plus that of the children each has reaped
    (a finished Python worker's time moves into its parent's)."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host since boot, from /proc/stat:
    time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


def canary_s() -> float:
    """Wall time of a fixed pure-Python loop, no Spark involved: the
    host's single-core speed at this moment (printed, never used)."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK
