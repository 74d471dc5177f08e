"""Benchmark of the engine through its public entry points.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one closed-loop client:
every item of the workload runs in turn, the next only after the
previous one completes, on the `local[<cpus>]` session that
`session.get_spark` builds with SPARK_GRAFT_CPUS set to the usable CPU
count. The benchmark sets no Spark conf and no JVM tuning flag; it
only points scratch paths (SPARK_GRAFT_WORKSPACE, SPARK_LOCAL_DIRS,
TMPDIR, java.io.tmpdir, the JVM's perf-data file) into the run's own
directory.

A run generates the workload's inputs from the seed into a fresh
directory under `.perfbench/`, starts the session, loads the registry
and runs every item once cold (set-up, reported as setup_s). It then
runs SETTLE_PASSES untimed passes and times TIMED_PASSES passes (more
if `--seconds` is not over by then), and prints whether the walls had
stopped falling by the window's end (see `flat`). The outputs of the
last timed pass are checked against independent references, outside
the timed region. The last line of standard output is one JSON object: {"correct", "attempted", "failed", "metrics"};
with `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones, read from outside the engine (see measure.py) in
traced passes that follow untraced ones, so the tracing overhead is
measured in the same process. A traced run turns Spark's Python UDF
profiler on for its traced passes only, and writes its spans to
`.perfbench/trace-<workload>-<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import measure
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Per-layer metrics reported with --trace 1, in BENCHMARK.json order,
#: with their units.
PER_LAYER = {
    "session.start_s": "s", "session.ship_s": "s", "registry.load_s": "s",
    "operators.construct_s": "s", "operators.py4j_calls": "count",
    "operators.construct_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "jvm.jit_s": "s", "jvm.gc_s": "s",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.tasks": "count",
    "exec.task_cpu_s": "s", "exec.core_busy": "ratio",
    "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.exchanges": "count", "exec.useful_task_ratio": "ratio",
    "materialize.live_rdds": "count", "materialize.cached_mb": "MB",
    "udf.python_calls": "count", "udf.python_s": "s",
    "udf.to_python_mb": "MB", "udf.from_python_mb": "MB",
    "functions.simd_calls": "count", "functions.kernel_s": "s",
    "runner.map_calls": "count", "runner.reduce_calls": "count",
}

#: Counts that must repeat exactly between the traced passes of a run.
EXACT = ["operators.py4j_calls", "operators.construct_jobs",
         "codegen.compiles", "exec.jobs", "exec.exchanges",
         "functions.simd_calls", "runner.map_calls", "runner.reduce_calls"]

#: Untimed passes after the cold one, and passes in the timed window
#: (more when --seconds is not over by then). Both are fixed counts, so
#: the host's speed does not decide where on the warm-up curve the
#: window falls; they are as few as the run budget of 4 + 22 x 2 runs
#: in 3420 s allows, so the window is on the flattening end of the
#: warm-up curve, not past it.
SETTLE_PASSES, TIMED_PASSES = 1, 2
#: The walls have stopped falling once the last pass is not more than
#: FLAT_TOL faster than the fastest warm pass before it.
FLAT_TOL = 0.05


def flat(walls: list[float]) -> bool:
    """True if the last of the warm pass walls is not more than FLAT_TOL
    faster than the fastest one before it."""
    return walls[-1] >= (1 - FLAT_TOL) * min(walls[:-1])


class Ctx:
    """What items need: the session, the registry, the input dir."""

    def __init__(self, spark, queries, data_dir):
        self.spark, self.queries, self.data_dir = spark, queries, data_dir
        self._duck = None

    def duck(self):
        """One DuckDB connection over the data dir, kept open."""
        from workloads import duck

        if self._duck is None:
            self._duck = duck(self.data_dir)
        return self._duck


def isolate(run_dir: str, cpus: int) -> None:
    """Point every engine, Spark, JVM and Python scratch path into the
    run's own directory, before pyspark is imported, and make it the
    working directory (Spark's warehouse and Derby files go there)."""
    d = {k: os.path.join(run_dir, k) for k in ("workspace", "local", "tmp")}
    for p in d.values():
        os.makedirs(p)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_WORKSPACE": d["workspace"],
        "SPARK_LOCAL_DIRS": d["local"],
        "TMPDIR": d["tmp"],
        # file locations only: the hsperfdata file goes to /tmp
        # whatever java.io.tmpdir says, so it is turned off
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={d['tmp']} -XX:-UsePerfData",
    })
    for k in ("SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    os.chdir(run_dir)


class Pass:
    """One pass over every item: wall, process-tree CPU, host steal,
    per-item records and outputs; given JvmCounters, the pass's
    codegen, JIT and GC deltas; traced, also the pass's layer totals."""

    def __init__(self, ctx, items, out_dir, tag, tracer=None, jvm=None,
                 keep=False):
        before = jvm.read() if jvm else None
        cpu0, ticks0 = measure.tree_cpu_s(os.getpid()), measure.cpu_ticks()
        t = time.perf_counter()
        with (tracer or measure.Tracer(False)).span("pass"):
            done = [run_item(ctx, it, out_dir, tag, tracer)
                    for it in items]
        self.wall = time.perf_counter() - t
        self.recs = [rec for rec, _ in done]
        # outputs are kept only where they are checked
        self.outputs = ({it.name: out for it, (_, out) in zip(items, done)}
                        if keep else None)
        ticks1 = measure.cpu_ticks()
        self.cpu = measure.tree_cpu_s(os.getpid()) - cpu0
        self.steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        self.jvm = measure.JvmCounters.delta(before, jvm.read()) if jvm else {}
        self.layers = pass_layers(ctx, self) if tracer else {}


def run_item(ctx, item, out_dir, tag, tracer) -> tuple[dict, object]:
    """Run one item, then clearCache(); returns its record and its
    output (None if it failed). Traced, also read its layers
    around each call into the engine: the construction's py4j round
    trips and jobs, the Catalyst phases, the execution's jobs and
    stages, and the UDF profile."""
    spark, sc = ctx.spark, ctx.spark.sparkContext
    rec, out = {"name": item.name}, None
    counter = measure.Py4JCounter(spark)
    t0 = time.perf_counter()
    try:
        if tracer:
            with tracer.span(f"item:{item.name}"):
                sc.setJobGroup(f"{tag}/{item.name}/c", item.name)
                with tracer.span("construct"), counter.counting():
                    df = item.construct(ctx, out_dir)
                t1 = time.perf_counter()
                if item.plans:
                    with tracer.span("plan"):
                        rec.update(measure.catalyst_phases(df))
                sc.setJobGroup(f"{tag}/{item.name}/e", item.name)
                t2 = time.perf_counter()
                with tracer.span("execute"):
                    out = item.execute(df)
        else:
            df = item.construct(ctx, out_dir)
            t1 = t2 = time.perf_counter()
            out = item.execute(df)
        t3 = time.perf_counter()
        rec.update(construct_s=t1 - t0, execute_s=t3 - t2,
                   wall=(t1 - t0) + (t3 - t2))
    except Exception as exc:  # an item failure is a result
        rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        spark.catalog.clearCache()
    if tracer:
        sc.setJobGroup(f"{tag}/idle", "")
        cjobs = measure.group_jobs(spark, f"{tag}/{item.name}/c")
        ejobs = measure.group_jobs(spark, f"{tag}/{item.name}/e")
        rec.update({"operators.py4j_calls": counter.calls,
                    "operators.construct_jobs": len(cjobs),
                    "exec.jobs": len(ejobs)})
        rec.update(measure.stage_metrics(spark, cjobs + ejobs))
        rec.update(measure.python_node_metrics(spark, cjobs + ejobs))
        rec.update(measure.take_udf_profile(spark))
    return rec, out


_SUMMED = (
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "operators.construct_jobs",
    "operators.py4j_calls", "exec.jobs", "exec.tasks", "exec.task_s",
    "exec.task_cpu_s", "exec.input_mb", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb", "exec.exchanges",
    "udf.python_calls", "udf.python_s", "udf.to_python_mb",
    "udf.from_python_mb", "functions.simd_calls", "functions.kernel_s",
    "runner.map_calls", "runner.reduce_calls",
)


def pass_layers(ctx, p: Pass) -> dict[str, float]:
    """Per-layer totals of one traced pass, and what stays
    materialized after it (read after the last item's clearCache)."""
    def total(key):
        return float(sum(r.get(key, 0) for r in p.recs))

    done = total("exec.tasks")
    attempts = done + total("exec.failed_tasks") + total("exec.killed_tasks")
    out = {k: total(k) for k in _SUMMED}
    out.update({
        "operators.construct_s": total("construct_s"),
        "exec.execute_s": total("execute_s"),
        "exec.core_busy": total("exec.task_s") / (
            p.wall * int(os.environ["SPARK_GRAFT_CPUS"])),
        "exec.useful_task_ratio": done / attempts if attempts else 1.0,
    })
    out.update(measure.materialized(ctx.spark))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_origin = time.perf_counter() - measure.process_age_s()
    if not os.path.isdir(os.path.join(ROOT, "mapreduce_go_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, cpus)
    sys.path.insert(0, ROOT)
    try:
        return bench(args, WORKLOADS[args.workload], run_dir, work, t_origin)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, wl, run_dir, work, t_origin) -> int:
    tracer = measure.Tracer(bool(args.trace))
    data_dir = os.path.join(run_dir, "data")
    out_root = os.path.join(run_dir, "out")
    t = time.perf_counter()
    host = {"load": [os.getloadavg()[0]], "canary": [measure.canary_s()]}
    t_gen = time.perf_counter()
    sizes = wl.make_inputs(data_dir, args.seed)
    gen_s = time.perf_counter() - t_gen
    # the canary and input generation are the benchmark's, not set-up
    harness_s = time.perf_counter() - t

    with tracer.span("setup.session"):
        t0 = time.perf_counter()
        from mapreduce_go_spark import session
        spark = session.get_spark(app_name=f"perfbench-{wl.name}")
        t1 = time.perf_counter()
        session.ensure_package_on_workers(spark)
        t2 = time.perf_counter()
        from mapreduce_go_spark import registry
        queries = registry.all_queries()
        t3 = time.perf_counter()
    layers = {"session.start_s": t1 - t0, "session.ship_s": t2 - t1,
              "registry.load_s": t3 - t2}
    gateway = spark.sparkContext._gateway
    jvm_proc = gateway.proc
    try:
        ctx = Ctx(spark, queries, data_dir)
        with tracer.span("setup.cold"):
            cold = Pass(ctx, wl.items, os.path.join(out_root, "cold"), "c")
        setup_s = time.perf_counter() - t_origin - harness_s
        shutil.rmtree(os.path.join(out_root, "cold"), ignore_errors=True)

        settle: list[Pass] = []
        with tracer.span("settle"):
            while len(settle) < SETTLE_PASSES:
                d = os.path.join(out_root, f"s{len(settle)}")
                settle.append(Pass(ctx, wl.items, d, f"s{len(settle)}"))
                shutil.rmtree(d, ignore_errors=True)

        # the timed window: a fixed number of passes. A traced run
        # times half as many (at least two) with only the JVM counters
        # read around each pass, then as many traced passes: the UDF
        # profiler changes the plans around Python UDFs, so traced and
        # untraced passes interleaved would evict each other's classes
        # from the codegen cache
        untraced: list[Pass] = []
        traced: list[Pass] = []
        want = max(2, TIMED_PASSES // 2) if args.trace else TIMED_PASSES
        jvm = measure.JvmCounters(spark) if args.trace else None
        t_window = time.perf_counter()
        last = None
        while (len(untraced) < want or len(traced) < want * args.trace
               or time.perf_counter() - t_window < args.seconds):
            probe = len(untraced) >= want and len(traced) < want * args.trace
            n = len(untraced) + len(traced)
            d = os.path.join(out_root, f"p{n}")
            if probe:
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                p = Pass(ctx, wl.items, d, f"p{n}", tracer, jvm, keep=True)
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
                traced.append(p)
            else:
                p = Pass(ctx, wl.items, d, f"p{n}", jvm=jvm, keep=True)
                untraced.append(p)
            if last:
                shutil.rmtree(last[0], ignore_errors=True)
                last[1].outputs = None
            last = (d, p)

        live_end = measure.materialized(spark)
        # the last timed pass's outputs, against their references
        t_check = time.perf_counter()
        checks = {}
        for item in wl.items:
            t = time.perf_counter()
            rec = next(r for r in last[1].recs if r["name"] == item.name)
            try:
                if "error" in rec:
                    raise RuntimeError("no output: the item failed")
                checks[item.name] = ["ok", item.check(
                    ctx, last[0], last[1].outputs[item.name])]
            except Exception as exc:  # a wrong item is a result
                checks[item.name] = ["mismatch", f"{exc}"[:300]]
            checks[item.name].append(time.perf_counter() - t)
        last[1].outputs = None
        check_s = time.perf_counter() - t_check
    finally:
        spark.stop()
        gateway.shutdown()
        jvm_proc.stdin.close()
        jvm_proc.wait(timeout=60)
        reap()
    host["load"].append(os.getloadavg()[0])
    host["canary"].append(measure.canary_s())

    # ---------------------------------------------------------- report
    passes = [p.wall for p in untraced]
    every = [cold, *settle, *untraced, *traced]
    bad = {n for n, (st, *_) in checks.items() if st != "ok"}
    attempted = sum(len(p.recs) for p in every)
    failed = sum(1 for p in every for r in p.recs
                 if "error" in r or r["name"] in bad)
    walls = {it.name: [r["wall"] for p in untraced for r in p.recs
                       if "wall" in r and r["name"] == it.name]
             for it in wl.items}
    item_med = {k: statistics.median(v) for k, v in walls.items() if v}
    e2e = {"setup_s": setup_s, "pass_s": statistics.median(passes)}
    # printed only: their run-to-run spreads are too wide for a bound
    shown = {"query_geomean_s": measure.geomean(list(item_med.values())),
             "pass_cpu_s": statistics.median(p.cpu for p in untraced)}

    for name, (st, info, secs) in checks.items():
        print(f"check {name}: {st} ({info}) in {secs:.1f} s")
    for p in every:
        for r in p.recs:
            if "error" in r:
                print(f"error {r['name']}: {r['error']}")
    for name, v in walls.items():
        tl = measure.tail(v)
        tail_s = (f"p{tl[0]:.0f} {tl[1]:.4f} s" if tl
                  else "none (needs 11 samples)")
        print(f"item {name}: median {item_med.get(name, float('nan')):.4f} s,"
              f" tail {tail_s}, {len(v)} samples")
    for name, v in {**e2e, **shown}.items():
        print(f"metric {name} = {v:.6g} s")
    warm = [p.wall for p in [*settle, *untraced]]
    print(f"settling: {len(settle)} passes "
          f"{[round(p.wall, 3) for p in settle]}, walls "
          f"{'flat' if flat(warm) else 'still falling'} at the window's end")
    print(f"timed: {len(passes)} passes {[round(x, 3) for x in passes]}, "
          f"drift {measure.drift(passes):.4f} (second-half / first-half "
          f"median), cpu {[round(p.cpu, 2) for p in untraced]}")
    print(f"host: steal per pass {[round(p.steal, 4) for p in every]}, "
          f"load {host['load'][0]:.2f} -> {host['load'][1]:.2f}, "
          f"canary {host['canary'][0]:.4f} -> {host['canary'][1]:.4f} s")
    print(f"run: inputs {sizes} in {gen_s:.1f} s, session "
          f"{layers['session.start_s']:.2f} s, cold pass {cold.wall:.2f} s "
          f"{[round(r.get('wall', 0), 2) for r in cold.recs]}, checks "
          f"{check_s:.1f} s, live persistent RDDs at end "
          f"{live_end['materialize.live_rdds']:.0f}")

    metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    if args.trace:
        for k in traced[0].layers:
            layers[k] = statistics.median(p.layers[k] for p in traced)
        # codegen, JIT and GC from the untraced passes (see the window)
        for k in untraced[0].jvm:
            layers[k] = statistics.median(p.jvm[k] for p in untraced)
        overhead = statistics.median(p.wall for p in traced) - e2e["pass_s"]
        counts = {k: ([p.jvm[k] for p in untraced] if k in untraced[0].jvm
                      else [p.layers[k] for p in traced]) for k in EXACT}
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        for k, m in metrics.items():
            print(f"layer {k} = {m['value']:.6g} {m['unit']}")
        print(f"tracing overhead {overhead:.4f} s per pass "
              f"(traced {[round(p.wall, 3) for p in traced]})")
        for k, v in counts.items():
            print(f"exact {k}: {'repeats' if len(set(v)) == 1 else 'DIFFERS'}"
                  f" {[int(x) for x in v]}")
        path = os.path.join(work, f"trace-{wl.name}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": wl.name, "seed": args.seed,
                       "end_to_end": {**e2e, **shown},
                       "layers": layers,
                       "tracing_overhead_s": overhead, "exact": counts,
                       "per_traced_pass": [p.layers for p in traced],
                       "jvm_per_pass": {"untraced": [p.jvm for p in untraced],
                                        "traced": [p.jvm for p in traced]},
                       "self_time_s": measure.self_time_by_name(tracer.spans),
                       "spans": tracer.spans, "checks": checks,
                       "items": [p.recs for p in traced]},
                      fh, indent=1, default=str)
        print(f"trace written to {os.path.relpath(path, ROOT)}")

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def reap(timeout: float = 30.0) -> None:
    """Wait until every process this one started has ended (the Python
    daemon and workers outlive the JVM by a moment); kill what is left
    after `timeout` seconds."""
    me = os.getpid()
    deadline = time.time() + timeout
    while left := [p for p in measure.descendants(me) if p != me]:
        for p in left:
            try:
                if time.time() > deadline:
                    os.kill(p, signal.SIGKILL)
                os.waitpid(p, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
