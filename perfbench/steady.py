"""Steadiness of the end-to-end metrics over seeds.

    python3 perfbench/steady.py --workload tpch --seeds 1-10
    python3 perfbench/steady.py --compare a.jsonl b.jsonl

Runs `run.py` once per seed (one after another, --trace 0, the
run_seconds of BENCHMARK.json), appends each run's result line to
`.perfbench/steady-<workload>-<pid>.jsonl` and its full output to
`.perfbench/steady-<workload>-<seed>-<pid>.log`, and prints for every
end-to-end metric, printed-only ones included, the median over the
runs and the spread (first-to-third quartile distance over the median,
statistics.quantiles n=4), with the runs' median host steal share, the
number of runs whose walls still fell at the window's end, and their
window drifts. --compare prints the same for two such files, and the ratio of the
second file's median to the first's.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    """One benchmark run: its result line plus the host's median
    steal share, parsed from the run's own output."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    with open(os.path.join(ROOT, ".perfbench",
                           f"steady-{workload}-{seed}-{os.getpid()}.log"),
              "a") as fh:
        fh.write(out.stdout)
    lines = out.stdout.strip().splitlines()
    if out.returncode or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n"
                           f"{out.stderr[-2000:]}")
    rec = json.loads(lines[-1])
    steal = next((ln for ln in lines if ln.startswith("host:")), "")
    m = re.search(r"steal per pass \[([^\]]*)\]", steal)
    vals = [float(x) for x in m.group(1).split(",")] if m else [0.0]
    settling = next((ln for ln in lines if ln.startswith("settling:")), "")
    drift = re.search(r"drift ([\d.]+)", out.stdout)
    rec["e2e"] = {m.group(1): float(m.group(2)) for m in re.finditer(
        r"^metric (\S+) = (\S+) s$", out.stdout, re.M)}
    rec.update(workload=workload, seed=seed, steal=statistics.median(vals),
               falling="still falling" in settling,
               drift=float(drift.group(1)) if drift else None)
    return rec


def summary(recs: list[dict]) -> dict[str, tuple[float, float]]:
    """metric -> (median, spread) over the runs."""
    return {k: (statistics.median(r["e2e"][k] for r in recs),
                measure.spread([r["e2e"][k] for r in recs]))
            for k in recs[0]["e2e"]}


def report(sets: list[list[dict]]) -> None:
    sums = [summary(s) for s in sets]
    for i, (s, recs) in enumerate(zip(sums, sets)):
        bad = sum(not r["correct"] for r in recs)
        steal = statistics.median(r["steal"] for r in recs)
        drifts = sorted(r["drift"] for r in recs)
        print(f"set {i + 1}: {len(recs)} runs, {bad} not correct, "
              f"median steal share {steal:.4f}, walls still falling in "
              f"{sum(r['falling'] for r in recs)}, window drift median "
              f"{statistics.median(drifts):.4f} "
              f"({drifts[0]:.4f} to {drifts[-1]:.4f})")
        for k, (med, spr) in s.items():
            print(f"  {k:18s} median {med:10.4f}  IQR/median {spr:.4f}")
    if len(sums) == 2:
        for k in sums[0]:
            print(f"  {k:18s} set 2 / set 1 median "
                  f"{sums[1][k][0] / sums[0][k][0]:.4f}")


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--compare", nargs=2, metavar="JSONL")
    args = ap.parse_args()
    if args.compare:
        report([load(p) for p in args.compare])
        return 0
    if not args.workload:
        ap.error("--workload or --compare is needed")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench",
                        f"steady-{args.workload}-{os.getpid()}.jsonl")
    recs = []
    for seed in args.seeds:
        rec = run_once(args.workload, seed, seconds)
        recs.append(rec)
        with open(path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(f"seed {seed}: " + ", ".join(
            f"{k} {v['value']:.4f}" for k, v in rec["metrics"].items())
            + f", steal {rec['steal']:.4f}", flush=True)
    report([recs])
    print(f"results in {os.path.relpath(path, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
