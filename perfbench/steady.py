#!/usr/bin/env python3
"""Steadiness of the benchmark: runs every workload of BENCHMARK.json
alternately, N times each, each run with its own seed, and prints per
workload and metric the median, the quartiles, min and max, and the spread
(quartile distance over median) next to the metric's bound.

    python3 perfbench/steady.py --runs 10 --seed0 801

Run from the repository root. Raw results go to --out (JSON lines).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def summarize(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else float("nan")
    flag = "" if bound is None or spread < bound / 3 else (
        "  < bound" if spread <= bound else "  OVER BOUND")
    return (f"median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  min {min(values):10.4f}  "
            f"max {max(values):10.4f}  spread {spread:6.3f}"
            + ("" if bound is None else f" (bound {bound})") + flag)


def main():
    bench = json.loads(Path("BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", default=".bench_build/steady.jsonl")
    args = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    results = {w: [] for w in workloads}
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    with open(args.out, "a") as log:
        for i in range(args.runs):
            for w in workloads:
                seed = args.seed0 + i
                t0 = time.time()
                proc = subprocess.run(
                    [*bench["command"], "--workload", w, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    stdout=subprocess.PIPE, text=True)
                wall = time.time() - t0
                if proc.returncode != 0:
                    print(f"{w} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                    continue
                res = json.loads(proc.stdout.strip().splitlines()[-1])
                res.update(workload=w, seed=seed, run_wall_s=wall)
                log.write(json.dumps(res) + "\n")
                log.flush()
                results[w].append(res)
                print(f"{w} seed {seed}: {wall:.1f}s correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']}", file=sys.stderr)
    for w, runs in results.items():
        if len(runs) < 2:
            continue
        print(f"\n{w}: {len(runs)} runs, {statistics.mean(r['run_wall_s'] for r in runs):.1f}s "
              f"per run, all correct: {all(r['correct'] for r in runs)}, "
              f"failed shares: {sorted({r['failed'] / r['attempted'] for r in runs})}")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            print(f"  {name:32s} {summarize(vals, bounds.get(name))}")


if __name__ == "__main__":
    main()
