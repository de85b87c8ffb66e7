#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM, from the repository root.

    python3 perfbench/run.py --workload geo_scan --seed 1 --seconds 6 --trace 0

Builds the tree (perfbench/build.py), starts one JVM with a fixed heap and
a local[k] Spark session (k = min(4, cores)), makes the inputs, runs one
warm pass whose outputs are checked (perfbench/check.py, against the oracle
results in perfbench/expected.json) and a fixed number
of untimed warm-up passes, then timed passes over the workload's
operations: as many as --seconds holds at the workload's nominal pass time.
The last line of stdout is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1). Each run also writes its full per-pass record to
.bench_build/traces/. The run's temp and Spark local dirs live under
.bench_build/run-<pid> and are removed when it ends. The JVM never outlives
the run: it shares the run's process group, it is killed when the run ends
on an error, a timeout, SIGTERM or SIGINT, and it halts by itself, deleting
its run directory, when the run dies outright and its stdin pipe closes.
Run directories of runs that are no longer alive are removed at start.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402
import check  # noqa: E402

# Operations per workload: `ref_*` run on the generated reference table,
# the rest are graft.SparkEntry rows over the sf0.1 tables in perfbench/data.
WORKLOADS = {
    "geo_scan": ["ref_intersects", "ref_astext", "ref_buffer_box2d",
                 "ref_length_npoints", "ref_within", "q07_intersects"],
    "shuffle_joins": ["q18_spatial_join_bcast", "q23_jaccard_tokens", "q49_range_join"],
    "retrieval_index": ["q244_retrieval_e2e", "q221_hamming_index"],
}
# A run does a fixed number of timed passes: --seconds over the workload's
# pass time on a 4-core x86 box, rounded up, at least 2. The same --seconds
# always means the same work, whatever the code's speed.
NOMINAL_PASS_S = {"geo_scan": 2.1, "shuffle_joins": 2.5, "retrieval_index": 7.4}
# Untimed passes between the checked warm pass and the timed ones: after
# them the JIT compiler's share of a pass's CPU has stopped falling steeply
# (perfbench/README.md, "Where a pass's CPU goes").
WARMUP_PASSES = {"geo_scan": 1, "shuffle_joins": 2, "retrieval_index": 1}
REF_ROWS = 1 << 17
HEAP = "3g"
JVM_TIMEOUT_S = 150
DATA_DIR = HERE / "data" / "sf0.1"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s",
                    "heap_live_peak_mb": "MB"}


def layer_unit(name):
    if name.endswith("_ns"):
        return "ns"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("slot_use"):
        return "ratio"
    return "count"


def run_jvm(classpath, run_dir, args, slots):
    out = run_dir / "out"
    for d in ("tmp", "spark", "out"):
        (run_dir / d).mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", classpath,
           "graft.perfbench.PerfBench",
           "--workload", args.workload, "--ops", ",".join(WORKLOADS[args.workload]),
           "--seed", str(args.seed), "--warmup-passes", str(WARMUP_PASSES[args.workload]),
           "--passes", str(max(2, math.ceil(args.seconds / NOMINAL_PASS_S[args.workload]))),
           "--trace", str(args.trace), "--data", str(DATA_DIR), "--out", str(out),
           "--local-dir", str(run_dir / "spark"), "--slots", str(slots),
           "--rows", str(REF_ROWS), "--run-dir", str(run_dir)]
    log = open(run_dir / "jvm.log", "w")
    t_launch = time.time()
    # stdin stays open while we wait: the JVM halts when it closes
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.PIPE)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        proc.stdin.close()
        log.close()
    result = out / "result.json"
    if rc != 0 or not result.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-4000:]
        raise RuntimeError(f"JVM {'timed out' if rc is None else f'exit {rc}'}:\n{tail}")
    return t_launch, json.loads(result.read_text())


def remove_dead_runs(build_dir):
    """Delete the run directories of runs whose process is gone."""
    for d in build_dir.glob("run-*"):
        try:
            os.kill(int(d.name[4:]), 0)
        except ValueError:
            continue
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def metrics_of(res, t_launch, traced):
    passes = res["passes"]
    if not traced:
        vals = {
            "setup_s": res["setup_end_ms"] / 1000.0 - t_launch,
            "pass_s": statistics.median([p["wall_s"] for p in passes]),
            "pass_cpu_s": statistics.median([p["cpu_s"] for p in passes]),
            "heap_live_peak_mb": res["heap_live_peak_mb"],
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in vals.items()}
    vals = {k: statistics.median([p[part][k] for p in passes])
            for part in ("layers", "process") for k in passes[0][part]}
    vals.update(res["kernels"])
    ran = res["ops"]
    for ops in WORKLOADS.values():
        for op in ops:
            # an operation outside this workload takes no time in it
            vals[f"op.{op}_s"] = statistics.median([p["ops"][op] for p in passes]) if op in ran else 0.0
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in vals.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like SIGINT, so the JVM is stopped and the run dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    try:
        classpath = f"{build.build(root)}:{build.spark_classpath(root)}"
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if not DATA_DIR.is_dir():
        print(f"missing input tables in {DATA_DIR}", file=sys.stderr)
        return 2
    slots = min(4, os.cpu_count() or 1)
    remove_dead_runs(root / build.BUILD_DIR)
    run_dir = root / build.BUILD_DIR / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t_launch, res = run_jvm(classpath, run_dir, args, slots)
        t_check = time.time()
        problems = check.check_run(res, run_dir / "out", check.load_expected())
        res["check_s"] = time.time() - t_check
        res["jvm_s"] = t_check - t_launch
        traces = root / build.BUILD_DIR / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        (traces / name).write_text(json.dumps(res, indent=1))
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    for op, why in res["failures"].items():
        print(f"OPERATION FAILED: {op}: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics_of(res, t_launch, args.trace == 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
