#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

Usage, from the checkout root:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness and generates the corpus if needed
(perfbench/build.py), then runs one JVM: Spark local[2] (build.CORES),
one client thread in a closed loop. The second-to-last line of standard
output is the run's context (nproc, load average before and after, the
share of CPU time the hypervisor stole during the run, per-kind
latencies, image hashes, the first errors); the last line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end set, with --trace 1 the
per-layer set (see BENCHMARK.json and perfbench/README.md).
Exits non-zero when any op fails or returns a wrong answer.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the source tree free of caches
import build  # noqa: E402

WORKLOADS = ("scan_large", "many_files")
TIMEOUT_S = 850


def cpu_ticks():
    """The host's CPU time counters: (total, stolen), or None where
    /proc/stat is missing."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(f[:8]), f[7] if len(f) > 7 else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    cp, jsa = build.prepare(root)
    # setup_s counts from here: the build and the corpus are one-offs
    t0_ms = int(time.time() * 1000)
    out_dir = os.path.join(root, build.BUILD, "out")
    scratch = os.path.join(root, build.BUILD, "scratch")
    tmp = os.path.join(scratch, "tmp")
    shutil.rmtree(scratch, ignore_errors=True)  # the previous run's leftovers
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_file = os.path.join(out_dir, tag + ".json")
    log_file = os.path.join(out_dir, tag + ".log")
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = build.java_cmd(cp, jsa, [f"-Djava.io.tmpdir={tmp}"]) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--root", root, "--t0-ms", str(t0_ms), "--out", result_file]
    ticks0 = cpu_ticks()
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -1
    if rc != 0 or not os.path.exists(result_file):
        with open(log_file, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        sys.exit(f"benchmark JVM exited with {rc}; log: {log_file}")
    with open(result_file) as fh:
        res = json.load(fh)
    ticks1 = cpu_ticks()
    res["context"]["nproc"] = os.cpu_count()
    if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
        res["context"]["steal_pct"] = round(
            100 * (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0]), 2)
    print(json.dumps(res["context"], sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
