#!/usr/bin/env python3
"""Checks that the benchmark is steady on the current commit.

Runs every workload of BENCHMARK.json once per seed, on the ten seeds
9000-9009 in a row, with tracing off, and repeats that whole set once.
For each end-to-end metric it reports the median and the spread (the
distance between the first and third quartile, as a share of the
median) of each set, and fails when
  - a spread exceeds the metric's bound, or
  - the second set's median differs from the first set's, in either
    direction, by more than the bound (as a share of the first).
Any run that fails or answers wrong also fails the check. The report,
with every run's values, is written to .bench_build/steady.json.

Usage, from the checkout root:  python3 perfbench/steady.py
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = range(9000, 9010)
SETS = 2
REPORT = os.path.join(".bench_build", "steady.json")


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        return None, None
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    ok = True
    sets = []
    for s in range(SETS):
        values = {w: {m["name"]: [] for m in metrics} for w in names}
        for w in names:
            for seed in SEEDS:
                ctx, res = run(w, seed, bench["run_seconds"])
                if res is None or not res["correct"] or res["failed"]:
                    print(f"set {s + 1} {w} seed {seed}: FAILED")
                    ok = False
                    continue
                for m in metrics:
                    values[w][m["name"]].append(res["metrics"][m["name"]]["value"])
                print(f"set {s + 1} {w} seed {seed}: ops {ctx['ops']} load "
                      f"{ctx['load_before']:.2f}->{ctx['load_after']:.2f} "
                      f"steal {ctx.get('steal_pct')}%", flush=True)
        sets.append(values)

    report = {}
    for w in names:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            meds = []
            for s, values in enumerate(sets):
                vs = values[w][name]
                if len(vs) < 4:
                    ok = False
                    continue
                med, spr = spread(vs)
                meds.append(med)
                flag = ""
                if spr > bound:
                    flag = "  SPREAD OVER BOUND"
                    ok = False
                elif spr > bound / 3:
                    flag = "  (spread above a third of the bound)"
                print(f"{w:11s} {name:14s} set {s + 1}: median {med:12.4f}  "
                      f"spread {spr:6.3f}  bound {bound}{flag}")
                report.setdefault(w, {}).setdefault(name, []).append(
                    {"median": med, "spread": spr, "values": vs})
            for s, med in enumerate(meds[1:], start=2):
                shift = (med - meds[0]) / meds[0]
                if abs(shift) > bound:
                    print(f"{w:11s} {name:14s} set {s} median differs from set 1 by "
                          f"{shift:+.3f}, beyond {bound}")
                    ok = False
    with open(REPORT, "w") as fh:
        json.dump(report, fh, indent=1)
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
