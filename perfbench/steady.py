#!/usr/bin/env python3
"""Steadiness check: run the benchmark in two sets of runs on one commit, at
BENCHMARK.json's run_seconds, and report, per workload and end-to-end
metric, each set's median and quartiles, the spread (Q3 - Q1) / median, and
whether

  * every spread stays within the metric's bound (setup_s included), and
  * the second set's median is not worse than the first set's by more than
    the bound.

Run from the repository root:

    python3 perfbench/steady.py --runs 10            # all workloads
    python3 perfbench/steady.py --runs 5 --workloads mutate_cycle

Every run gets its own seed (set s, run i -> seed first_seed + 1000*s + i);
runs of different workloads are interleaved so a noisy minute hits all of
them. The summary is also written as JSON to .bench_out/steady-<time>.json.
The exit code is 0 only if every run was correct and every check passed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SETS = 2


def quartiles(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def worse_by(first, later, better):
    """How much worse `later` is than `first`, as a share of `first`."""
    if first == 0:
        return 0.0
    return (later - first) / first if better == "lower" else (first - later) / first


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--workloads", default="", help="comma-separated; default all")
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()

    spec = json.load(open("BENCHMARK.json"))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]
    # values[set][workload][metric] -> list
    values = [{w: {m["name"]: [] for m in metrics} for w in names} for _ in range(SETS)]
    failures = []
    for s in range(SETS):
        for i in range(a.runs):
            for w in names:
                seed = a.first_seed + 1000 * s + i
                cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                         "--seconds", str(seconds), "--trace", "0"]
                t0 = time.time()
                p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                   text=True)
                lines = p.stdout.strip().splitlines()
                try:
                    out = json.loads(lines[-1])
                except (IndexError, ValueError):
                    out = {"correct": False, "metrics": {}}
                ok = p.returncode == 0 and out.get("correct") is True
                print(f"set {s + 1} run {i + 1} {w} seed {seed}: "
                      f"{'ok' if ok else 'FAILED'} in {time.time() - t0:.0f}s", flush=True)
                if not ok:
                    failures.append((w, seed))
                    continue
                for m in metrics:
                    values[s][w][m["name"]].append(out["metrics"][m["name"]]["value"])

    report = []
    passed = not failures
    for w in names:
        print(f"\n{w}")
        print(f"  {'metric':<18}{'set':>4}{'median':>14}{'q1':>14}{'q3':>14}"
              f"{'spread':>9}{'bound':>7}  verdict")
        for m in metrics:
            n, bound = m["name"], m["bound"]
            first_med = None
            for s in range(SETS):
                vs = values[s][w][n]
                if len(vs) < 2:
                    print(f"  {n:<18}{s + 1:>4}  too few runs")
                    passed = False
                    continue
                q1, med, q3 = quartiles(vs)
                spread = (q3 - q1) / med if med else float("inf")
                verdicts = []
                verdicts.append("spread ok" if spread <= bound else "SPREAD TOO WIDE")
                passed &= spread <= bound
                if first_med is None:
                    first_med = med
                else:
                    wb = worse_by(first_med, med, m["better"])
                    verdicts.append(f"{'agrees' if wb <= bound else 'DISAGREES'} "
                                    f"({wb:+.1%} worse)")
                    passed &= wb <= bound
                print(f"  {n:<18}{s + 1:>4}{med:>14.4g}{q1:>14.4g}{q3:>14.4g}"
                      f"{spread:>9.3f}{bound:>7.2f}  {', '.join(verdicts)}")
                report.append({"workload": w, "metric": n, "set": s + 1, "runs": len(vs),
                               "median": med, "q1": q1, "q3": q3, "spread": spread,
                               "bound": bound})
    if failures:
        print(f"\nfailed runs: {failures}")
    print(f"\n{'PASS' if passed else 'FAIL'}: {SETS} set(s) x {a.runs} run(s) per workload")
    os.makedirs(".bench_out", exist_ok=True)
    out = os.path.join(".bench_out", f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump({"passed": passed, "failures": failures, "rows": report}, fh, indent=1)
    sys.exit(0 if passed else 1)


if __name__ == "__main__":
    main()
