#!/usr/bin/env python3
"""Steadiness self-check for the benchmark in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--seed 1] [--workloads a,b]
    python3 perfbench/steady.py --smoke

Runs each workload `--runs` times, each with its own seed (seed, seed+1, ...),
and prints for every end-to-end metric its median, first and third quartile
(Python's statistics.quantiles, n=4) and the spread (Q3 - Q1) / median
against the metric's bound. A spread above a third of the bound is marked
"wide"; above the bound, "FAIL". Every run must also report correct and 0
failed.

--smoke runs every workload once, side by side and untraced, on the
sf0.001-size corpus with one set-up: a quick check that the harness builds,
runs, passes its output checks and reports every declared metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def command(workload, seed, seconds, smoke=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    return cmd + ["--smoke", "1"] if smoke else cmd


def result(workload, seed, p):
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {p.returncode})")
    return json.loads(lines[-1])


def run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(command(workload, seed, seconds), cwd=ROOT,
                       capture_output=True, text=True)
    return result(workload, seed, p), time.time() - t0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    workloads = a.workloads.split(",") if a.workloads else names
    ok = True

    if a.smoke:
        # the workloads run side by side: the check is that each builds,
        # runs, passes its output checks and prints every declared metric
        t0 = time.time()
        procs = [(w, subprocess.Popen(command(w, a.seed, 1, smoke=True), cwd=ROOT,
                                      stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True))
                 for w in workloads]
        for w, p in procs:
            out, err = p.communicate()
            res = result(w, a.seed, subprocess.CompletedProcess(p.args, p.returncode, out, err))
            good = res["correct"] and res["failed"] == 0
            ok &= good
            print(f"{w:14s} {'ok' if good else 'FAILED'} attempted={res['attempted']} "
                  f"metrics={len(res['metrics'])}")
        print(f"smoke {'passed' if ok else 'FAILED'} in {time.time() - t0:.0f} s")
        sys.exit(0 if ok else 1)

    bounds = {m["name"]: m for m in bench["end_to_end"]}
    total = 0.0
    for w in workloads:
        values = {n: [] for n in bounds}
        walls = []
        for i in range(a.runs):
            res, wall = run(w, a.seed + i, bench["run_seconds"])
            walls.append(wall)
            print(f"  {w} seed {a.seed + i}: {wall:.0f} s, " + ", ".join(
                f"{n}={res['metrics'][n]['value']:.4g}" for n in bounds), flush=True)
            if not res["correct"] or res["failed"]:
                ok = False
                print(f"{w} seed {a.seed + i}: correct={res['correct']} failed={res['failed']}")
            for n in bounds:
                values[n].append(res["metrics"][n]["value"])
        total += sum(walls)
        print(f"\n{w}: {a.runs} runs, {statistics.median(walls):.0f} s median wall per run")
        print(f"  {'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for n, m in bounds.items():
            xs = values[n]
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
            spread = (q3 - q1) / med if med else float("inf")
            if spread > m["bound"]:
                flag, ok = "FAIL", False
            elif spread > m["bound"] / 3:
                flag = "wide"
            else:
                flag = "ok"
            print(f"  {n:16s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} {m['bound']:6.2f} {flag}")
    print(f"\n{'steady' if ok else 'NOT steady'}; {total:.0f} s of runs")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
