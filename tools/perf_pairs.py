#!/usr/bin/env python3
"""Paired benchmark runs of a parent and a change checkout, with the verdict
of each end-to-end metric.

    python3 tools/perf_pairs.py --parent DIR --change DIR \\
        --workload linkage_batch --seed 1 --pairs 10 [--seconds S] [--json OUT]

Each pair runs `python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0` once in each checkout, one after the other; the side that runs
first alternates from pair to pair, so `--pairs` must be even for each side
to run first equally often. Every run must print correct=true and
failed=0, or the script stops. For each end-to-end metric that BENCHMARK.json
(read from the change checkout) declares, it prints each side's median and
quartiles, the change's win fraction (ties count for neither side) and a
verdict:

  gain        the change wins >= 9/10 of the pairs and its median is better
              than the parent's by more than the parent's quartile distance
  regression  the change's median is worse than the parent's by more than
              the metric's bound (relative), or loses >= 9/10 of the pairs
              by more than the parent's quartile distance
  unresolved  the parent's quartile distance exceeds bound x |parent median|,
              so a move of the bound's size cannot be told from the spread,
              unless every change run beats every parent run
  flat        otherwise

`--seconds` defaults to BENCHMARK.json's run_seconds. The script changes no
file in either checkout except what perfbench itself builds there.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.exit(f"perf_pairs: run in {checkout} failed (exit {r.returncode}):\n{r.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res.get("correct") or res.get("failed", 1) != 0:
        sys.exit(f"perf_pairs: run in {checkout} reported correct={res.get('correct')} "
                 f"failed={res.get('failed')}")
    return {k: float(v["value"]) for k, v in res["metrics"].items()}


def verdict(parent, change, better, bound):
    """parent/change: per-pair values, index-aligned."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    n = len(parent)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    delta = sign * (cmed - pmed)
    iqr = pq3 - pq1
    if wins >= 0.9 * n and delta > iqr:
        v = "gain"
    elif (bound is not None and pmed != 0 and -delta / abs(pmed) > bound) or \
            (losses >= 0.9 * n and -delta > iqr):
        v = "regression"
    elif bound is not None and iqr > bound * abs(pmed) and \
            not min(sign * c for c in change) > max(sign * p for p in parent):
        v = "unresolved"
    else:
        v = "flat"
    return wins / n, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--json", help="also write every run's metrics and the verdicts here")
    a = ap.parse_args()
    if a.pairs < 2 or a.pairs % 2:
        ap.error(f"--pairs must be even and at least 2, got {a.pairs}: the first side "
                 "alternates, and an odd count lets one side run first more often")

    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    metrics = spec["end_to_end"]
    runs = {"parent": [], "change": []}
    first = []
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        first.append(order[0])
        for side in order:
            runs[side].append(run(getattr(a, side), a.workload, a.seed, seconds))
        print(f"pair {i + 1}/{a.pairs} ({order[0]} first): " + ", ".join(
            f"{m['name']} {runs['parent'][-1][m['name']]:.4g} -> {runs['change'][-1][m['name']]:.4g}"
            for m in metrics), file=sys.stderr)

    report = {}
    print(f"{a.workload} seed {a.seed}, {a.pairs} pairs, {seconds:g} s runs")
    print(f"{'metric':<16}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'wins':>7}  verdict")
    for m in metrics:
        name = m["name"]
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        wins, v = verdict(p, c, m["better"], m.get("bound"))
        pq, cq = quartiles(p), quartiles(c)
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name:<16}{fmt(pq):>30}{fmt(cq):>30}{wins:>7.2f}  {v}")
        report[name] = {"parent": p, "change": c, "parent_quartiles": pq,
                        "change_quartiles": cq, "win_fraction": wins, "verdict": v}
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "pairs": a.pairs,
                       "seconds": seconds, "first": first, "metrics": report}, f, indent=1)


if __name__ == "__main__":
    main()
