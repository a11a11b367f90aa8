#!/usr/bin/env python3
"""Steadiness check: runs workloads repeatedly, one seed per run, and prints
each end-to-end metric's median and quartiles against its bound from
BENCHMARK.json, plus the share of failed operations.

Usage (from the root of a checkout):

    python3 perfbench/steady.py [--workloads kg-build,serve] [--runs 10]
                                [--first-seed 1] [--traced]

The spread of a metric is (Q3 - Q1) / median over the runs' values, with the
quartiles of Python's statistics.quantiles(values, n=4). A metric is steady
when its spread is within its bound; the benchmark aims at a third of the
bound. Every run must be correct and report 0 failed operations. With --traced,
one traced run per workload follows (same first seed) and its end-to-end
figures, read from the trace summary, are compared with the untraced medians
as tracing overhead.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run.py exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def main():
    bench = json.loads(Path("BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    all_ok = True
    for w in a.workloads.split(","):
        results = []
        for i in range(a.runs):
            seed = a.first_seed + i
            res, wall = run_once(w, seed, seconds, 0)
            results.append(res)
            print(f"  {w} seed {seed}: {wall:.0f} s wall, correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        failed = sum(r["failed"] for r in results)
        print(f"\n{w}: {a.runs} runs, {failed} failed of "
              f"{sum(r['attempted'] for r in results)} attempted, "
              f"all correct: {all(r['correct'] for r in results)}")
        print(f"  {'metric':18s} {'unit':5s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>7s} {'bound':>6s}")
        medians = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            unit = results[0]["metrics"][name]["unit"]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            medians[name] = med
            spread = (q3 - q1) / med
            verdict = ("ok" if spread <= bound / 3 else
                       "within bound" if spread <= bound else "TOO WIDE")
            if verdict == "TOO WIDE":
                all_ok = False
            print(f"  {name:18s} {unit:5s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:7.3f} {bound:6.2f}  {verdict}")
        all_ok = all_ok and failed == 0 and all(r["correct"] for r in results)
        if a.traced:
            res, wall = run_once(w, a.first_seed, seconds, 1)
            summary = json.loads(Path(f".bench_build/trace/{w}-seed{a.first_seed}.json").read_text())
            print(f"  traced run: {wall:.0f} s wall, {len(res['metrics'])} per-layer metrics, "
                  f"correct={res['correct']}")
            for name, m in summary["end_to_end_traced"].items():
                if name in medians:
                    print(f"    overhead {name:18s} traced {m['value']:12.4f} "
                          f"untraced median {medians[name]:12.4f} "
                          f"({(m['value'] / medians[name] - 1) * 100:+.1f} %)")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
