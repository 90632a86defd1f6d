#!/usr/bin/env python3
"""Steadiness of the benchmark: run each workload repeatedly, one seed per
run, and print each end-to-end metric's spread against its bound.

    python3 perfbench/steady.py [--first-seed 1]

Every workload of BENCHMARK.json runs ten times, with seeds first-seed,
first-seed + 1, and so on. The spread is the distance between the first and third quartiles
(`statistics.quantiles(values, n=4)`) as a share of the median. A metric is
steady when its spread is within its bound in BENCHMARK.json; the bounds
there were chosen from this command's output (see README.md). Every run's
result line is appended to .bench_build/perfbench/steady.jsonl.
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
RUNS = 10


def run_once(workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed ({proc.returncode})")
    return json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2, q2


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    log_path = os.path.join(ROOT, ".bench_build", "perfbench", "steady.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    for workload in (w["name"] for w in bench["workloads"]):
        results = []
        for i in range(RUNS):
            seed = a.first_seed + i
            t0 = time.time()
            r = run_once(workload, seed, bench["run_seconds"])
            wall = time.time() - t0
            results.append(r)
            with open(log_path, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, **r}) + "\n")
            print(f"{workload} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()) +
                f" (run {wall:.0f}s)", flush=True)
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"{workload}: correct in {sum(r['correct'] for r in results)}/{len(results)} runs, "
              f"failed shares {sorted(shares)}")
        for m in bench["end_to_end"]:
            s, med = spread([r["metrics"][m["name"]]["value"] for r in results])
            verdict = "steady" if s <= m["bound"] else "UNSTEADY"
            print(f"  {m['name']:<16} median {med:10.4f} {m['unit']:<3} spread {s:6.1%} "
                  f"bound {m['bound']:.0%} (a third: {m['bound'] / 3:.1%}) {verdict}")


if __name__ == "__main__":
    main()
