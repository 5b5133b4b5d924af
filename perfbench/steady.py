#!/usr/bin/env python3
"""Steadiness check: run every workload N times with alternating seeds and
print each end-to-end metric's median, quartiles and spread.

    python3 perfbench/steady.py --runs 10 --first-seed 1

Every workload of BENCHMARK.json runs, at its run_seconds.

The spread is (third quartile - first quartile) / median, with quartiles as
`statistics.quantiles(values, n=4)` gives them. It is compared with the
metric's regression bound in BENCHMARK.json: a spread under a third of the
bound is steady. Runs go round-robin over the workloads, so slow drift of
the machine falls on every workload alike.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    workloads = [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]

    results = {w: [] for w in workloads}
    for i in range(args.runs):
        seed = args.first_seed + i
        for w in workloads:
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}", flush=True)
                continue
            res = json.loads(lines[-1])
            res["wall_s"] = wall
            res["seed"] = seed
            results[w].append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items() if k in
                            {m["name"] for m in metrics})
            print(f"{w} seed {seed}: {wall:.0f}s correct={res['correct']} "
                  f"{res['attempted'] - res['failed']}/{res['attempted']} {vals}", flush=True)

    print()
    print(f"{'workload':16} {'metric':36} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for w in workloads:
        runs = results[w]
        if len(runs) < 2:
            continue
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            bound = m["bound"]
            verdict = "steady" if spread < bound / 3 else "within bound" if spread <= bound else "TOO WIDE"
            print(f"{w:16} {m['name']:36} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} "
                  f"{bound:>6} {verdict}")
        walls = [r["wall_s"] for r in runs]
        print(f"{w:16} {'(wall seconds per run)':36} {statistics.median(walls):12.1f} "
              f"{min(walls):12.1f} {max(walls):12.1f}")


if __name__ == "__main__":
    main()
