#!/usr/bin/env python3
"""Runs every workload of BENCHMARK.json several times, untraced, one seed
per run, and prints each end-to-end metric's median and quartile spread
(Q3 - Q1) / median against its bound, plus the wall time of each run.

    python3 perfbench/steady.py --runs 10 --first-seed 100
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in (w["name"] for w in bench["workloads"]):
        vals, walls, shares = {}, [], set()
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"],
                stdout=subprocess.PIPE, text=True)
            walls.append(time.time() - t0)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            shares.add((res["failed"], res["attempted"], res["correct"]))
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f}s {res}", flush=True)
        for k, xs in vals.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < bounds[k] / 3 else "WIDE"
            print(f"  {w} {k}: median {med:.4g} spread {spread:.3f} "
                  f"(bound {bounds[k]}) {flag}")
        print(f"  {w} wall: median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s; (failed, attempted, correct): {sorted(shares)}",
              flush=True)


if __name__ == "__main__":
    main()
