#!/usr/bin/env python3
"""Steadiness check: runs the benchmark repeatedly, alternating the
workloads in each pass and giving every run its own seed, then prints
each metric's median, quartiles and quartile spread (IQR / median).

usage: python3 perfbench/steady.py [--runs N] [--seconds S] [--trace 0|1]
                                   [--first-seed K] [workload ...]

The bounds in BENCHMARK.json are set from this output: each end-to-end
metric's bound is at least three times the spread seen here.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    runs = {n: [] for n in names}
    for i in range(a.runs):
        order = names if i % 2 == 0 else names[::-1]
        for n in order:
            seed = a.first_seed + i
            cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", n,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            rec = json.loads(lines[-1]) if lines else None
            print(f"{n} seed {seed}: exit {p.returncode} "
                  f"{'' if rec is None else {k: rec[k] for k in ('correct', 'attempted', 'failed')}}",
                  flush=True)
            for line in p.stderr.splitlines():
                if line.startswith("[perfbench] rounds: "):
                    print("   ", line[len("[perfbench] "):], flush=True)
            if rec is not None:
                runs[n].append(rec)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for n in names:
        recs = runs[n]
        if not recs:
            continue
        shares = {r["failed"] / r["attempted"] for r in recs}
        print(f"\n== {n}: {len(recs)} runs, failed shares {sorted(shares)}")
        for m in recs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in recs]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = q3 = med
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(m)
            flag = "" if b is None else f"  bound {b} {'OK' if spread < b / 3 else 'WIDE'}"
            print(f"  {m:28s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:7.2%}{flag}")


if __name__ == "__main__":
    main()
