#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the way a benchmark
set is judged: one run per seed, then for every metric the distance
between the first and third quartile of the values as a share of
their median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steadiness.py --workload oneshot --seeds 1-10
    python3 perfbench/steadiness.py --workload absorb --seeds 1-5 --keep out/

Run from the root of a checkout. --keep saves every run's output.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--keep", help="directory for each run's output")
    args = ap.parse_args()

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {name: [] for name in bounds}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        r = subprocess.run(cmd, capture_output=True, text=True)
        took = time.time() - t0
        if args.keep:
            os.makedirs(args.keep, exist_ok=True)
            with open(os.path.join(args.keep, f"{args.workload}-{seed}.txt"), "w") as f:
                f.write(r.stdout + r.stderr)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} took={took:.0f}s", flush=True)
        for name in bounds:
            values[name].append(res["metrics"][name]["value"])

    print(f"{'metric':18s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if name == "setup_s" or spread <= bounds[name] / 3 else "  <-- above bound/3"
        print(f"{name:18s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f} {bounds[name]:6.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
