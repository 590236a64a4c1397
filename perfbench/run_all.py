#!/usr/bin/env python3
"""All four workloads (oneshot, match, pair_mode, absorb) for one seed:
each one's metric table and result line, then a summary. Exits non-zero
if any workload fails a check or does not finish.

    python3 perfbench/run_all.py --seed 1            # end-to-end metrics
    python3 perfbench/run_all.py --seed 1 --trace 1  # per-layer tables

Run from the root of a checkout.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("oneshot", "match", "pair_mode", "absorb")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    args = ap.parse_args()

    ok = True
    for w in WORKLOADS:
        print(f"== {w}", flush=True)
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", args.trace],
                           capture_output=True, text=True)
        sys.stdout.write(r.stdout)
        if r.returncode != 0:
            sys.stdout.write(r.stderr)
            ok = False
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"== {w}: correct={res['correct']} error_rate="
              f"{res['failed'] / res['attempted']:.3f}", flush=True)
        ok = ok and res["correct"] and res["failed"] == 0
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
