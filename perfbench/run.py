#!/usr/bin/env python3
"""Record-linkage benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload oneshot --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in one JVM at local[nproc], checks its outputs and
prints a metric table followed, as the last line, by one JSON object
with the keys correct, attempted, failed and metrics. --trace 0 gives
the end-to-end metrics, --trace 1 the per-layer ones (see
BENCHMARK.json). --scale shrinks every input for smoke tests.
"""

import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("oneshot", "match", "pair_mode", "absorb")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out_dir = os.path.join(root, build.BUILD_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-{os.getpid()}.json")
    log = os.path.join(out_dir, f"{args.workload}-{os.getpid()}.log")
    if os.path.exists(out):
        os.remove(out)
    cores = len(os.sched_getaffinity(0))
    cmd = build.java_command(root, classes) + [
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--scale", str(args.scale), "--cores", str(cores),
        "--root", root, "--out", out]
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=root)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -1
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: JVM exited with {code}", file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    os.remove(log)

    meta = res.pop("meta")
    print(f"# workload={meta['workload']} seed={meta['seed']} cores={meta['cores']} "
          f"era_scalar_pairs_per_s={meta['era_scalar_pairs_per_s']:.0f}")
    print(f"# set-up {meta['setup_only_s']:.3f} s  warm-up {meta['warmup_s']:.3f} s  "
          f"check {meta['check_s']:.3f} s  wall samples {meta['wall_samples']}  "
          f"batch samples {meta['batch_samples']}")
    for note in meta["notes"]:
        print(f"# note: {note}")
    print(f"# untraced: {json.dumps(meta['untraced'])}")
    for name, m in res["metrics"].items():
        print(f"{name:32s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
