#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny input size: every workload,
untraced and traced, must print as its last line a result with exactly
the keys correct/attempted/failed/metrics, pass every output check, and
emit every metric BENCHMARK.json names for that mode with its unit.
Also checks that the benchmark refuses to run where the engine sources
are missing.

    python3 perfbench/smoke_test.py     # from the root of a checkout
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("oneshot", "match", "pair_mode", "absorb")


def run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", trace, "--scale", "0.25"],
        capture_output=True, text=True, cwd=cwd, timeout=600)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failures = []
    for w in WORKLOADS:
        for trace in ("0", "1"):
            r = run(w, trace)
            tag = f"{w} --trace {trace}"
            before = len(failures)
            if r.returncode != 0:
                failures.append(f"{tag}: exit {r.returncode}\n{r.stderr[-1500:]}")
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                failures.append(f"{tag}: result keys {sorted(res)}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                failures.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                                f"attempted={res['attempted']}\n{r.stdout[-1500:]}")
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            if got != want[trace]:
                failures.append(f"{tag}: metrics/units differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
            if not all(isinstance(m["value"], (int, float)) for m in res["metrics"].values()):
                failures.append(f"{tag}: a metric value is not a number")
            print(f"{tag}: {'FAIL' if len(failures) > before else 'ok'}", flush=True)

    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = run("oneshot", "0", cwd=bare)
        if r.returncode == 0 or r.stdout.strip():
            failures.append("a checkout without engine sources did not fail cleanly")
    finally:
        shutil.rmtree(bare)

    for f in failures:
        print("FAIL", f)
    print("smoke test", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
