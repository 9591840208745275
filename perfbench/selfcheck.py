#!/usr/bin/env python3
"""Self-check of the benchmark harness.

For each workload, on the sf0.001 inputs:
  1. an untraced run must end with failed_ops_frac = 0 and correct = true;
  2. a traced run must print every per-layer metric of BENCHMARK.json;
  3. a run that corrupts one target row (or one analytics result) before
     each gate must report failures and correct = false.

Run from the repository root:  python3 perfbench/selfcheck.py [workload ...]
(default: every workload, analytics_mix included).
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
WORKLOADS = ["wire_fact", "wire_dims", "script_fact", "analytics_mix"]


def run(workload, *extra):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7",
           "--seconds", "1", "--scale", "small", *extra]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        return p.returncode, json.loads(last)
    except ValueError:
        return p.returncode, None


def main():
    with open("BENCHMARK.json") as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    problems = []
    for wl in sys.argv[1:] or WORKLOADS:
        before = len(problems)
        code, r = run(wl, "--trace", "0")
        if code != 0 or not r or not r["correct"] or r["failed"] != 0:
            problems.append(f"{wl}: clean run not correct ({code}, {r})")
        code, r = run(wl, "--trace", "1")
        missing = per_layer - set((r or {}).get("metrics", {}))
        if code != 0 or not r or not r["correct"] or missing:
            problems.append(f"{wl}: traced run incomplete ({code}, missing {sorted(missing)})")
        code, r = run(wl, "--trace", "0", "--corrupt")
        if code != 0 or not r or r["correct"] or r["failed"] == 0:
            problems.append(f"{wl}: corrupted target not reported ({code}, {r})")
        print(f"{wl}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
