#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at its smallest size.

    python3 perfbench/smoke_test.py

For each workload of BENCHMARK.json, an untraced run must pass its check
and print every end-to-end metric, and a traced run with one output
corrupted must print every per-layer metric and fail its check. Takes
about five minutes on four cores.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "2", "--trace", str(trace), "--tiny", "1",
         "--corrupt", str(corrupt)],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    problems = []
    for w in workloads:
        for trace, corrupt, spec in [(0, 0, "end_to_end"), (1, 1, "per_layer")]:
            rc, result, err = run(w, trace, corrupt)
            what = f"{w} trace={trace} corrupt={corrupt}"
            if result is None:
                problems.append(f"{what}: no result (exit {rc})\n{err[-2000:]}")
                continue
            want = {m["name"] for m in bench[spec]}
            if set(result["metrics"]) != want:
                problems.append(f"{what}: metrics {sorted(set(result['metrics']) ^ want)}")
            if result["correct"] == bool(corrupt) or (rc == 0) == bool(corrupt):
                problems.append(f"{what}: correct={result['correct']} exit={rc}")
            print(f"{what}: exit {rc}, correct={result['correct']}, "
                  f"{len(result['metrics'])} metrics", flush=True)
    for p in problems:
        print("PROBLEM", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
