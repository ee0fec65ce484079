#!/usr/bin/env python3
"""Smoke check for the benchmark: every workload at a tiny size, untraced
and traced. Each run must exit 0, pass its correctness gates and print
every metric BENCHMARK.json names for that mode, with its unit and a
numeric value.

    python3 perfbench/smoke.py [workload ...]

Run from the repository root; takes a few minutes (one Spark start per
run). Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("capture", "lineage", "workflow", "curate")


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace),
           "--size", "smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-1500:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result.get("correct"):
        detail = json.loads(proc.stdout.strip().splitlines()[-2])
        problems.append(f"gates failed: {detail.get('failures')}")
    if not (isinstance(result.get("attempted"), int) and result["attempted"] >= 1):
        problems.append(f"attempted = {result.get('attempted')}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = result.get("metrics", {})
    if set(metrics) != {m["name"] for m in wanted}:
        problems.append(f"metric names differ: {sorted(set(metrics) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None:
            continue
        if got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {got.get('unit')} != {m['unit']}")
        value = got.get("value")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            problems.append(f"{m['name']}: value {value!r}")
        elif not trace and value <= 0:
            problems.append(f"{m['name']}: end-to-end value {value} is not positive")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = sys.argv[1:] or WORKLOADS
    for workload in names:
        for trace in (0, 1):
            problems = check(workload, trace, spec)
            status = "ok" if not problems else "FAIL"
            print(f"{workload} trace={trace}: {status}", flush=True)
            for p in problems:
                print(f"  {p}")
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
