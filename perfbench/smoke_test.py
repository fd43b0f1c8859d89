#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001 with one timed pass.

    python3 perfbench/smoke_test.py [workload ...]

For each workload it runs the benchmark untraced with seeds 1 and 2 and
traced with seed 1, then checks that:

* every run is correct and prints every metric BENCHMARK.json names for its
  mode, with that metric's unit (workloads missing from BENCHMARK.json are
  checked against the same metric lists);
* the two seeds run the operations in different orders;
* on the read workloads the two seeds return identical rows per operation
  (on ``hiveql_dml`` the seed also picks the write predicates, so there both
  seeds must match their own DuckDB replay instead, which ``correct`` shows).

Exits 0 when every check holds.  Takes a few minutes: each run starts Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

SF = "0.001"


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "0", "--trace", str(trace), "--sf", SF]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench", "reports", f"{workload}-trace{trace}-seed{seed}.json")
    with open(path) as f:
        return result, json.load(f)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {0: spec["end_to_end"], 1: spec["per_layer"]}
    problems = []
    for workload in sys.argv[1:] or WORKLOADS:
        runs = {(seed, trace): run(workload, seed, trace) for seed, trace in ((1, 0), (2, 0), (1, 1))}
        for (seed, trace), (result, _) in runs.items():
            tag = f"{workload} seed {seed} trace {trace}"
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: {result['failed']} of {result['attempted']} operations failed")
            got = result["metrics"]
            for m in wanted[trace]:
                if m["name"] not in got:
                    problems.append(f"{tag}: metric {m['name']} missing")
                elif got[m["name"]]["unit"] != m["unit"]:
                    problems.append(f"{tag}: {m['name']} in {got[m['name']]['unit']}, not {m['unit']}")
        (_, a), (_, b) = runs[(1, 0)], runs[(2, 0)]
        if a["passes"][0]["order"] == b["passes"][0]["order"]:
            problems.append(f"{workload}: seeds 1 and 2 ran the same operation order")
        if workload != "hiveql_dml" and a["digests"] != b["digests"]:
            differ = sorted(k for k in a["digests"] if a["digests"][k] != b["digests"].get(k))
            problems.append(f"{workload}: seeds 1 and 2 returned different rows for {differ}")
        print(f"{workload}: checked", file=sys.stderr)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    print("smoke test", "failed" if problems else "passed", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
