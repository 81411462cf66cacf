#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Usage (from the root of a checkout):

    python3 perfbench/smoke_test.py

Runs every workload at the tiny `--smoke` sizes, untraced and traced, and
asserts that each run exits 0, passes every correctness check, and prints
every end-to-end (untraced) or per-layer (traced) metric named in
BENCHMARK.json, with its unit and a finite value. Takes a few minutes.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", "1", "--seconds", "3", "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            tag = f"{w} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} "
                                f"failed={res['failed']} attempted={res['attempted']}")
            wanted = bench["per_layer"] if trace else bench["end_to_end"]
            got = res["metrics"]
            if sorted(got) != sorted(m["name"] for m in wanted):
                problems.append(f"{tag}: metric names differ from BENCHMARK.json")
            for m in wanted:
                v = got.get(m["name"])
                if (v is None or v.get("unit") != m["unit"]
                        or not isinstance(v.get("value"), (int, float))
                        or not math.isfinite(v["value"])):
                    problems.append(f"{tag}: bad metric {m['name']}: {v}")
            print(f"smoke {tag}: {len(got)} metrics, attempted={res['attempted']} "
                  f"failed={res['failed']}", flush=True)
    for p in problems:
        print("SMOKE FAIL", p)
    print("smoke test", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
