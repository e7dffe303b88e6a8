#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny generated inputs.

    python3 perfbench/smoke_test.py

Runs every workload once untraced and once traced with `--size tiny` and
asserts that the run exits 0, that its outputs checked correct, and that
every metric BENCHMARK.json names is printed with its unit (end-to-end
metrics untraced and non-zero, per-layer metrics traced). drop_cycle, which
BENCHMARK.json leaves out, is held to the same lists.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=1200)
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}"
    return json.loads(proc.stdout.splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]] + ["drop_cycle"]
    for w in workloads:
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            r = run(w, trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, (w, trace, r)
            for m in wanted:
                got = r["metrics"].get(m["name"])
                assert got is not None, f"{w} trace={trace}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{w}: {m['name']} unit {got['unit']}"
                assert trace or got["value"] > 0, f"{w}: {m['name']} is {got['value']}"
            print(f"ok {w} trace={trace}: {len(wanted)} metrics", flush=True)


if __name__ == "__main__":
    main()
