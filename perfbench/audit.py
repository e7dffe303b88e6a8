#!/usr/bin/env python3
"""Counter-repeat audit and tracing overhead, for one workload and seed.

    python3 perfbench/audit.py --workload <name> [--seed 1]

Runs the workload twice traced and once untraced with the same seed, then
prints which per-layer counters (counts, bytes and ratios of counts) read
exactly the same in both traced runs and which did not, and the traced
operation median against the untraced one (the tracing overhead).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTER_UNITS = ("count", "bytes", "ratio")


def run(workload, seed, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "8", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=1200)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed with exit {proc.returncode}")
    return json.loads(proc.stdout.splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    t1, t2 = run(a.workload, a.seed, 1), run(a.workload, a.seed, 1)
    plain = run(a.workload, a.seed, 0)
    counters = sorted(k for k, v in t1.items() if v["unit"] in COUNTER_UNITS and k in t2)
    same = [k for k in counters if t1[k]["value"] == t2[k]["value"]]
    differ = [k for k in counters if t1[k]["value"] != t2[k]["value"]]
    nonzero = [k for k in same if t1[k]["value"] != 0]
    print(f"{a.workload} seed {a.seed}: {len(same)}/{len(counters)} counters repeat exactly "
          f"({len(nonzero)} of them non-zero)")
    for k in differ:
        print(f"  differs: {k} {t1[k]['value']} vs {t2[k]['value']}")
    traced = [t["bench.op_p50_ms"]["value"] for t in (t1, t2)]
    print(f"  op_p50_ms untraced {plain['op_p50_ms']['value']:.1f}, traced "
          + ", ".join(f"{x:.1f}" for x in traced)
          + f" (x{sum(traced) / len(traced) / plain['op_p50_ms']['value']:.3f})")


if __name__ == "__main__":
    main()
