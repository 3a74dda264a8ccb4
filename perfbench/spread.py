#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload live --seeds 1 2 3 4 5

For every metric of the last JSON line: the median over the runs, and the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of that median. The
bounds in BENCHMARK.json are shares of a median in the same sense.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-2000:])
            return 1
        res = json.loads(lines[-1])
        stamp = next((ln for ln in lines if ln.startswith("stamp ")), "")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} {stamp}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:32s} median {med:12.5g}  spread {spread:6.3f}  {['%.4g' % v for v in vs]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
