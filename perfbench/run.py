#!/usr/bin/env python3
"""tokseg benchmark: one command, seeded inputs, correctness-checked.

    python3 perfbench/run.py --workload hot_keys --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Workloads:

- ``hot_keys``: an events table whose ``user_id`` skew puts most records
  on a few of ``token_stream``'s 40 doc_ids through the batch segmenter job;
  traced runs add the downstream ``segment_vessel_daily`` identity job
  (perfbench/hot_keys.py).
- ``live``: an open-loop feed of four parquet files a second into the
  streaming segmenter and its exactly-once sink (perfbench/live.py).

Every run builds a session fitted to this host (``local[<half the CPUs>]``,
driver memory from ``SPARK_DRIVER_MEM``, console progress off, the checkout
on the Python workers' path), warms the measured path up, measures for
``--seconds`` seconds, then checks the outputs. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics: on
``hot_keys`` it runs the same input once untraced and once materializing
each layer under its own Spark job group, on ``live`` it records the
stream's progress. Everything is written under ``.bench_work/`` in the
checkout. The last line of stdout is the result as one JSON object; the
lines before it name each metric with its unit, and a ``stamp`` line records
the seed, host weather and settings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"


def prepare_env():
    """Environment the session and its Python workers inherit."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["hot_keys", "live"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=18)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    prepare_env()
    # imported only now: they need the checkout on sys.path
    from perfbench import host
    from perfbench.harness import WORK, Bench

    if args.workload == "hot_keys":
        from perfbench import hot_keys as workload
    else:
        from perfbench import live as workload

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(WORK, exist_ok=True)
    shutil.rmtree(bench.dir, ignore_errors=True)
    os.makedirs(bench.path("tmp"))
    os.environ["TMPDIR"] = bench.path("tmp")
    meter = host.HostMeter()
    t_start = time.perf_counter()
    try:
        result = workload.run(bench)
    finally:
        bench.stop_session()
    metrics = result["trace_metrics"] if bench.trace else result["metrics"]
    for name, (value, unit) in metrics.items():
        label = name if name == "setup_s" or bench.trace else (
            f"{args.workload}_{name}"
        )
        print(f"{label} {value:.6g} {unit}{result.get('notes', {}).get(name, '')}")
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": bench.cores,
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "run_wall_s": round(time.perf_counter() - t_start, 2),
        "host": meter.snapshot(),
        **result.get("stamp", {}),
    }
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print(
        f"attempted {result['attempted']} failed {result['failed']} "
        f"correct {result['correct']}"
    )
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": {
                    k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
