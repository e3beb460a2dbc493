"""Benchmark of the bm25_spark engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, drives the engine through its public functions for ``--seconds``,
checks sampled answers against ``bm25_spark.oracle.OracleBM25`` and prints
two JSON lines: a summary with every named metric and input property, then
the result line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 1`` the metrics are the per-layer ones. Exits 1 when any check
failed, 2 when the engine is not there. See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build", "query_warm", "query_batch", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bm25_spark", "operators", "indexer.py")):
        print("perfbench: bm25_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]

    import workloads
    from env import Env

    if args.workload == "query_batch":
        # read by bm25_spark.operators.packed at import (workloads.py says why)
        os.environ["BM25_DRIVER_PATH_MAX_WORK"] = str(workloads.DRIVER_PATH_MAX_WORK)

    env = Env(root)
    run = workloads.Run(env, args.seed, args.seconds, bool(args.trace), T0)
    try:
        res = workloads.WORKLOADS[args.workload](run)
    finally:
        env.close()

    correct = res["failed"] == 0
    if args.trace:
        metrics = {
            name: {"value": float(res["layers"].get(name, 0.0)), "unit": unit}
            for name, unit in workloads.PER_LAYER
        }
    else:
        units = {"setup_s": "s", "op_p50_ms": "ms", "throughput_per_s": "1/s",
                 "peak_rss_mb": "MB", "bytes_per_text_byte": "ratio"}
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in units.items()}
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["named"].items()},
        "e2e": res["e2e"],
        "samples": res["samples"],
        "setup_parts": res["setup_parts"],
        "inputs": res["info"],
        "session": env.info(),
        "mismatches": res["notes"],
    }
    print(json.dumps(summary, default=str))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
