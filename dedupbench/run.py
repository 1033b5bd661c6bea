#!/usr/bin/env python3
"""Benchmark of the dedup engine: one workload per run.

    python3 dedupbench/run.py --workload pipeline_long_convs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, sets up a Spark session and warms it up, measures for at
least ``--seconds`` seconds, checks every timed result against the
planted ground truth and prints, as the last line of its standard
output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run adds one traced iteration and reports the
per-layer ones instead. Progress and the correctness summary go to
standard error. Everything the run writes stays under
``.dedupbench_work/`` in the checkout; its own work directory is removed
at exit, the span traces of traced runs are kept in
``.dedupbench_work/traces/``. DESIGN.md explains the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PACKAGE = "comparador_de_registros_spark"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ next to {os.path.basename(BENCH)}/: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the engine's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".dedupbench_work", f"{args.workload}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = WORKLOADS[args.workload](work, args.seed, bool(args.trace)).run(args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
