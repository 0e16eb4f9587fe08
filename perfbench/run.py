#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload optree_mix --seed 1 --seconds 5 --trace 0

Runs one workload (see perfbench/README.md) from the root of a checkout and
prints a summary, then, as the last line of standard output, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  Exits non-zero
without a result line when the package is missing or a run cannot finish.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "oscar_spatial_index_compare_spark"
WORK_DIR = os.path.join(ROOT, "perfbench", ".work")
sys.path.insert(0, ROOT)

from perfbench.harness import WORKLOADS, Run  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or \
            importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        line, summary = Run(args.workload, args.seed, args.seconds, bool(args.trace),
                            ROOT, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(summary))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
