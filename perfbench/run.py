"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_microbatch --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed``, sets up (session, tables, warm-up), drives one closed-loop
client for ``--seconds``, checks every output against the DuckDB
model, and prints a report line followed by the result line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
span wrappers and the Spark event log and reports the per-layer
metrics instead. Exits non-zero without a result line when the
program under test is missing or a step fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Ctx:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.spark = None
        self.tracer = None
        self.phases: dict[str, float] = {}  # set-up phase -> seconds

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import deltalake_poc_spark  # noqa: F401
    except ImportError as e:
        print(f"program under test not found next to the benchmark: {e}",
              file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        report, result = workloads.run(
            workloads.WORKLOADS[args.workload], Ctx(args, work), args.trace)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
