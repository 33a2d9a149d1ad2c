#!/usr/bin/env python3
"""perfbench entry point.

    python3 perfbench/run.py --workload <cdc_spine|cdc_full|headline_queries> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints a readable report, then as its
last line one JSON object {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (plus the span file and the tracing
overhead against the last untraced run in the report). Exits non-zero
without a result line when the program is missing or a run fails.
"""

from __future__ import annotations

import argparse
import sys
import time

T_PROCESS = time.time()

import common  # noqa: E402

WORKLOADS = ("cdc_spine", "cdc_full", "headline_queries")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    common.import_program()
    memory = common.PeakMemory()
    if args.workload == "cdc_spine":
        from spine import run
    elif args.workload == "cdc_full":
        from cdcfull import run
    else:
        from headline import run

    try:
        attempted, failed, e2e, layers, report = run(
            args.seed, args.seconds, bool(args.trace), T_PROCESS, memory
        )
    finally:
        common.stop_spark()
    if args.trace:
        common.tracing_overhead(args.workload, e2e)
    else:
        common.save_untraced(args.workload, args.seed, e2e)
    common.emit(args.workload, bool(args.trace), attempted, failed, e2e, layers, report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
