#!/usr/bin/env python3
"""Repository benchmark: drives the package's public entry points from
outside, on local[<cores>] in one process, and prints a run record line
and then one JSON result line.

    python3 perfbench/run.py --workload pipeline_incremental --seed 1 \\
        --seconds 10 --trace 0

Run it from the repository root. Workloads, metrics and the reasons behind
them are described in perfbench/NOTES.md. With `--trace 0` the result holds
the end-to-end metrics; with `--trace 1` Spark's event log is on, the
package's layers are wrapped in spans, and the result holds the per-layer
metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sts_opentelemetry_collector_spark"

CORES = len(os.sched_getaffinity(0))
# Below the host's RAM on purpose: session.py defaults to 24g, more than a
# 15 GiB host has.
DRIVER_HEAP = "3g"


def host_probe() -> float:
    """A fixed single-thread Python loop: explains a slow run, moves with
    nothing the package does."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    if args.workload not in harness.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record, result = harness.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            cores=CORES, heap=DRIVER_HEAP, probe=host_probe,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
