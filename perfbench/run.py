#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,daily_append}
        --seed N --seconds S --trace {0,1}
        [--cores nproc] [--driver-memory 3g] [--shuffle-partitions 8]

Run from the repository root. Prints progress lines starting with '#' and,
as the last line, one JSON object with the keys correct, attempted, failed
and metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1, as listed in BENCHMARK.json). A traced run also writes its spans
to perfbench/_traces/<workload>-seed<N>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def workloads() -> dict:
    from perfbench.daily_append import DailyAppend
    from perfbench.event_search import Search

    return {w.name: w for w in (Search, DailyAppend)}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", default="nproc", help="local[N] master; 'nproc' = all usable CPUs")
    ap.add_argument("--driver-memory", default="3g")
    ap.add_argument("--shuffle-partitions", type=int, default=8)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own smoke tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("chronographer_spark", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    # import perfbench as a package from the root, not its modules from
    # the script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path = [p for p in sys.path if os.path.abspath(p or ".") != here]
    sys.path.insert(0, ROOT)
    from perfbench import harness

    table = workloads()
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(table)}",
              file=sys.stderr)
        return 2
    result = harness.run(args, ROOT, table[args.workload])
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
