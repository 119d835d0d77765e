"""Self-test of the benchmark on the tiny sf0.001 fixture.

Usage (from the repository root)::

    python3 perfbench/selftest.py

Checks, for every workload, that an untraced run prints every end-to-end
metric with its unit and matches every oracle; that a traced run prints
every per-layer metric with its unit; that a corrupted expected hash makes
exactly that query's executions, and nothing else, count as failed; and
that every span lies inside its parent. Exits nonzero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
import tracing
from workloads import WORKLOADS

SF = 0.001


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def metrics_ok(result: dict, units: dict[str, str]) -> None:
    got = result["metrics"]
    check(set(got) == set(units), f"metric names {sorted(units)}")
    for name, unit in units.items():
        m = got[name]
        check(m["unit"] == unit and isinstance(m["value"], (int, float)), f"{name} has unit {unit}")


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    run_tmp = os.path.join(root, ".perfbench_work", "tmp", f"selftest-{os.getpid()}")
    run.prepare_environment(root, run_tmp)
    try:
        for name, w in WORKLOADS.items():
            plain, _ = run.run_workload(name, 1, 0.1, False, root, sf=SF)
            metrics_ok(plain, run.END_TO_END)
            check(plain["failed"] == 0 and plain["correct"], f"{name}: every result matches its oracle")

            corrupt = w.queries[0]
            traced, bench = run.run_workload(name, 2, 0.1, True, root, sf=SF, corrupt=corrupt)
            metrics_ok(traced, tracing.LAYER_METRICS)
            runs_of_corrupt = [lb for lb in bench.executed if lb.rsplit("/", 1)[1] == corrupt]
            check(bench.failures == runs_of_corrupt and traced["failed"] == len(runs_of_corrupt) > 0,
                  f"{name}: corrupted hash of {corrupt} fails exactly its {len(runs_of_corrupt)} executions "
                  f"(failed_frac {traced['failed'] / traced['attempted']:.3f})")
            path = os.path.join(root, ".perfbench_work", "spans", f"{name}-seed2.jsonl")
            with open(path) as f:
                spans = [json.loads(line) for line in f]
            check(len(spans) > 0, f"{name}: spans written to {path}")
            bad = tracing.nesting_errors(spans)
            check(not bad, f"{name}: every child span lies inside its parent {bad[:3]}")
    finally:
        shutil.rmtree(run_tmp, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
