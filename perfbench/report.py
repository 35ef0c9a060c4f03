"""Run every workload once and print its end-to-end metrics.

    python3 perfbench/report.py --seed 1 [--seconds S] [--trace 0|1] [workload ...]

Each workload runs in its own ``run.py`` process, one after the other;
the metric lines (name, value, unit, plus the failed and mismatch
shares) of each are printed as they finish.  Exits non-zero if any run
fails or reports an incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.workloads import WORKLOADS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap.add_argument("--seconds", type=int, default=run_seconds)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    status = 0
    for w in args.workloads:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{w} FAILED (exit {proc.returncode})")
            status = 1
            continue
        result = json.loads(lines[-1])
        for line in lines[:-1]:
            print(line)
        print(f"{w} correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
        status |= not result["correct"]
    return status


if __name__ == "__main__":
    sys.exit(main())
