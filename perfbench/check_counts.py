"""The benchmark's own test: counters that must repeat exactly.

    python3 perfbench/check_counts.py [--seed 7] [--workload crawl_batch ...]

Runs the traced run twice per workload with the same seed and fails (exit 1)
unless every exact counter below reads identically in both runs, so a later
change can claim a count-based win against these numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

EXACT = (
    "engine.spark_jobs",
    "incremental.spark_jobs",
    "checkpoint.files_written",
    "extraction.py_bytes_per_doc",
    "record_checks.broadcast_mb",
    "record_checks.violation_rows",
)


def traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if out.returncode != 0:
        raise SystemExit(f"{workload}: traced run failed\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = p.parse_args()
    bad = 0
    for w in args.workload or sorted(WORKLOADS):
        a, b = traced(w, args.seed), traced(w, args.seed)
        for k in EXACT:
            same = a[k] == b[k]
            bad += not same
            print(f"{w:14s} {k:30s} {a[k]!r:>22} {b[k]!r:>22} {'ok' if same else 'DIFFERS'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
