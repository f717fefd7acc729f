"""Exact-repeat self-check at the smallest size.

    python3 perfbench/repeat_check.py --workload ingest_loop --seed 0

Runs the traced benchmark twice on one seed at ``--size small`` and
compares the counts that do not depend on timing: Spark jobs per traced
call, accepted documents per batch, input rows per trigger and store
file counts. Exits 1 and prints the first differences if any count
differs between the two runs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def _run(workload: str, seed: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", "0", "--trace", "1",
        "--size", "small",
    ]
    subprocess.run(cmd, check=True, capture_output=True, timeout=900)
    path = os.path.join(
        ".perfbench", "records", f"{workload}-small-seed{seed}-trace1.json"
    )
    with open(path) as f:
        return json.load(f)["repeat_counts"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args(argv)
    first, second = _run(args.workload, args.seed), _run(args.workload, args.seed)
    diffs = [
        (section, first[section], second[section])
        for section in first
        if first[section] != second[section]
    ]
    for section, a, b in diffs:
        print(f"{section} differs:\n  run 1: {a}\n  run 2: {b}")
    jobs = sum(sum(v) for v in first["jobs_per_call"].values())
    print(
        f"{args.workload}: {len(first['jobs_per_call'])} traced calls, "
        f"{jobs} jobs; {'REPEATS' if not diffs else 'DIFFERS'}"
    )
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
