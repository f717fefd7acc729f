"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload ingest_loop --seeds 1-10

Runs ``perfbench/run.py`` once per seed (one after another, each a
fresh process), then prints per metric the median over runs and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median,
next to the metric's bound from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in _seeds(args.seeds):
        cmd = list(bench["command"]) + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(result)
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(
            f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
            f"failed={result['failed']}/{result['attempted']} {vals}",
            flush=True,
        )
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(
            f"{name}: median {med:.4f} spread {spread:.4f} "
            f"bound {bounds.get(name)} n={len(values)}"
        )
    print("all correct:", all(r["correct"] for r in runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
