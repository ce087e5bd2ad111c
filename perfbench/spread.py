"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload corpus_ingest --seeds 1-10

Runs the benchmark once per seed (sequentially, from the current
directory) and prints, for each end-to-end metric, the median of the
runs and the distance between their first and third quartiles as a
share of the median -- the figure BENCHMARK.json's `bound` must
exceed.  Each run measures BENCHMARK.json's `run_seconds`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    first, last = map(int, args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(first, last + 1):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if proc.returncode or not result["correct"]:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed} ({wall:.0f} s): "
              + ", ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:14s} median {med:.4g}  spread {(q3 - q1) / med:.3f}  bound {bounds[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
