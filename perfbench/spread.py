#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
spread: the distance between the first and third quartile as a share of
the median, next to the bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload repo-linkgraph --seeds 1-10

Runs are sequential, one JVM at a time. Raw result lines go to stdout as
JSON, the summary table to stderr.
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
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        result.update(seed=seed, run_s=round(time.perf_counter() - t0, 1))
        print(json.dumps(result), flush=True)
        for name in values:
            values[name].append(result["metrics"][name]["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{args.workload:15s} {m['name']:15s} median {med:9.3f}  q1 {q1:9.3f}  q3 {q3:9.3f}  "
              f"spread {(q3 - q1) / med:6.3f}  bound {m['bound']}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
