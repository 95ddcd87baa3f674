#!/usr/bin/env python3
"""Run the benchmark once per seed and report, per metric, the median, the
quartiles and the spread (interquartile distance as a share of the median).

    python3 perfbench/spread.py --workload cdc --seeds 1-10 [--trace 0] [--out runs.jsonl]

Reads the run length from BENCHMARK.json. Runs are sequential; each run's
last stdout line is appended to --out when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", type=_seeds)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        record = next((json.loads(ln[len("record "):]) for ln in lines
                       if ln.startswith("record ")), {})
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": walls[-1], **result,
                                    "e2e": record.get("e2e"),
                                    "setup": record.get("detail", {}).get("setup")}) + "\n")
        print(f"seed {seed}: {walls[-1]:.1f} s correct={result['correct']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        if len(vs) >= 2:
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            print(f"{k}: median {q2:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  spread {spread(vs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
