"""Run the benchmark on several seeds and report, per end-to-end metric,
the median and the spread (inter-quartile range over median) next to the
metric's bound in BENCHMARK.json.

Usage: python3 perfbench/spread.py WORKLOAD [--seeds 1,2,...] [--out FILE]

Runs one seed at a time from the checkout root; each run's JSON line is
appended to FILE (default `.perfbench/spread-WORKLOAD.jsonl`).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from common import ROOT, STATE


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = args.out or os.path.join(STATE, f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for seed in args.seeds.split(","):
        t = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", seed,
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        walls.append(time.monotonic() - t)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(out, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": walls[-1], **result}) + "\n")
        line = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} "
              f"wall={walls[-1]:.1f}s {line}", flush=True)
        for k, v in result["metrics"].items():
            values[k].append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        print(f"{m['name']:>16}: median {med:.4g} {m['unit']}  spread {spread:.3f}  "
              f"bound {m['bound']}  (target < {m['bound'] / 3:.3f})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
