#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads snap,overlay,build --seeds 1-10

Runs ``run.py --trace 0`` once per seed and workload, one run at a time,
and prints per workload and metric the median and the spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median, next to the metric's bound from BENCHMARK.json. Each
run's report and result are appended to ``--log`` for later inspection.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workloads", default="snap,overlay,build")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--log", default=os.path.join(ROOT, "perfbench", ".work", "spread.jsonl"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.log), exist_ok=True)

    failed = False
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            took = time.monotonic() - t0
            if proc.returncode != 0:
                print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                failed = True
                continue
            *_, report, last = proc.stdout.strip().splitlines()
            result = json.loads(last)
            with open(args.log, "a") as f:
                f.write(json.dumps({"run_s": took, "report": json.loads(report), **result}) + "\n")
            if not result["correct"]:
                failed = True
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: {took:.1f} s, correct={result['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for name, vals in values.items():
            if len(vals) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med
            print(f"  {workload} {name}: median {med:.4g}, spread {spread:.3f} "
                  f"(bound {bounds[name]}, target < {bounds[name] / 3:.3f})", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
