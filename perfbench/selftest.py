#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 (about 4 minutes on 4 cores).

    python3 perfbench/selftest.py

For each workload it makes two runs and asserts:
- the untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, and no operation fails;
- the traced run prints every per-layer metric with its unit, leaves no
  event-log stage outside a layer span, and, with one oracle row count
  made wrong on purpose, reports exactly that operation as failed.
It also checks that the benchmark refuses to run, printing no result, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "0.001"
SEED = 1
# per workload: a query whose oracle row count the traced run is told to
# get wrong (build: the pip_pairs stage checks against pip_images)
INJECT = {"snap": "radius_join", "overlay": "way_cover", "build": "pip_images"}


def run(bench: dict, workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(SEED),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=200)


def result_of(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list[dict]) -> None:
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(n for n in set(got) & set(want) if got[n] != want[n])
        raise AssertionError(f"missing {missing}, undeclared {extra}, unit mismatch {units}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        workload = w["name"]
        plain = result_of(run(bench, workload, 0, "--sf", SF))
        check_metrics(plain, bench["end_to_end"])
        assert plain["correct"] and plain["failed"] == 0, plain
        assert all(m["value"] > 0 for m in plain["metrics"].values()), plain

        traced = result_of(run(bench, workload, 1, "--sf", SF, "--inject-wrong-count", INJECT[workload]))
        check_metrics(traced, bench["per_layer"])
        assert traced["metrics"]["trace.unattributed_stages"]["value"] == 0, traced
        assert traced["attempted"] == plain["attempted"], (traced, plain)
        assert traced["failed"] == 1 and not traced["correct"], traced
        print(f"{workload}: ok ({plain['attempted']} operations per pass)", flush=True)

    bare = os.path.join(ROOT, "perfbench", ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = run(bench, bench["workloads"][0]["name"], 0, cwd=bare)
    shutil.rmtree(bare)
    assert proc.returncode != 0 and not proc.stdout.strip(), (proc.returncode, proc.stdout)
    print("bare directory: refused", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
