#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {snap,overlay,build} --seed N \\
        --seconds S --trace {0,1} [--sf 0.01]

Run from the repository root. Prints a run report (host, set-ups, passes)
and, as the last stdout line, the result record
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics from Spark's event log with ``--trace 1``.

The run itself happens in a child process (``perfbench/bench.py``) in its
own session; this supervisor enforces the time limit, and stops and
waits for every process the run started (the Spark JVM and its Python
workers) before it exits. Everything the run writes stays under
``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
# a run must end within 180 s; leave room to reap the run's processes
TIME_LIMIT_S = 160
# engine settings that would mask the program's own defaults
UNSET_ENV = ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MAX_PART", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. The run's child leads its own
    session; Spark's Python daemon moves its workers into a process group
    of their own, but not out of the session."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command: state, ppid, pgrp, session, ...
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(pid))
    return pids


def _reap(sid: int) -> None:
    """Kill whatever is left of the run's session and wait until it is gone."""
    deadline = time.monotonic() + 10
    while (pids := _session_pids(sid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def child_env(seed: int) -> dict[str, str]:
    sys.path.insert(0, ROOT)
    from perfbench.inputs import fixture_root

    env = {k: v for k, v in os.environ.items() if k not in UNSET_ENV}
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "BUTTERFLY_FIXTURE_DIR": fixture_root(WORK, seed),
            # the fixture generator also reads shared testdata when it
            # exists; point it at an empty dir inside the checkout
            "SPARK_GRAFT_TESTDATA_ROOT": os.path.join(WORK, "no-testdata"),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    return env


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=["snap", "overlay", "build"], required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--sf", default="0.01", help="fixture scale factor (default 0.01)")
    p.add_argument("--inject-wrong-count", metavar="QUERY", help=argparse.SUPPRESS)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "butterfly_osm_spark", "queries.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    cmd = [
        sys.executable, "-m", "perfbench.bench",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--sf", args.sf, "--work", WORK, "--out", out,
    ]
    if args.inject_wrong_count:
        cmd += ["--inject-wrong-count", args.inject_wrong_count]
    # the child's stdout carries Spark's console noise: keep it off ours
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=child_env(args.seed), stdout=sys.stderr, start_new_session=True
    )
    try:
        code = child.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
        code = None
    finally:
        _reap(child.pid)
        child.wait()
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    with open(out) as f:
        record = json.load(f)
    os.remove(out)
    print(json.dumps(record["report"]))
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
