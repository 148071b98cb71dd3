"""One benchmark run in one process: seeded inputs, session set-up, timed
passes of one workload, correctness checks and the result record.

Started by ``perfbench/run.py``, which enforces the time limit and reaps
every process the run leaves; run that, not this module.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs as inputs_mod
from perfbench import spans
from perfbench.spans import Tracer

# (query, layer) per timed pass; the layer is the engine module the query's
# work lives in and names the span around the call
QUERY_WORKLOADS = {
    "snap": [("knn_nodes", "knn"), ("radius_join", "tiles")],
    "overlay": [
        ("pip_images", "pip"),
        ("raster_contour", "raster"),
        ("extract_edges", "extract"),
        ("way_cover", "tiles"),
        ("image_tiles", "cells"),
        ("region_tiles", "cells"),
    ],
}
WORKLOADS = [*QUERY_WORKLOADS, "build"]
# checkpoint.reference_pipeline stage -> layer of its Stage.fn
BUILD_LAYERS = {
    "nodes_sorted": "checkpoint.sort",
    "way_nodes_sorted": "checkpoint.sort",
    "way_attrs": "model",
    "edges": "extract",
    "image_cells": "cells",
    "pip_pairs": "pip",
    "restriction_arcs": "relations",
}
# stage -> oracle query whose answer the stage must reproduce
BUILD_ORACLES = {
    "edges": "extract_edges",
    "pip_pairs": "pip_images",
    "restriction_arcs": "restriction_arcs",
    "way_attrs": "way_attrs",
}
# stages without an oracle keep every row of their input table
BUILD_INPUTS = {"nodes_sorted": "osm_nodes", "way_nodes_sorted": "way_nodes", "image_cells": "image_geo"}


END_TO_END = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s"}


class Ledger:
    """Operations attempted and failed; a failure is never dropped."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, label: str, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.failed += 1
            print(f"perfbench: FAILED {label}: {error}", file=sys.stderr, flush=True)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form, as in tests/compare.py."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` as a multiset of rows, else why not."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            a, b = a.astype(np.float64), b.astype(np.float64)
            bad = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        else:
            bad = ~(pd.Series(a).fillna("<NULL>") == pd.Series(b).fillna("<NULL>")).to_numpy()
        if bad.any():
            return f"column {c}: {int(bad.sum())} values differ"
    return None


def _failure(exc: BaseException) -> str:
    traceback.print_exc(file=sys.stderr)
    return f"{type(exc).__name__}: {exc}"


class Run:
    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.inp: inputs_mod.Inputs | None = None
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.ledger = Ledger()
        self.spark = None
        self.log_dir = None
        self.stored_mb = 0.0
        self.expected: dict[str, int] = {}
        # per query or stage, last pass
        self.op_rows: dict[str, int] = {}
        self.op_s: dict[str, float] = {}

    # -- session -----------------------------------------------------------

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    # the default zstd codec has no Python reader here
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": self.log_dir,
                }
            )
        return conf

    def set_up(self) -> float:
        """get_spark plus bench.py's generic engine warm-up: one shuffle job
        (scheduler, code generator) and one pandas-UDF job that starts a
        Python worker per core. Runs no workload query. Without the warm-up,
        worker start-up lands in the first pandas-UDF stage of a pass, and
        overlay passes spread twice as wide."""
        from pyspark.sql import functions as F

        from butterfly_osm_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="butterfly-osm-perfbench", master=f"local[{self.cores}]", extra_conf=self.conf()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        span = self.tracer.begin("session")
        span.start = t0
        span.plan_s = time.perf_counter() - t0
        self.spark.range(100000).select(F.sum(F.hash("id"))).collect()
        self.spark.range(64, numPartitions=self.cores).groupBy("id").applyInPandas(
            lambda pdf: pdf, "id long"
        ).count()
        self.tracer.end()
        return span.end - t0

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def shut_down(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- expectations ------------------------------------------------------

    def expected_rows(self, name: str) -> int:
        if name not in self.expected:
            n = self.inp.oracle(name).num_rows
            if name == self.args.inject_wrong_count:
                n += 1
            self.expected[name] = n
        return self.expected[name]

    # -- passes ------------------------------------------------------------

    def query_pass(self, full_check: bool) -> tuple[float, int]:
        from butterfly_osm_spark.queries import QUERIES

        wall = 0.0
        rows = 0
        for name, layer in QUERY_WORKLOADS[self.args.workload]:
            want = self.expected_rows(name)
            self.spark.catalog.clearCache()
            span = self.tracer.begin(layer)
            try:
                df = QUERIES[name](self.spark, self.inp.sf_dir)
                span.plan_s = time.perf_counter() - span.start
                got = df.toPandas()
            except Exception as exc:  # counted as a failed operation
                self.tracer.end()
                wall += span.end - span.start
                self.ledger.record(name, _failure(exc))
                continue
            self.tracer.end()
            wall += span.end - span.start
            self.op_s[name] = span.end - span.start
            span.rows = len(got)
            rows += len(got)
            self.op_rows[name] = len(got)
            error = None
            if len(got) != want:
                error = f"{len(got)} rows, oracle has {want}"
            elif full_check:
                error = compare(got, self.inp.oracle(name).to_pandas())
            self.ledger.record(name, error)
        return wall, rows

    def build_pass(self, index: int, full_check: bool) -> tuple[float, int]:
        from butterfly_osm_spark.checkpoint import Build, reference_pipeline

        build_dir = os.path.join(self.work, f"build-{os.getpid()}-{index}")
        stage_spans: dict[str, spans.Span] = {}
        tracer = self.tracer

        class TracedBuild(Build):
            """One layer span per stage: input resolution, Stage.fn, the
            write and the lineage jobs all carry the stage's layer."""

            def run_stage(self, stage):
                stage_spans[stage.name] = tracer.begin(BUILD_LAYERS[stage.name])
                try:
                    return super().run_stage(stage)
                finally:
                    tracer.end()

        def timed(stage):
            def fn(spark, ins):
                t0 = time.perf_counter()
                df = stage.fn(spark, ins)
                stage_spans[stage.name].plan_s = time.perf_counter() - t0
                return df

            return dataclasses.replace(stage, fn=fn)

        stages = [timed(s) for s in reference_pipeline(self.inp.fixture_dir)]
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        fresh = TracedBuild(self.spark, build_dir)
        try:
            fresh.run(stages)
            error = None
        except Exception as exc:  # every stage that did not publish fails
            error = _failure(exc)
        resumed = None
        if error is None:
            span = self.tracer.begin("checkpoint.resume")
            try:
                resumed = Build(self.spark, build_dir).run(reference_pipeline(self.inp.fixture_dir))
            except Exception as exc:
                resume_error = _failure(exc)
            self.tracer.end()
            self.op_s["resume"] = span.end - span.start
        else:
            resume_error = "fresh build failed"
        wall = time.perf_counter() - t0

        published = {m["stage"]: m for m in fresh.stats}
        rows = 0
        for stage in BUILD_LAYERS:
            meta = published.get(stage)
            if meta is None:
                self.ledger.record(stage, error or "stage did not run")
                continue
            stage_spans[stage].rows += meta["row_count"]
            self.op_s[stage] = stage_spans[stage].end - stage_spans[stage].start
            rows += meta["row_count"]
            self.op_rows[stage] = meta["row_count"]
            oracle = BUILD_ORACLES.get(stage)
            want = self.expected_rows(oracle) if oracle else self.inp.table_rows(BUILD_INPUTS[stage])
            if meta["row_count"] != want:
                self.ledger.record(stage, f"{meta['row_count']} rows, expected {want}")
            elif full_check and oracle:
                got = pq.read_table(os.path.join(build_dir, stage)).to_pandas()
                self.ledger.record(stage, compare(got, self.inp.oracle(oracle).to_pandas()))
            else:
                self.ledger.record(stage, None)
        if resumed is None:
            self.ledger.record("resume", resume_error)
        else:
            again = {m["stage"]: m for m in resumed}
            bad = [
                s
                for s in BUILD_LAYERS
                if not again.get(s, {}).get("resumed")
                or again[s]["row_count"] != published.get(s, {}).get("row_count")
            ]
            self.ledger.record("resume", f"not resumed intact: {bad}" if bad else None)
        if index == 0:
            self.stored_mb = sum(
                os.path.getsize(os.path.join(d, f))
                for s in published
                for d, _, files in os.walk(os.path.join(build_dir, s))
                for f in files
            ) / spans.MB
        shutil.rmtree(build_dir, ignore_errors=True)
        return wall, rows

    # -- the run -----------------------------------------------------------

    def prepare_inputs(self) -> None:
        self.inp = inputs_mod.prepare(self.work, self.args.seed, self.args.sf)
        if self.args.workload == "build":
            oracles = BUILD_ORACLES.values()
        else:
            oracles = [name for name, _ in QUERY_WORKLOADS[self.args.workload]]
        for name in oracles:
            self.expected_rows(name)

    def execute(self) -> dict:
        if self.args.trace:
            self.log_dir = os.path.join(self.work, "eventlog", f"{os.getpid()}-{time.time_ns()}")
            os.makedirs(self.log_dir)
        # One set-up per run: the run budget has no room for more. A new
        # seed's fixtures and oracle answers are made on one core while the
        # JVM launches.
        with ThreadPoolExecutor(max_workers=1) as pool:
            ready = pool.submit(self.prepare_inputs)
            setup_s = self.set_up()
            ready.result()

        passes: list[tuple[float, int]] = []
        measured = 0.0
        while not passes or measured < self.args.seconds:
            full_check = not passes
            if self.args.workload == "build":
                wall, rows = self.build_pass(len(passes), full_check)
            else:
                wall, rows = self.query_pass(full_check)
            passes.append((wall, rows))
            measured += wall
            print(f"perfbench: pass {len(passes)} {wall:.3f} s {rows} rows", file=sys.stderr, flush=True)
        rss = self.jvm_peak_rss_mb()
        host = host_record(self.spark, self.cores)
        self.shut_down()

        wall_s = statistics.median(w for w, _ in passes)
        rows = statistics.median(r for _, r in passes)
        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "sf": self.args.sf,
            "trace": self.args.trace,
            "host": host,
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "passes": [{"wall_s": w, "rows": r} for w, r in passes],
            "rows": self.op_rows,
            "op_s": self.op_s,
            "error_rate": self.ledger.failed / self.ledger.attempted,
        }
        if self.args.trace:
            groups, failed_tasks = spans.parse_event_log(self.log_dir)
            metrics = spans.layer_metrics(self.tracer.spans, groups, self.cores)
            metrics["spark.failed_tasks"] = failed_tasks
            metrics["session.peak_rss_mb"] = rss
            metrics["checkpoint.stored_mb"] = self.stored_mb
            metrics["trace.unattributed_stages"] = spans.unattributed_stages(groups)
            metrics["trace.pass_wall_s"] = wall_s
            units = {f"{layer}.{m}": u for layer in spans.LAYERS for m, u in spans.LAYER_METRICS.items()}
            units.update(spans.RUN_METRICS)
            shutil.rmtree(self.log_dir, ignore_errors=True)
        else:
            metrics = {
                "wall_s": wall_s,
                "rows_per_s": rows / wall_s,
                "setup_s": setup_s,
            }
            units = END_TO_END
        result = {
            "correct": self.ledger.failed == 0,
            "attempted": self.ledger.attempted,
            "failed": self.ledger.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return {"report": report, "result": result}


def host_record(spark, cores: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cores,
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--sf", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--inject-wrong-count", default=None)
    args = p.parse_args()

    run = Run(args, args.work)
    try:
        record = run.execute()
    finally:
        run.shut_down()
    with open(args.out + ".tmp", "w") as f:
        json.dump(record, f)
    os.replace(args.out + ".tmp", args.out)


if __name__ == "__main__":
    main()
