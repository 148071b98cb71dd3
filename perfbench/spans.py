"""Layer spans recorded by the benchmark, and their per-layer metrics from
Spark's own event log.

A span is one call into a layer. The benchmark opens it around the call
(``Tracer.begin``), which also sets the Spark job group to the span's
layer name, so every job the call starts (eager pre-jobs inside the call,
the action after it, a checkpoint write) carries the layer in the event
log. Spans live in memory; the event log is parsed after the session has
stopped and its log is complete.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

# per-layer metric -> unit, reported for every layer in LAYERS
LAYER_METRICS = {
    "wall_s": "s",  # span duration
    "plan_s": "s",  # time inside the public call (includes eager pre-jobs)
    "task_s": "s",  # sum of executorRunTime
    "slot_util": "ratio",  # task_s / (wall_s * cores)
    "stages": "count",
    "shuffle_mb": "MB",  # shuffle bytes written
    "shuffle_rec_per_row": "ratio",  # shuffle records written per result row
    "fetch_wait_s": "s",
    "py_run_s": "s",  # "time to run Python workers"
    "py_mb": "MB",  # data sent to + returned from Python workers
}
LAYERS = [
    "session",
    "knn",
    "tiles",
    "pip",
    "raster",
    "extract",
    "cells",
    "model",
    "relations",
    "checkpoint.sort",
    "checkpoint.resume",
]
# run-level counters printed next to the layer metrics
RUN_METRICS = {
    "session.peak_rss_mb": "MB",  # VmHWM of the driver JVM
    "spark.failed_tasks": "count",
    "checkpoint.stored_mb": "MB",
    "trace.unattributed_stages": "count",
    "trace.pass_wall_s": "s",
}

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.shuffle.write.recordsWritten": "shuffle_records",
    "internal.metrics.shuffle.read.fetchWaitTime": "fetch_wait_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}
MB = 1e6


@dataclass
class Span:
    layer: str
    start: float
    end: float | None = None
    plan_s: float = 0.0  # time inside the public call
    rows: int = 0


@dataclass
class Tracer:
    """Records spans and tags Spark jobs with the open span's layer."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _open: Span | None = None

    def begin(self, layer: str) -> Span:
        self.end()
        span = Span(layer, time.perf_counter())
        self.spark.sparkContext.setJobGroup(layer, layer)
        self._open = span
        return span

    def end(self) -> None:
        if self._open is not None:
            self._open.end = time.perf_counter()
            self.spans.append(self._open)
            self._open = None


def _log_files(log_root: str) -> list[list[str]]:
    """One list of event files per application (Spark 4 writes a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` dir; older layouts one file)."""
    apps = []
    for entry in sorted(os.listdir(log_root)):
        path = os.path.join(log_root, entry)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            apps.append([os.path.join(path, f) for f in parts])
        elif not entry.startswith("."):
            apps.append([path])
    return apps


def parse_event_log(log_root: str) -> tuple[dict[str, Counter], int]:
    """Sum stage metrics per job group over every application log under
    ``log_root``. Returns ({group: Counter}, failed task count); stages whose
    job had no group land under the key ``None``.

    SQL metrics are accumulators shared by every stage an operator runs in,
    so each stage is credited with the growth of an accumulator's value
    since the previous stage that reported it."""
    groups: dict[str, Counter] = defaultdict(Counter)
    failed_tasks = 0
    for files in _log_files(log_root):
        stage_group: dict[int, str | None] = {}
        last_value: dict[int, float] = {}
        for f in files:
            with open(f) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        group = ev.get("Properties", {}).get("spark.jobGroup.id")
                        for sid in ev["Stage IDs"]:
                            stage_group.setdefault(sid, group)
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        group = ev.get("Properties", {}).get("spark.jobGroup.id")
                        stage_group[info["Stage ID"]] = group
                    elif kind == "SparkListenerTaskEnd":
                        if ev["Task End Reason"]["Reason"] != "Success":
                            failed_tasks += 1
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        c = groups[stage_group.get(info["Stage ID"])]
                        c["stages"] += 1
                        for acc in info.get("Accumulables", []):
                            key = _ACC.get(acc.get("Name"))
                            if key is None:
                                continue
                            value = float(acc["Value"])
                            c[key] += value - last_value.get(acc["ID"], 0.0)
                            last_value[acc["ID"]] = value
    return dict(groups), failed_tasks


def layer_metrics(
    spans: list[Span], groups: dict[str, Counter], cores: int
) -> dict[str, float]:
    """Per-layer metrics named ``<layer>.<metric>``; a layer the workload
    never calls reads 0."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        wall = sum(s.end - s.start for s in mine)
        plan = sum(s.plan_s for s in mine)
        rows = sum(s.rows for s in mine)
        c = groups.get(layer, Counter())
        task_s = c["run_ms"] / 1000
        vals = {
            "wall_s": wall,
            "plan_s": plan,
            "task_s": task_s,
            "slot_util": task_s / (wall * cores) if wall else 0.0,
            "stages": c["stages"],
            "shuffle_mb": c["shuffle_bytes"] / MB,
            "shuffle_rec_per_row": c["shuffle_records"] / rows if rows else 0.0,
            "fetch_wait_s": c["fetch_wait_ms"] / 1000,
            "py_run_s": c["py_run_ms"] / 1000,
            "py_mb": c["py_bytes"] / MB,
        }
        for name, value in vals.items():
            out[f"{layer}.{name}"] = value
    return out


def unattributed_stages(groups: dict[str, Counter]) -> int:
    """Stages whose job group is not a layer."""
    return sum(c["stages"] for g, c in groups.items() if g not in LAYERS)
