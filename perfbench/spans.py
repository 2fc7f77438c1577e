"""Spans at the benchmark's calls into the engine, and Spark task metrics
rolled up per span from the event log.

In a traced run each span sets a Spark job group named after itself, so
every job the span submits carries the span's name in the event log. Spans are kept in memory
and written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from ontologymatching_spark.plans.checkpoint import CheckpointStore

# SQL metric names of PythonSQLMetrics, as they appear among a task's
# accumulables (values in milliseconds)
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"


class Tracer:
    """Records spans (name, start, end, parent, run id). With
    ``job_groups`` on, each span also tags the Spark jobs it submits."""

    def __init__(self, spark, run_id: str, job_groups: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.job_groups = job_groups
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.job_groups:
            self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": t0, "end": time.time(),
                               "parent": parent, "run_id": self.run_id})
            self._stack.pop()
            if self.job_groups:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(parent, parent)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TracedStore(CheckpointStore):
    """CheckpointStore whose stages run inside a ``stage.<name>`` span: the
    stage is timed where it materializes (compute, write, read-back and
    row count)."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def stage(self, name, fn, inputs=None, force=False):
        with self.tracer.span(f"stage.{name}"):
            return super().stage(name, fn, inputs=inputs, force=force)


def _num(v) -> float:
    return float(v or 0)


def rollup(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, job intervals, tasks, executor run/CPU time,
    shuffle, spill and Python worker time, from the event log."""
    files = glob.glob(os.path.join(event_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, got {files}")
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "intervals": [], "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "shuffle_bytes": 0, "spill_bytes": 0, "py_run_s": 0.0,
        "py_boot_s": 0.0,
    })
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_start[ev["Job ID"]] = (g, ev["Submission Time"] / 1000)
                groups[g]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                g, t0 = job_start.pop(ev["Job ID"])
                groups[g]["intervals"].append((t0, ev["Completion Time"] / 1000))
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["run_s"] += _num(m.get("Executor Run Time")) / 1e3
                g["cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
                g["shuffle_bytes"] += int(
                    (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0))
                g["spill_bytes"] += int(m.get("Disk Bytes Spilled", 0))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name == PY_RUN:
                        g["py_run_s"] += _num(acc.get("Update")) / 1e3
                    elif name == PY_BOOT:
                        g["py_boot_s"] += _num(acc.get("Update")) / 1e3
    return dict(groups)


def covered_s(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total
