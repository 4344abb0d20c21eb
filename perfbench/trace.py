"""Tracing for the ``--trace 1`` run.

Two sources, both kept in memory and written out when the run ends:

* ``Tracer``: spans recorded by the benchmark around each call into a
  layer's public function (name, start, end, the span that caused it);
* ``EventLog``: Spark's own event log, parsed after the session stops.
  Stages, tasks and SQL executions are attributed to the span whose
  wall-clock window they fall in. The workload is a closed loop with
  one client, so at most one operation runs at a time and a window
  holds only that operation's stages.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Any, Iterator

PYTHON_METRIC = "data sent to Python workers"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any]]:
        rec = {"name": name, "parent": self._stack[-1]["name"] if self._stack else None,
               "t0_ms": time.time() * 1000.0}
        p0 = time.perf_counter()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["wall_s"] = time.perf_counter() - p0
            rec["t1_ms"] = time.time() * 1000.0
            self.spans.append(rec)

    def named(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name]


def _walk(node: dict[str, Any]) -> Iterator[dict[str, Any]]:
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, path: str):
        self.stages: list[dict[str, Any]] = []
        self.jobs: list[dict[str, Any]] = []
        self.plans: dict[int, dict[str, Any]] = {}
        self.exec_times: dict[int, list[float]] = {}
        self.acc: dict[int, float] = {}
        tasks: dict[int, list[dict[str, Any]]] = {}
        job_start: dict[int, dict[str, Any]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerTaskEnd":
                    self._task(ev, tasks)
                elif kind == "SparkListenerStageCompleted":
                    self._stage(ev["Stage Info"], tasks)
                elif kind == "SparkListenerJobStart":
                    job_start[ev["Job ID"]] = ev
                elif kind == "SparkListenerJobEnd":
                    start = job_start.get(ev["Job ID"])
                    if start is not None:
                        self.jobs.append({"t0": start["Submission Time"],
                                          "t1": ev["Completion Time"]})
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                    self.exec_times[ev["executionId"]] = [ev["time"], ev["time"]]
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if ev["executionId"] in self.exec_times:
                        self.exec_times[ev["executionId"]][1] = ev["time"]
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        self.acc[acc_id] = self.acc.get(acc_id, 0) + float(value)

    def _task(self, ev: dict[str, Any], tasks: dict[int, list]) -> None:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        if info.get("Failed") or info.get("Killed") or not m:
            return
        python = False
        for a in info.get("Accumulables", ()):
            if a.get("Metadata") == "sql":
                try:
                    self.acc[a["ID"]] = self.acc.get(a["ID"], 0) + float(a["Update"])
                except (TypeError, ValueError):
                    pass
                python = python or a.get("Name") == PYTHON_METRIC
        sw = m.get("Shuffle Write Metrics", {})
        tasks.setdefault(ev["Stage ID"], []).append({
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "sw_bytes": sw.get("Shuffle Bytes Written", 0),
            "sw_records": sw.get("Shuffle Records Written", 0),
            "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
            "python": python,
        })

    def _stage(self, info: dict[str, Any], tasks: dict[int, list]) -> None:
        if "Submission Time" not in info or "Completion Time" not in info:
            return
        scopes = set()
        for rdd in info.get("RDD Info", ()):
            if rdd.get("Scope"):
                scopes.add(json.loads(rdd["Scope"])["name"].split(" (")[0])
        self.stages.append({
            "t0": info["Submission Time"],
            "t1": info["Completion Time"], "scopes": scopes,
            "tasks": tasks.pop(info["Stage ID"], []),
        })

    # -- windows ----------------------------------------------------------

    def stages_in(self, t0: float, t1: float) -> list[dict[str, Any]]:
        return [s for s in self.stages if s["t0"] < t1 and s["t1"] > t0]

    def jobs_in(self, t0: float, t1: float) -> int:
        return sum(1 for j in self.jobs if j["t0"] < t1 and j["t1"] > t0)

    def executions_in(self, t0: float, t1: float) -> list[int]:
        return [e for e, (a, b) in self.exec_times.items() if a < t1 and b > t0]

    def covered_ms(self, t0: float, t1: float) -> float:
        """Part of ``[t0, t1]`` during which at least one stage ran."""
        spans = sorted((max(s["t0"], t0), min(s["t1"], t1))
                       for s in self.stages_in(t0, t1))
        covered, end = 0.0, t0
        for a, b in spans:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return covered

    # -- SQL plan metrics -------------------------------------------------

    def plan_nodes(self, execution: int) -> list[dict[str, Any]]:
        plan = self.plans.get(execution)
        return list(_walk(plan)) if plan else []

    def metric(self, node: dict[str, Any], name: str) -> float:
        for m in node.get("metrics", ()):
            if m["name"] == name:
                return self.acc.get(m["accumulatorId"], 0.0)
        return 0.0

    def metric_sum(self, executions: list[int], name: str) -> float:
        return sum(self.metric(n, name) for e in executions for n in self.plan_nodes(e))


def find_event_log(directory: str, app_id: str) -> str:
    for name in os.listdir(directory):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(directory, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {directory}")


def engine_metrics(log: EventLog, windows: list[tuple[float, float]],
                   slots: int, units: int) -> dict[str, float]:
    """Executor-side totals over the given windows, per unit of work,
    plus the share of the windows' wall that no stage covered."""
    tasks = [t for t0, t1 in windows for s in log.stages_in(t0, t1) for t in s["tasks"]]
    run_ms = sum(t["run_ms"] for t in tasks)
    wall = max(sum(t1 - t0 for t0, t1 in windows), 1e-9)
    covered = sum(log.covered_ms(t0, t1) for t0, t1 in windows)
    per = 1.0 / max(1, units)
    return {
        "engine.executor_run_s": run_ms / 1000.0 * per,
        "engine.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 * per,
        "engine.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0 * per,
        "engine.shuffle_bytes": sum(t["sw_bytes"] for t in tasks) * per,
        "engine.spill_bytes": sum(t["spill"] for t in tasks) * per,
        "engine.tasks": len(tasks) * per,
        "engine.jobs": sum(log.jobs_in(t0, t1) for t0, t1 in windows) * per,
        "engine.slot_util": run_ms / (slots * wall),
        "trace.unattributed_frac": 1.0 - covered / wall,
    }


def skew(values: list[float]) -> float:
    """Slowest task over the median task (1.0 = perfectly even)."""
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return max(vals) / statistics.median(vals)


def window(span: dict[str, Any]) -> tuple[float, float]:
    return span["t0_ms"], span["t1_ms"]
