"""Spans around the benchmark's calls into the program, and the Spark event
log that attributes executor work to them.

A span records name, start, end, its parent span and the job (one
benchmark request) it belongs to. While a span is open it is the Spark job
group of every job the driver thread starts, so the event log ties each
Spark job, stage and task back to the innermost span. Spans stay in memory
and are written out with the run's detail record.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder; a no-op unless ``active`` (set for the jobs of a
    traced run)."""

    def __init__(self):
        self.active = False
        self.sc = None
        self.job = -1
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"span{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "job": self.job,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._group()
        try:
            yield rec
        finally:
            now = time.perf_counter()
            while self._stack and self._stack[-1] is not rec:
                self._stack.pop()["end"] = now  # a phase left open inside
            rec["end"] = now
            self._stack.pop()
            self._group()

    def phase(self, name: str) -> None:
        """Close the open phase of the current span (if any) and open a
        sibling named ``name``: for work a program call runs after handing
        control back to a benchmark callback (e.g. a StageRunner stage's
        snapshot write, which runs after the stage function returns)."""
        if not self.active:
            return
        if self._stack and self._stack[-1].get("phase"):
            done = self._stack.pop()
            done["end"] = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "job": self.job, "phase": True,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._group()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def span_ids(self, prefix: str, job: int | None = None) -> set[int]:
        return {s["id"] for s in self.spans
                if s["name"].startswith(prefix) and (job is None or s["job"] == job)}


class EventLog:
    """The parts of a Spark event log the per-layer metrics need: jobs by
    span (job group), stages with their operator scopes, task metrics, and
    SQL operator metrics (accumulators named by plan node)."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(lambda: {"tasks": [], "scopes": set()})
        self.acc_value: dict[int, float] = defaultdict(float)
        self.exec_plans: dict[int, dict] = {}  # the latest (adaptive) plan
        # one file per application ("local-<start ms>"); ids restart in each,
        # so read only the first application: the run's own session
        apps = sorted(glob.glob(os.path.join(log_dir, "local-*")),
                      key=lambda p: int(os.path.basename(p).split("-")[1]))
        with open(apps[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            sql = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "span": int(group[4:]) if group.startswith("span") else None,
                "exec": int(sql) if sql is not None else None,
                "stages": e["Stage IDs"], "start": e["Submission Time"], "end": None}
            for info in e["Stage Infos"]:
                st = self.stages[info["Stage ID"]]
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        st["scopes"].add(json.loads(rdd["Scope"])["name"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages[info["Stage ID"]]
            st["wall_ms"] = info.get("Completion Time", 0) - info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.stages[e["Stage ID"]]["tasks"].append({
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)})
            # SQL operator metrics (Metadata "sql"), their values written as strings
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") != "sql" or "Update" not in acc:
                    continue
                try:
                    self.acc_value[acc["ID"]] += float(acc["Update"])
                except (TypeError, ValueError):
                    pass
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.exec_plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.acc_value[acc_id] += value

    def jobs_of(self, spans: set[int]) -> list[int]:
        return [j for j, job in self.jobs.items() if job["span"] in spans]

    def stages_of(self, jobs: list[int]) -> list[dict]:
        ids = {s for j in jobs for s in self.jobs[j]["stages"]}
        return [self.stages[s] for s in sorted(ids) if self.stages[s]["tasks"]]

    def task_sum(self, jobs: list[int], field: str, scope: str | None = None) -> float:
        return sum(t[field] for st in self.stages_of(jobs)
                   if scope is None or scope in st["scopes"] for t in st["tasks"])

    def job_wall_s(self, jobs: list[int]) -> float:
        return sum((self.jobs[j]["end"] or self.jobs[j]["start"]) - self.jobs[j]["start"]
                   for j in jobs) / 1000.0

    def plan_nodes(self, jobs: list[int]):
        """Every plan node (last adaptive version of each SQL execution) of
        the given jobs, with its subtree's node names."""
        execs = {self.jobs[j]["exec"] for j in jobs if self.jobs[j]["exec"] is not None}
        out = []

        def walk(node):
            below = set()
            for child in node.get("children", []):
                below |= walk(child)
            out.append((node, below))
            return below | {node["nodeName"]}

        for ex in sorted(execs):
            if ex in self.exec_plans:
                walk(self.exec_plans[ex])
        return out

    def metric(self, node: dict, name: str) -> float:
        return sum(self.acc_value.get(m["accumulatorId"], 0.0)
                   for m in node.get("metrics", []) if m["name"] == name)
