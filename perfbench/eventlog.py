"""Spark event-log reader for the traced run.

The traced process tags every Spark action it starts with a job
description (``SparkContext.setJobDescription``). Spark copies it onto the
jobs (``Properties["spark.job.description"]``) and onto the SQL execution
(``description``), so tasks, SQL metrics and plans can be grouped by tag.

Reads one uncompressed JSON-lines log, as written with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

_SQL = "org.apache.spark.sql.execution.ui."
# the nodes whose final-plan count ops.<q>.exchanges reports
EXCHANGES = ("Exchange", "BroadcastExchange")
REUSED = "ReusedExchange"
# SQL metric type -> factor to seconds (timings); sizes stay bytes
UNIT = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Execution:
    description: str = ""
    start_ms: int = 0
    end_ms: int = 0
    plan: dict | None = None  # the last (final AQE) sparkPlanInfo
    # accumulator id -> (node name, node simpleString, metric name, type)
    metrics: dict = field(default_factory=dict)

    @property
    def duration_s(self) -> float:
        return max(0, self.end_ms - self.start_ms) / 1e3


@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    shuffle_write: int
    spill: int


@dataclass
class EventLog:
    executions: dict = field(default_factory=dict)  # exec id -> Execution
    stage_tag: dict = field(default_factory=dict)  # stage id -> description
    tasks: list = field(default_factory=list)
    accum: dict = field(default_factory=lambda: defaultdict(float))

    # ---- reading -------------------------------------------------------

    @classmethod
    def read(cls, path: str | Path) -> "EventLog":
        log = cls()
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    log.feed(json.loads(line))
        return log

    def feed(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get("spark.job.description", "")
            for s in ev.get("Stage IDs", []):
                self.stage_tag.setdefault(s, tag)
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            e = self.executions.setdefault(ev["executionId"], Execution())
            e.description = ev.get("description", "")
            e.start_ms = ev.get("time", 0)
            self._plan(e, ev.get("sparkPlanInfo"))
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(self.executions.setdefault(ev["executionId"], Execution()), ev.get("sparkPlanInfo"))
        elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            e = self.executions.setdefault(ev["executionId"], Execution())
            for m in ev.get("sqlPlanMetrics", []):
                e.metrics.setdefault(m["accumulatorId"], ("", "", m["name"], m.get("metricType", "")))
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            self.executions.setdefault(ev["executionId"], Execution()).end_ms = ev.get("time", 0)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", []):
                self.accum[acc_id] += _num(value)

    def _task(self, ev: dict) -> None:
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        self.tasks.append(
            Task(
                stage=ev.get("Stage ID", -1),
                run_ms=m.get("Executor Run Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Disk Bytes Spilled", 0),
            )
        )
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            if "Update" in a:
                self.accum[a["ID"]] += _num(a["Update"])

    @staticmethod
    def _plan(e: Execution, info: dict | None) -> None:
        if not info:
            return
        e.plan = info
        stack = [info]
        while stack:
            n = stack.pop()
            for m in n.get("metrics", []):
                e.metrics[m["accumulatorId"]] = (
                    n.get("nodeName", ""), n.get("simpleString", ""), m["name"], m.get("metricType", "")
                )
            stack.extend(n.get("children", []))

    # ---- queries -------------------------------------------------------

    def tagged(self, tag: str) -> list[Execution]:
        return [e for e in self.executions.values() if e.description == tag]

    def tag_tasks(self, tag: str) -> list[Task]:
        return [t for t in self.tasks if self.stage_tag.get(t.stage) == tag]

    def sql_metric(self, execs, metric: str, node=lambda name, text: True) -> float:
        """Sum of a SQL metric over executions, restricted to nodes for
        which ``node(nodeName, simpleString)`` holds; times in seconds."""
        total = 0.0
        for e in execs:
            for acc_id, (name, text, mname, mtype) in e.metrics.items():
                if mname == metric and node(name, text):
                    total += self.accum.get(acc_id, 0.0) * UNIT.get(mtype, 1.0)
        return total

    def job_totals(self, tag: str) -> dict:
        ts = self.tag_tasks(tag)
        return {
            "task_s": sum(t.run_ms for t in ts) / 1e3,
            "gc_s": sum(t.gc_ms for t in ts) / 1e3,
            "shuffle_write_mb": sum(t.shuffle_write for t in ts) / 2**20,
            "spill_mb": sum(t.spill for t in ts) / 2**20,
            "tasks": len(ts),
        }


def plan_nodes(plan: dict | None):
    stack = [plan] if plan else []
    while stack:
        n = stack.pop()
        yield n
        stack.extend(n.get("children", []))


def count_exchanges(plan: dict | None) -> tuple[int, int]:
    """(exchanges, reused exchanges) in a plan tree. A reused exchange's
    child is the original, which is counted where it runs; an in-memory
    scan's child is the cached plan, which a later execution only reads."""
    ex = reused = 0
    stack = [plan] if plan else []
    while stack:
        n = stack.pop()
        name = n.get("nodeName", "")
        if name.startswith(REUSED):
            reused += 1
            continue
        if name in EXCHANGES:
            ex += 1
        if name == "InMemoryTableScan":
            continue
        stack.extend(n.get("children", []))
    return ex, reused


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0
