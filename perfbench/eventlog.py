"""Reader for Spark's v2 rolling event log (one directory per application,
`eventlog_v2_<app>/events_<n>_<app>[.gz]`).

It keeps what the per-layer metrics need: jobs with their job group and SQL
execution id, task metrics per stage, and SQL-operator metrics summed from
task-end accumulator updates and mapped to operator names through every
plan version the execution published (adaptive execution republishes the
plan with new accumulator ids).
"""

from __future__ import annotations

import gzip
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_TO_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    spilled: int
    accums: dict[int, int]


@dataclass
class Execution:
    id: int
    plan: str = ""
    start: int = 0
    end: int = 0
    # accumulator id -> (operator name, metric name, metric type, location)
    metric_of: dict[int, tuple[str, str, str, str]] = field(
        default_factory=dict)
    driver_accums: dict[int, int] = field(default_factory=dict)


@dataclass
class Job:
    group: str | None
    execution: int | None
    stages: list[int]


class EventLog:
    def __init__(self, app_dir: str):
        self.jobs: dict[int, Job] = {}
        self.executions: dict[int, Execution] = {}
        self.tasks: dict[int, list[Task]] = defaultdict(list)
        self.stage_span: dict[int, tuple[int, int]] = {}
        for path in _event_files(app_dir):
            opener = gzip.open if path.endswith(".gz") else open
            with opener(path, "rt", encoding="utf-8") as fh:
                for line in fh:
                    self._event(json.loads(line))

    # -- parsing --------------------------------------------------------
    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                props.get("spark.jobGroup.id"),
                int(ex) if ex is not None else None, list(e["Stage IDs"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stage_span[info["Stage ID"]] = (
                info.get("Submission Time", 0), info.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            accums = {}
            for a in info.get("Accumulables", []):
                try:
                    accums[int(a["ID"])] = int(a.get("Update", 0))
                except (TypeError, ValueError):
                    pass
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks[e["Stage ID"]].append(Task(
                e["Stage ID"], m.get("Executor Run Time", 0),
                m.get("Executor CPU Time", 0), m.get("JVM GC Time", 0),
                sw.get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                accums))
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            x = self.executions.setdefault(
                e["executionId"], Execution(e["executionId"]))
            x.plan = e.get("physicalPlanDescription", "")
            x.start = e.get("time", 0)
            _collect_metrics(e.get("sparkPlanInfo"), x.metric_of)
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            x = self.executions.setdefault(
                e["executionId"], Execution(e["executionId"]))
            x.plan += "\n" + e.get("physicalPlanDescription", "")
            _collect_metrics(e.get("sparkPlanInfo"), x.metric_of)
        elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            x = self.executions.setdefault(
                e["executionId"], Execution(e["executionId"]))
            for m in e.get("sqlPlanMetrics", []):
                x.metric_of.setdefault(m["accumulatorId"], (
                    "?", m["name"], m.get("metricType", ""), ""))
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]].end = e.get("time", 0)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            x = self.executions.get(e["executionId"])
            if x is not None:
                for acc_id, value in e.get("accumUpdates", []):
                    x.driver_accums[int(acc_id)] = (
                        x.driver_accums.get(int(acc_id), 0) + int(value))

    # -- queries ----------------------------------------------------------
    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def executions_in(self, group: str) -> list[Execution]:
        ids = {j.execution for j in self.jobs_in(group)
               if j.execution is not None}
        return [self.executions[i] for i in sorted(ids)
                if i in self.executions]

    def tasks_in(self, group: str) -> list[Task]:
        return [t for j in self.jobs_in(group) for s in j.stages
                for t in self.tasks.get(s, [])]

    def stages_in(self, group: str) -> list[int]:
        return sorted({s for j in self.jobs_in(group) for s in j.stages
                       if s in self.tasks})

    def sql_metric(self, group: str, node: str, metric: str,
                   location: str = "") -> float:
        """Sum over the group's executions of SQL metric `metric` on every
        operator whose name starts with `node` and whose scan location
        contains `location` (task and driver updates). Timings come back
        in seconds, sizes in bytes, counts as counts."""
        total = 0.0
        for x in self.executions_in(group):
            scale = {i: _TO_SECONDS.get(kind, 1.0)
                     for i, (n, m, kind, loc) in x.metric_of.items()
                     if n.startswith(node) and m == metric
                     and location in loc}
            updates = [u for j in self.jobs_in(group) if j.execution == x.id
                       for s in j.stages for t in self.tasks.get(s, [])
                       for u in t.accums.items()]
            updates += list(x.driver_accums.items())
            total += sum(v * scale[i] for i, v in updates if i in scale)
        return total

    def execution_ms(self, group: str, plan_pattern: str) -> int:
        """Summed wall time of the group's executions whose physical plan
        matches `plan_pattern`."""
        rx = re.compile(plan_pattern)
        return sum(x.end - x.start for x in self.executions_in(group)
                   if x.end and rx.search(x.plan))


def _collect_metrics(info: dict | None, out: dict) -> None:
    if not info:
        return
    loc = (info.get("metadata") or {}).get("Location", "")
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"],
                                   m.get("metricType", ""), loc)
    for child in info.get("children", []):
        _collect_metrics(child, out)


def _event_files(app_dir: str) -> list[str]:
    def index(name: str) -> int:
        m = re.match(r"events_(\d+)_", name)
        return int(m.group(1)) if m else 0
    names = [n for n in os.listdir(app_dir) if n.startswith("events_")]
    return [os.path.join(app_dir, n) for n in sorted(names, key=index)]


def app_dirs(log_root: str) -> list[str]:
    """Application directories under an event-log root, oldest first."""
    dirs = [os.path.join(log_root, n) for n in os.listdir(log_root)
            if n.startswith("eventlog_v2_")]
    return sorted(dirs, key=os.path.getmtime)
