"""Parser for Spark's plain JSON-lines event log.

Enable it with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``:
one uncompressed file, one JSON event per line. Jobs are tagged with
``setJobDescription``; the tag reaches both the job's properties and the
SQL execution's ``description``, so every task and every operator metric
can be attributed to the benchmark step that ran it.

Operator (SQL) metrics are accumulators: the plan trees in
``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate`` name them, and their
values arrive as per-task updates in ``TaskEnd`` (accumulables with
``Metadata: "sql"``) plus driver-side updates in
``SparkListenerDriverAccumUpdates``. A metric's total is the sum of the
updates of successful tasks and of the driver.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."

# metricType -> factor to the unit the benchmark reports (s, bytes, count)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Accum:
    execution: int
    node: str
    metric: str
    mtype: str
    input_acc: int | None = None  # "rows in" for nodes that lack the metric


@dataclass
class TaskRecord:
    desc: str
    failed: bool
    cpu_s: float
    gc_s: float
    disk_spill: int


@dataclass
class EventLog:
    exec_desc: dict[int, str] = field(default_factory=dict)
    accums: dict[int, Accum] = field(default_factory=dict)
    values: dict[int, float] = field(default_factory=dict)
    tasks: list[TaskRecord] = field(default_factory=list)

    def sql_metric(self, keep: Callable[[str], bool], node: str, metric: str,
                   inputs: bool = False) -> float:
        """Sum of one operator metric over the executions whose description
        ``keep`` accepts. ``node`` matches a prefix of the operator name.
        ``inputs=True`` sums the operator's input rows instead: the
        ``number of output rows`` of its nearest descendant that has one."""
        total = 0.0
        for acc_id, a in self.accums.items():
            if not a.node.startswith(node):
                continue
            if not keep(self.exec_desc.get(a.execution, "")):
                continue
            if inputs:
                if a.metric == "number of output rows" and a.input_acc is not None:
                    total += self.values.get(a.input_acc, 0.0)
            elif a.metric == metric:
                total += self.values.get(acc_id, 0.0) * _SCALE.get(a.mtype, 1.0)
        return total

    def task_totals(self, keep: Callable[[str], bool]) -> dict[str, float]:
        sel = [t for t in self.tasks if keep(t.desc)]
        return {
            "tasks": float(len(sel)),
            "tasks_failed": float(sum(t.failed for t in sel)),
            "task_cpu_s": sum(t.cpu_s for t in sel),
            "gc_s": sum(t.gc_s for t in sel),
            "spill_bytes": float(sum(t.disk_spill for t in sel)),
        }


def _register_plan(log: EventLog, execution: int, plan: dict) -> None:
    """Walk a plan tree and record every metric accumulator it names."""

    def first_rows(node: dict) -> int | None:
        todo = list(node["children"])
        while todo:
            n = todo.pop(0)
            for m in n["metrics"]:
                if m["name"] == "number of output rows":
                    return m["accumulatorId"]
            todo.extend(n["children"])
        return None

    stack = [plan]
    while stack:
        node = stack.pop()
        rows_in = first_rows(node)
        for m in node["metrics"]:
            log.accums[m["accumulatorId"]] = Accum(
                execution, node["nodeName"], m["name"], m["metricType"], rows_in)
        stack.extend(node["children"])


def parse(path: str) -> EventLog:
    log = EventLog()
    stage_desc: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == _SQL + "SparkListenerSQLExecutionStart":
                log.exec_desc[e["executionId"]] = e.get("description") or ""
                _register_plan(log, e["executionId"], e["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                _register_plan(log, e["executionId"], e["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    log.values[acc_id] = log.values.get(acc_id, 0.0) + value
            elif kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description", "")
                for sid in e["Stage IDs"]:
                    stage_desc[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                ok = e["Task End Reason"]["Reason"] == "Success"
                m = e.get("Task Metrics") or {}
                log.tasks.append(TaskRecord(
                    desc=stage_desc.get(e["Stage ID"], ""),
                    failed=not ok,
                    cpu_s=m.get("Executor CPU Time", 0) * 1e-9,
                    gc_s=m.get("JVM GC Time", 0) * 1e-3,
                    disk_spill=m.get("Disk Bytes Spilled", 0),
                ))
                if not ok:
                    continue
                for a in e["Task Info"].get("Accumulables", []):
                    # operator metrics carry Metadata "sql" and a string Update
                    if a.get("Metadata") == "sql" and "Update" in a:
                        log.values[a["ID"]] = (
                            log.values.get(a["ID"], 0.0) + float(a["Update"]))
    return log
