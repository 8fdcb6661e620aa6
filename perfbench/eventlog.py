"""Fold an uncompressed Spark event log into jobs, tasks and SQL metrics.

Jobs carry the job description the tracer set (``pb:<span id>``); jobs
Spark describes itself (file listing) fall back to the time window of the
span open at submission. SQL metric totals come from the stage-completed
accumulables, keyed by the plan node that owns each accumulator.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from perfbench.spans import DESC_PREFIX


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    span: int | None
    stages: list[int]
    execution: int | None


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    accums: dict[int, float]


@dataclass
class Node:
    executions: set[int]  # SQL executions whose plan shows the node
    name: str
    desc: str
    metrics: dict[str, tuple[int, str]]  # metric name -> (accumulator id, type)
    children: list[Node] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]
    nodes: list[Node]
    accum_totals: dict[int, float]

    def metric(self, node: Node, name: str) -> float:
        """Total of a node's SQL metric; times in seconds, sizes in bytes."""
        if name not in node.metrics:
            return 0.0
        acc, kind = node.metrics[name]
        return self.accum_totals.get(acc, 0.0) * _SCALE.get(kind, 1.0)


_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _num(value) -> float | None:
    try:
        return float(value)
    except (TypeError, ValueError):
        return None


def _walk(plan: dict, execution: int, seen: dict[tuple, Node]) -> Node:
    """One Node per physical operator. A cached plan shows up in the plan of
    every execution that reads the cache with the same accumulators, so a
    node with metrics is keyed by its accumulators alone: its metrics are
    counted once however many executions show it."""
    metrics = {m["name"]: (m["accumulatorId"], m.get("metricType", "sum"))
               for m in plan.get("metrics", [])}
    key = (tuple(sorted(a for a, _kind in metrics.values())) if metrics
           else (execution, plan["nodeName"], plan.get("simpleString", ""), id(plan)))
    node = seen.get(key)
    if node is None:
        node = Node(set(), plan["nodeName"].strip(), plan.get("simpleString", ""), metrics)
        seen[key] = node
    node.executions.add(execution)
    children = [_walk(c, execution, seen) for c in plan.get("children", [])]
    if not node.children:
        node.children = children
    return node


def read(event_dir: str) -> EventLog:
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    seen: dict[tuple, Node] = {}
    totals: dict[int, float] = {}
    with open(paths[0]) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                exec_id = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = Job(
                    e["Job ID"], e["Submission Time"] / 1e3, e["Submission Time"] / 1e3,
                    int(desc[len(DESC_PREFIX):]) if desc.startswith(DESC_PREFIX) else None,
                    list(e["Stage IDs"]), int(exec_id) if exec_id is not None else None,
                )
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                tasks.append(Task(
                    e["Stage ID"], info["Launch Time"] / 1e3, info["Finish Time"] / 1e3,
                    m.get("Executor CPU Time", 0) / 1e9, m.get("JVM GC Time", 0) / 1e3,
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    {a["ID"]: _num(a.get("Update")) for a in info.get("Accumulables", [])
                     if _num(a.get("Update")) is not None},
                ))
            elif kind == "SparkListenerStageCompleted":
                for a in e["Stage Info"].get("Accumulables", []):
                    if _num(a.get("Value")) is not None:
                        totals[a["ID"]] = _num(a["Value"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e.get("accumUpdates", []):
                    totals[acc_id] = totals.get(acc_id, 0.0) + float(value)
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _walk(e["sparkPlanInfo"], e["executionId"], seen)
    return EventLog(sorted(jobs.values(), key=lambda j: j.id), tasks, list(seen.values()), totals)


def rows_in(log: EventLog, node: Node) -> float:
    """Rows flowing into ``node``: the first descendant reporting a row
    count (output rows of an operator, records read of an exchange)."""
    for child in node.children:
        for name in ("number of output rows", "records read"):
            if name in child.metrics:
                return log.metric(child, name)
        found = rows_in(log, child)
        if found:
            return found
    return 0.0
