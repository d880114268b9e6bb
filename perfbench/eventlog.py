"""Spans recorded around the benchmark's calls, and the Spark event log
read back and attributed to them.

The traced run enables ``spark.eventLog`` (uncompressed, not rolling).
Each job is attached to the innermost span whose interval contains its
submission time; each SQL execution's final (post-AQE) plan to the
innermost span containing its start time. The driver launches its work
from one thread at a time, so containment is exact up to the log's
millisecond resolution.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start_ms: float  # epoch ms, the event log's clock
    end_ms: float = float("inf")
    seconds: float = 0.0  # perf_counter duration


class Tracer:
    """Spans kept in memory. A new span's parent is the innermost span
    still open, whichever thread opened it: the foreachBatch callback runs
    on a py4j thread while the main thread waits inside ``run_once``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        with self._lock:
            parent = self._open[-1].id if self._open else None
            s = Span(len(self.spans), parent, name, time.time() * 1000)
            self.spans.append(s)
            self._open.append(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - t0
            s.end_ms = time.time() * 1000
            with self._lock:
                self._open.remove(s)

    def children(self, span: Span, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.parent == span.id and (name is None or s.name == name)
        ]

    def subtree(self, span: Span) -> set[int]:
        ids = {span.id}
        for s in self.spans:  # spans are appended parent-first
            if s.parent in ids:
                ids.add(s.id)
        return ids


def innermost(spans: list[Span], t_ms: float) -> Span | None:
    inside = [s for s in spans if s.start_ms <= t_ms <= s.end_ms]
    return min(inside, key=lambda s: s.end_ms - s.start_ms, default=None)


@dataclass
class Job:
    id: int
    submit_ms: float
    stage_ids: list[int]


@dataclass
class StageRun:
    job: int | None
    task_ms: list[float] = field(default_factory=list)  # executor run time
    busy_ms: float = 0.0  # launch-to-finish, summed over tasks
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    completed: bool = False


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, StageRun]
    plans: dict[int, tuple[float, dict]]  # execution id -> (start ms, final plan)


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageRun] = {}
    plans: dict[int, tuple[float, dict]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"], ev["Stage IDs"]
                )
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                # The newest job listing the stage is the one running it;
                # older jobs that list it had it skipped or retried.
                owner = max(
                    (j.id for j in jobs.values() if sid in j.stage_ids),
                    default=None,
                )
                stages.setdefault(sid, StageRun(owner))
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stages.setdefault(sid, StageRun(None)).completed = True
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(ev["Stage ID"], StageRun(None)), ev)
            elif kind in (SQL_START, SQL_UPDATE):
                start = ev["time"] if kind == SQL_START else plans[ev["executionId"]][0]
                plans[ev["executionId"]] = (start, ev["sparkPlanInfo"])
    return EventLog(jobs, stages, plans)


def _add_task(stage: StageRun, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    c = stage.counters
    stage.task_ms.append(m.get("Executor Run Time", 0))
    stage.busy_ms += info["Finish Time"] - info["Launch Time"]
    c["tasks"] += 1
    c["task_run_ms"] += m.get("Executor Run Time", 0)
    c["task_cpu_ns"] += m.get("Executor CPU Time", 0)
    c["gc_ms"] += m.get("JVM GC Time", 0)
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    rd = m.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key:
            c[key] += float(acc.get("Update", 0))


def plan_counts(plan: dict) -> dict[str, int]:
    """Exchanges, Python evaluation nodes and nested-loop joins in a plan
    tree (``sparkPlanInfo``); reused exchanges are not counted again."""
    out = {"exchanges": 0, "python_eval_nodes": 0, "nested_loop_joins": 0}
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node["nodeName"]
        if name in ("Exchange", "BroadcastExchange") or name.startswith("Exchange "):
            out["exchanges"] += 1
        elif "Python" in name or "InPandas" in name or "InArrow" in name:
            out["python_eval_nodes"] += 1
        elif name in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            out["nested_loop_joins"] += 1
        stack.extend(node.get("children", []))
    return out


def attribute(log: EventLog, spans: list[Span]) -> dict[int | None, dict[str, float]]:
    """Per span id (None: no span), summed counters of the jobs, stages,
    tasks and plans attached to that span itself (not its children).
    ``stage_skew_max`` is the largest max/median task run time of any
    stage with at least two tasks."""
    job_span = {j.id: _span_id(innermost(spans, j.submit_ms)) for j in log.jobs.values()}
    out: dict[int | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for jid, sid in job_span.items():
        out[sid]["jobs"] += 1
    for stage in log.stages.values():
        if not stage.completed or stage.job is None:
            continue
        row = out[job_span.get(stage.job)]
        row["stages"] += 1
        row["busy_ms"] += stage.busy_ms
        for k, v in stage.counters.items():
            row[k] += v
        if len(stage.task_ms) >= 2:
            med = statistics.median(stage.task_ms)
            skew = max(stage.task_ms) / med if med > 0 else 1.0
            row["stage_skew_max"] = max(row["stage_skew_max"], skew)
    for start, plan in log.plans.values():
        row = out[_span_id(innermost(spans, start))]
        for k, v in plan_counts(plan).items():
            row[k] += v
    return out


def rollup(rows: dict, ids: set[int]) -> dict[str, float]:
    """Sum the attributed counters of a set of spans (max for skew)."""
    total: dict[str, float] = defaultdict(float)
    for sid in ids:
        for k, v in rows.get(sid, {}).items():
            total[k] = max(total[k], v) if k == "stage_skew_max" else total[k] + v
    return total


def _span_id(span: Span | None) -> int | None:
    return None if span is None else span.id
