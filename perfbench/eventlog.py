"""Fold a Spark event log into per-span task metrics.

A span is a benchmark-owned job group; ``span_of`` maps a job's group id to
the span it belongs to (or None to ignore the job).  Task metrics come from
``SparkListenerTaskEnd``; the Python-UDF byte counts are the SQL metrics
"data sent to / returned from Python workers" that ride in each task's
accumulable updates.  ``scan_records`` counts only the input records of
jobs whose SQL plan scans ``scan_path``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable

PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class SpanTasks:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_ns: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    records_read: int = 0
    scan_records: int = 0
    python_in: int = 0
    python_out: int = 0
    task_ms: list[int] = field(default_factory=list)


def fold(path: str, span_of: Callable[[str | None], str | None], scan_path: str | None = None) -> dict[str, SpanTasks]:
    spans: dict[str, SpanTasks] = defaultdict(SpanTasks)
    stage_span: dict[int, str] = {}
    plans: dict[int, str] = defaultdict(str)  # SQL execution id -> plan text
    scan_stages: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind in SQL_PLAN_EVENTS:
                plans[ev["executionId"]] += ev.get("physicalPlanDescription", "")
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties", {})
                span = span_of(props.get("spark.jobGroup.id"))
                if span is None:
                    continue
                spans[span].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_span.setdefault(sid, span)
                execution = props.get("spark.sql.execution.id")
                if scan_path and execution is not None and f"file:{scan_path}" in plans[int(execution)]:
                    scan_stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(ev["Stage ID"])
                if span is None:
                    continue
                s = spans[span]
                s.tasks += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    s.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                s.cpu_ns += m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0)
                s.run_ms += m.get("Executor Run Time", 0)
                s.task_ms.append(m.get("Executor Run Time", 0))
                s.gc_ms += m.get("JVM GC Time", 0)
                s.spill += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics", {})
                s.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                s.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                records = m.get("Input Metrics", {}).get("Records Read", 0)
                s.records_read += records
                if ev["Stage ID"] in scan_stages:
                    s.scan_records += records
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == PY_IN:
                        s.python_in += int(acc["Update"])
                    elif acc.get("Name") == PY_OUT:
                        s.python_out += int(acc["Update"])
    return dict(spans)
