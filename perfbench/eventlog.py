"""Spark event-log parser for the traced run.

Reads the JSON-lines log Spark writes with ``spark.eventLog.enabled``
and attributes every job, stage, task and SQL execution to one traced
call (a span): by the job group the span set, or, for jobs Spark runs
under its own group (streaming micro-batches), by submission time.

Per call it reports scheduler work (jobs, stages, tasks, executor run
time, time tasks waited for a core, shuffle bytes, failed tasks) and the
engine-to-Python boundary: the SQL metrics Spark keeps on its Python
exec nodes (``MapInArrow``, ``FlatMapGroupsInPandas``, ...) -- bytes sent
to and returned from Python workers, rows returned, and worker boot,
init and run time.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "number of output rows": "py_rows_received",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_exec_ms",
}

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms", "task_wait_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "job_ms", "py_nodes", "merge_nodes",
    *PY_METRICS.values(),
)


def is_python_node(name: str) -> bool:
    return any(tag in name for tag in ("Python", "Pandas", "Arrow"))


@dataclass
class Call:
    """One traced call: its job group and wall-clock window (epoch ms)."""

    group: str
    start_ms: float
    end_ms: float
    totals: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path) or os.path.basename(path).startswith("."):
            continue
        with open(path, encoding="utf8") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def attribute(events: list[dict], calls: list[Call]) -> list[Call]:
    """Fill each call's totals from the event log."""
    by_group = {c.group: c for c in calls}

    def by_time(ms: float) -> Call | None:
        # Innermost (shortest) window containing ``ms``.
        hits = [c for c in calls if c.start_ms <= ms <= c.end_ms]
        return min(hits, key=lambda c: c.end_ms - c.start_ms) if hits else None

    job_call: dict[int, Call] = {}
    job_window: dict[int, list[float]] = {}
    stage_call: dict[int, Call] = {}
    stage_submit: dict[int, float] = {}
    py_accum: dict[int, str] = {}
    exec_plan: dict[int, tuple[float, dict]] = {}

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            call = by_group.get(props.get("spark.jobGroup.id")) or by_time(ev["Submission Time"])
            if call is None:
                continue
            job_call[ev["Job ID"]] = call
            job_window[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
            call.totals["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_call.setdefault(sid, call)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_window:
                job_window[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
            call = stage_call.get(info["Stage ID"])
            if call is not None:
                call.totals["stages"] += 1
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            plan = ev["sparkPlanInfo"]
            exec_id = ev["executionId"]
            start = ev.get("time", exec_plan.get(exec_id, (0, None))[0])
            exec_plan[exec_id] = (start, plan)
            for node in _walk(plan):
                if is_python_node(node["nodeName"]):
                    for metric in node.get("metrics", []):
                        if metric["name"] in PY_METRICS:
                            py_accum[metric["accumulatorId"]] = PY_METRICS[metric["name"]]
        elif kind == "SparkListenerTaskEnd":
            call = stage_call.get(ev["Stage ID"])
            if call is None:
                continue
            info = ev["Task Info"]
            metrics = ev.get("Task Metrics") or {}
            t = call.totals
            t["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                t["failed_tasks"] += 1
            t["executor_run_ms"] += metrics.get("Executor Run Time", 0)
            submitted = stage_submit.get(ev["Stage ID"])
            if submitted:
                t["task_wait_ms"] += max(0, info["Launch Time"] - submitted)
            read = metrics.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += read.get("Local Bytes Read", 0) + read.get(
                "Remote Bytes Read", 0)
            write = metrics.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                name = py_accum.get(acc.get("ID"))
                if name is not None:
                    t[name] += int(acc.get("Update") or 0)

    windows: dict[int, list[tuple[float, float]]] = defaultdict(list)  # by id(call)
    for job_id, (start, end) in job_window.items():
        windows[id(job_call[job_id])].append((start, end))
    for call in calls:
        call.totals["job_ms"] = _union_ms(windows[id(call)])
    for start, plan in exec_plan.values():
        call = by_time(start)
        if call is None:
            continue
        for node in _walk(plan):
            name = node["nodeName"]
            if is_python_node(name):
                call.totals["py_nodes"] += 1
            if name == "FlatMapGroupsInPandas":
                call.totals["merge_nodes"] += 1
    return calls
