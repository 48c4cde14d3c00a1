"""Fold Spark's JSON event log per job group.

For each job group: jobs, stages, executor CPU, GC, shuffle read and
write, spill, and the start and end of its SQL executions. A stage is
charged to the group of the first job that lists it; a SQL execution to
the group of its first job. Jobs fired outside any group fold under
``None``.
"""

from __future__ import annotations

import json
import os

FIELDS = (
    "jobs",
    "stages",
    "cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "sql_s",
)


def log_files(path: str) -> list[str]:
    """The event log files under ``path`` (a log file, or the event-log
    directory that holds one application's log)."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _dirs, files in os.walk(path):
        found += [os.path.join(root, f) for f in files if not f.startswith(".")]
    return sorted(found)


def _events(path: str):
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold(path: str) -> dict[str | None, dict[str, float]]:
    groups: dict[str | None, dict[str, float]] = {}
    stage_group: dict[int, str | None] = {}
    sql_group: dict[int, str | None] = {}
    sql_time: dict[int, list[float]] = {}

    def acc(group):
        if group not in groups:
            groups[group] = dict.fromkeys(FIELDS, 0.0)
            groups[group]["sql_start_ms"] = None
            groups[group]["sql_end_ms"] = None
        return groups[group]

    for ev in _events(path):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            acc(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            sql_id = props.get("spark.sql.execution.id")
            if sql_id is not None:
                sql_group.setdefault(int(sql_id), group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            acc(stage_group.get(sid))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            g = acc(stage_group.get(ev["Stage ID"]))
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            r = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_mb"] += (
                r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            ) / 1e6
            w = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_mb"] += w.get("Shuffle Bytes Written", 0) / 1e6
            g["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_time[ev["executionId"]] = [ev["time"], ev["time"]]
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in sql_time:
                sql_time[ev["executionId"]][1] = ev["time"]
    for sql_id, (start, end) in sql_time.items():
        if sql_id not in sql_group:
            continue  # an execution that ran no job
        g = acc(sql_group[sql_id])
        g["sql_s"] += (end - start) / 1e3
        if g["sql_start_ms"] is None or start < g["sql_start_ms"]:
            g["sql_start_ms"] = start
        if g["sql_end_ms"] is None or end > g["sql_end_ms"]:
            g["sql_end_ms"] = end
    return groups
