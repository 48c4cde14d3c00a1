"""Per-layer metrics of a traced run.

Module figures cover the cold pass: every query once, from tables on
disk to landed results, one-time fits and lazily built chains included.
Spans come from the benchmark's own code around each call into the
program; the event log is folded per span (one job group per span).
"""

from __future__ import annotations

import statistics

from eventlog import fold
from worker import MODULES

MODULE_FIELDS = (
    "construct_s",
    "construct_jobs",
    "plan_s",
    "exec_s",
    "jobs",
    "task_cpu_s",
    "shuffle_mb",
)
STREAM_PHASES = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}

NAMES = (
    ["session.start_s", "sources.rows_rejected", "cache.tables"]
    + [f"{m}.{f}" for m in MODULES for f in MODULE_FIELDS]
    + ["sinks.write_s", "sinks.kv_keys"]
    + [f"streaming.{k}" for k in STREAM_PHASES]
    + [
        "streaming.state_commit_ms",
        "streaming.state_rows",
        "streaming.late_dropped",
    ]
    + ["exec.gc_s", "exec.spill_mb", "exec.task_cpu_s"]
)
UNITS = {
    "_s": "s",
    "_ms": "ms",
    "_mb": "MB",
}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def per_layer(result: dict, eventlog_dir: str, kv_keys: int) -> dict:
    groups = fold(eventlog_dir)
    m = dict.fromkeys(NAMES, 0.0)
    m["session.start_s"] = result["get_spark_s"]
    m["sinks.kv_keys"] = kv_keys
    for g in groups.values():
        m["exec.gc_s"] += g["gc_s"]
        m["exec.spill_mb"] += g["spill_mb"]
        m["exec.task_cpu_s"] += g["cpu_s"]
    for span in result["spans"]:
        parts = span["name"].split("/")
        if parts[0] != "cold" or len(parts) != 4 or parts[1] not in MODULES:
            continue
        module, phase = parts[1], parts[3]
        g = groups.get(span["name"])
        key = module + "."
        if phase == "construct":
            m[key + "construct_s"] += (span["end_ms"] - span["start_ms"]) / 1e3
            if g:
                m[key + "construct_jobs"] += g["jobs"]
        elif g:
            m[key + "jobs"] += g["jobs"]
            m[key + "exec_s"] += g["sql_s"]
            if g["sql_start_ms"] is not None:
                m[key + "plan_s"] += (g["sql_start_ms"] - span["start_ms"]) / 1e3
        if g:
            m[key + "task_cpu_s"] += g["cpu_s"]
            m[key + "shuffle_mb"] += g["shuffle_write_mb"]
    if "progress" not in result:
        m["cache.tables"] = result["cache_tables"]
        m["sinks.write_s"] = result["publish_s"]
    else:
        m["sources.rows_rejected"] = result["rows_rejected"]
        cold = result["progress"]
        busy = [p for ps in cold.values() for p in ps if p.get("numInputRows", 0) > 0]
        for name, key in STREAM_PHASES.items():
            m[f"streaming.{name}"] = statistics.median(
                p["durationMs"].get(key, 0) for p in busy
            )
        m["streaming.state_commit_ms"] = statistics.median(
            sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", []))
            for p in busy
        )
        m["sinks.write_s"] = sum(p["durationMs"].get("addBatch", 0) for p in busy) / 1e3
        last = [ps[-1] for ps in cold.values() if ps]
        m["streaming.state_rows"] = sum(
            op.get("numRowsTotal", 0) for p in last for op in p.get("stateOperators", [])
        )
        m["streaming.late_dropped"] = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for ps in cold.values()
            for p in ps
            for op in p.get("stateOperators", [])
        )
    return m
