"""Pins the event-log fold: exact sums on a hand-written log, and the
per-group split on a tiny two-group Spark run.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import fold  # noqa: E402


def _task(stage, cpu_ns, gc_ms, remote, local, written, mem_spill, disk_spill):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": mem_spill,
            "Disk Bytes Spilled": disk_spill,
            "Shuffle Read Metrics": {
                "Remote Bytes Read": remote,
                "Local Bytes Read": local,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def test_fold_sums_a_written_log(tmp_path):
    sql = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
    events = [
        {"Event": sql + "Start", "executionId": 0, "time": 1_000},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "a", "spark.sql.execution.id": "0"},
        },
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 1,
            "Stage IDs": [1, 2],
            "Properties": {"spark.jobGroup.id": "b"},
        },
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3]},
        _task(0, 2_000_000_000, 100, 1_000_000, 2_000_000, 3_000_000, 0, 0),
        _task(1, 500_000_000, 0, 0, 0, 0, 4_000_000, 1_000_000),
        _task(2, 250_000_000, 50, 0, 5_000_000, 0, 0, 0),
        _task(3, 1_000_000_000, 0, 0, 0, 0, 0, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": sql + "End", "executionId": 0, "time": 3_500},
    ]
    path = tmp_path / "app.log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = fold(str(path))
    assert set(g) == {"a", "b", None}
    a, b = g["a"], g["b"]
    # stage 1 is listed by both jobs and charged to the first (group a)
    assert (a["jobs"], a["stages"], b["jobs"], b["stages"]) == (1, 2, 1, 1)
    assert a["cpu_s"] == 2.5 and b["cpu_s"] == 0.25 and g[None]["cpu_s"] == 1.0
    assert a["gc_s"] == 0.1 and b["gc_s"] == 0.05
    assert a["shuffle_read_mb"] == 3.0 and b["shuffle_read_mb"] == 5.0
    assert a["shuffle_write_mb"] == 3.0 and b["shuffle_write_mb"] == 0.0
    assert a["spill_mb"] == 5.0
    assert (a["sql_s"], a["sql_start_ms"], a["sql_end_ms"]) == (2.5, 1_000, 3_500)
    assert b["sql_s"] == 0.0 and b["sql_start_ms"] is None


def test_fold_splits_a_two_group_run(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from flink_project_spark.session import get_spark

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        app_name="fold-test",
        cpus=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.local.dir": str(tmp_path / "local"),
        },
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("shuffle", "shuffle")
        rows = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        sc.setJobGroup("scan", "scan")
        spark.range(10).collect()
        jobs = {g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in ("shuffle", "scan")}
    finally:
        spark.stop()
    assert len(rows) == 7
    g = fold(str(log_dir))
    assert {"shuffle", "scan"} <= set(g)
    assert g["shuffle"]["jobs"] == jobs["shuffle"] and g["scan"]["jobs"] == jobs["scan"]
    assert g["shuffle"]["shuffle_write_mb"] > 0 and g["shuffle"]["shuffle_read_mb"] > 0
    assert g["scan"]["shuffle_write_mb"] == 0 and g["scan"]["shuffle_read_mb"] == 0
    assert g["shuffle"]["stages"] >= 2 and g["scan"]["stages"] == 1
    for name in ("shuffle", "scan"):
        assert g[name]["cpu_s"] > 0
        assert g[name]["sql_start_ms"] <= g[name]["sql_end_ms"]
