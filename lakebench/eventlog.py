"""Spark event-log reader: engine counters per job group.

The traced run tags every span's jobs with ``SparkContext.setJobGroup``
and turns on the event log. This module folds the log's task-end events
into per-group counters:

    tasks, failed_tasks, jobs, executor_run_s, executor_cpu_s, gc_s,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes,
    input_records, output_bytes, scheduler_delay_s

A stage belongs to the job group of the job that submitted it (the
properties on its StageSubmitted event). ``scheduler_delay_s`` uses the
Spark UI's definition: task wall time not spent deserializing, running,
serializing the result or fetching it — time the task waited on the
scheduler and the driver.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

COUNTERS = (
    "tasks", "failed_tasks", "jobs", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_records", "output_bytes", "scheduler_delay_s",
)

_GROUP = "spark.jobGroup.id"


def find_log(log_dir: str) -> str:
    """The single finished application log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")
             and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise FileNotFoundError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def _task_counters(ev: dict) -> dict[str, float]:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    run_ms = m.get("Executor Run Time", 0)
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch_ms = finish - getting if getting else 0
    delay_ms = max(0, (finish - launch) - run_ms - m.get("Executor Deserialize Time", 0)
                   - m.get("Result Serialization Time", 0) - fetch_ms)
    failed = ev.get("Task End Reason", {}).get("Reason", "Success") != "Success"
    return {
        "tasks": 1,
        "failed_tasks": 1 if failed else 0,
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "input_records": m.get("Input Metrics", {}).get("Records Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "scheduler_delay_s": delay_ms / 1e3,
    }


def counters_by_group(lines) -> dict[str, dict[str, float]]:
    """Fold event-log lines (an iterable of JSON strings) into
    ``{job_group: {counter: value}}``. Jobs and stages without a group
    are collected under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP) or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            group = (ev.get("Properties") or {}).get(_GROUP)
            if group is not None:
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            acc = out[stage_group.get(ev["Stage ID"], "")]
            for k, v in _task_counters(ev).items():
                acc[k] += v
    return {g: dict(c) for g, c in out.items()}


def read_counters(log_dir: str) -> dict[str, dict[str, float]]:
    with open(find_log(log_dir)) as f:
        return counters_by_group(f)
