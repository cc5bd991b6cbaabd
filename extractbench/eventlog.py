"""Stdlib summarizer for Spark event logs.

Spark 4.1 writes a rolling ``eventlog_v2_<app>`` directory of
``events_<n>_<app>`` JSON-lines files (compression must be off: no zstd
module is installed). Every SQL stage is named
``$anonfun$withThreadLocalCaptured``, so stages are classified by the
operator names in their RDD scopes instead:

* decode tasks: tasks of a ``MapInPandas`` stage that read no input
  (they read the distinct-payload shuffle);
* light tasks: tasks of a ``MapInPandas`` stage that scan the input;
* write stage: a ``WriteFiles`` stage run inside the data-write phase.

Jobs are attributed to a call and its phases by job group:
``<call>:<phase>``, set by the benchmark's timing shims. Each job's
``(group, submitted, completed)`` interval, in epoch seconds, is kept for
the phase coverage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

MB = 1024 * 1024


def event_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``."""
    def index(p: str) -> int:
        return int(os.path.basename(p).split("_")[1])
    files = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files += sorted(glob.glob(os.path.join(app, "events_*")), key=index)
    return files


def read_events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _scopes(stage_info: dict) -> set:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        if rdd.get("Scope"):
            names.add(json.loads(rdd["Scope"])["name"])
    return names


def _task_set(tasks: list[dict]) -> dict:
    if not tasks:
        return {"wall_s": 0.0, "task_s": 0.0, "cpu_s": 0.0,
                "task_max_s": 0.0, "task_p50_s": 0.0, "tasks": 0}
    run = [t["run_ms"] / 1e3 for t in tasks]
    return {
        "wall_s": (max(t["finish"] for t in tasks)
                   - min(t["launch"] for t in tasks)) / 1e3,
        "task_s": sum(run),
        "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "task_max_s": max(run),
        "task_p50_s": statistics.median(run),
        "tasks": len(tasks),
    }


def summarize(events, call: str) -> dict:
    """Jobs, stage classes, shuffle and spill of the jobs whose group is
    ``call`` or starts with ``call + ':'``."""
    def mine(group: str | None) -> bool:
        return group is not None and (group == call
                                      or group.startswith(call + ":"))

    jobs: dict[int, list] = {}
    stage_group: dict[int, str] = {}
    stage_scopes: dict[int, set] = {}
    tasks: list[dict] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = e.get("Properties", {}).get("spark.jobGroup.id")
            if mine(group):
                jobs[e["Job ID"]] = [group, e["Submission Time"] / 1e3, None]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][2] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            group = e.get("Properties", {}).get("spark.jobGroup.id")
            if mine(group):
                stage_group[sid] = group
                stage_scopes[sid] = _scopes(e["Stage Info"])
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
            m, info = e.get("Task Metrics") or {}, e["Task Info"]
            sr = m.get("Shuffle Read Metrics", {})
            tasks.append({
                "stage": e["Stage ID"],
                "launch": info["Launch Time"], "finish": info["Finish Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "sh_read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "sh_write": m.get("Shuffle Write Metrics", {})
                .get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            })

    def of(pred):
        return [t for t in tasks if pred(t)]

    udf = of(lambda t: "MapInPandas" in stage_scopes[t["stage"]])
    decode = _task_set([t for t in udf if t["input"] == 0])
    light = _task_set([t for t in udf if t["input"] > 0])
    write = _task_set(of(lambda t: "WriteFiles" in stage_scopes[t["stage"]]
                         and stage_group[t["stage"]] == call + ":write"))
    return {
        "spark_jobs": len(jobs),
        "jobs": [j for j in jobs.values() if j[2] is not None],
        "decode_stage": decode,
        "light_stage": {k: light[k] for k in ("wall_s", "task_s", "cpu_s")},
        "write_stage": {k: write[k] for k in ("wall_s", "task_s")},
        "shuffle_write_mb": sum(t["sh_write"] for t in tasks) / MB,
        "shuffle_read_mb": sum(t["sh_read"] for t in tasks) / MB,
        "spill_mb": sum(t["spill"] for t in tasks) / MB,
    }
