"""Spark event-log parser for the traced run.

Reads one uncompressed, non-rolling event log (JSON lines) and sums
task metrics per job description, so spans the benchmark tags with
`setJobDescription("bench:<layer>")`, and any `dedup:<stage>` tags the
program sets itself, are attributed with no change here.

Per group: jobs, tasks, cpu_s (JVM executor CPU only; pandas-UDF
work runs in Python workers and is not in it), run_s (executor run
time), shuffle_write_mb, spill_mb (disk bytes spilled) and task_skew:
max/median task run time of the group's heaviest stage (by summed run
time; median floored at 1 ms).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

MB = 1e6
UNTAGGED = "<none>"


def find_log(log_dir: str) -> str:
    logs = [
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise FileNotFoundError(f"expected one finished event log in {log_dir}, got {logs}")
    return logs[0]


def read_events(path: str) -> dict:
    """Jobs, stages and tasks from one event log, keyed by id."""
    jobs: dict[int, dict] = {}
    stage_desc: dict[int, str] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or UNTAGGED
                jobs[ev["Job ID"]] = {
                    "desc": desc,
                    "submit_ms": ev["Submission Time"],
                    "stages": ev.get("Stage IDs", []),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                # the submitting job's local properties: the right owner
                # for a stage that several jobs list
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_desc[sid] = props.get("spark.job.description") or stage_desc.get(sid, UNTAGGED)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch_ms": info["Launch Time"],
                    "finish_ms": info["Finish Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                })
    for t in tasks:
        t["desc"] = stage_desc.get(t["stage"], UNTAGGED)
    return {"jobs": jobs, "tasks": tasks}


def summarize(jobs: list[dict], tasks: list[dict]) -> dict:
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["run_ms"])
    skew = 0.0
    if by_stage:
        heavy = max(by_stage.values(), key=sum)
        srt = sorted(heavy)
        skew = max(srt) / max(srt[len(srt) // 2], 1)
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "shuffle_write_mb": sum(t["shuffle_bytes"] for t in tasks) / MB,
        "spill_mb": sum(t["spill_bytes"] for t in tasks) / MB,
        "task_skew": skew,
    }


def by_description(ev: dict) -> dict[str, dict]:
    jobs: dict[str, list] = defaultdict(list)
    tasks: dict[str, list] = defaultdict(list)
    for j in ev["jobs"].values():
        jobs[j["desc"]].append(j)
    for t in ev["tasks"]:
        tasks[t["desc"]].append(t)
    return {d: summarize(jobs[d], tasks[d]) for d in set(jobs) | set(tasks)}


def window(ev: dict, start_ms: float, end_ms: float) -> dict:
    """Whole-run numbers for the jobs submitted in [start_ms, end_ms]:
    the summary above plus driver_gap_s, the part of the window in
    which no task was running."""
    jobs = [j for j in ev["jobs"].values() if start_ms <= j["submit_ms"] <= end_ms]
    stages = {s for j in jobs for s in j["stages"]}
    tasks = [t for t in ev["tasks"] if t["stage"] in stages]
    busy, cursor = 0.0, start_ms
    for t in sorted(tasks, key=lambda t: t["launch_ms"]):
        lo, hi = max(t["launch_ms"], cursor), min(t["finish_ms"], end_ms)
        if hi > lo:
            busy += hi - lo
            cursor = hi
    out = summarize(jobs, tasks)
    out["driver_gap_s"] = (end_ms - start_ms - busy) / 1e3
    return out
