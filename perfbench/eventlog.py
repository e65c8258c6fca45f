"""Spark event-log parser: task metrics per job group.

Jobs carry the job group that was set when they started
(`spark.jobGroup.id` in the JobStart properties); a stage belongs to
the first job that lists it, and a task to its stage. For each group
it returns the task-time sum, max and median task time and their ratio
(skew), shuffle read and write, spill and JVM GC time. Task time is
Finish - Launch, as in `BENCH/skew_stress.py:task_spread`.

Handles both layouts: a flat event file, and Spark 4's rolling
`eventlog_v2_<app>/events_<n>_<app>` directories. Compressed logs are
refused: the traced run sets `spark.eventLog.compress=false`.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

MB = 1024.0 * 1024.0


def event_files(log_dir: str) -> list[str]:
    """Uncompressed event files of every application under `log_dir`."""
    out = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            out += sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1]))
        elif not entry.endswith(".inprogress"):
            out.append(entry)
    bad = [p for p in out if p.endswith((".zstd", ".lz4", ".snappy", ".gz"))]
    if bad:
        raise ValueError(f"compressed event log {bad[0]}; "
                         "set spark.eventLog.compress=false")
    return out


def _events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of a live log


def job_group_metrics(log_dir: str) -> dict[str, dict]:
    """job group id -> task metrics summary (see module docstring)."""
    return {g: summarize(ts) for g, ts in job_group_tasks(log_dir).items()}


def job_group_tasks(log_dir: str) -> dict[str, list[dict]]:
    """job group id -> its tasks' (dur, gc, read, write, spill)."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    for ev in _events(event_files(log_dir)):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            ti = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.setdefault(group, []).append({
                "dur": (ti.get("Finish Time", 0)
                        - ti.get("Launch Time", 0)) / 1000.0,
                "gc": tm.get("JVM GC Time", 0) / 1000.0,
                "read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "write": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
            })
    return tasks


def summarize(ts: list[dict]) -> dict:
    durs = [t["dur"] for t in ts]
    med = statistics.median(durs)
    return {
        "n_tasks": len(ts),
        "task_s": sum(durs),
        "task_max_s": max(durs),
        "task_median_s": med,
        "task_skew": max(durs) / med if med > 0 else 1.0,
        "gc_s": sum(t["gc"] for t in ts),
        "shuffle_read_mb": sum(t["read"] for t in ts) / MB,
        "shuffle_write_mb": sum(t["write"] for t in ts) / MB,
        "spill_mb": sum(t["spill"] for t in ts) / MB,
    }
