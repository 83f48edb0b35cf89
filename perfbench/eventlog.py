"""Read Spark's own event log and add up scheduler and executor counters
per job group.

The traced run starts the JVM with an uncompressed, rolling event log
(``eventlog_v2_<app>/events_<n>_<app>`` files of one JSON event per
line) and tags every call into the engine with a job group. Jobs carry
their group in the ``SparkListenerJobStart`` properties; stages and
tasks are attributed to a group through the job that submitted them.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

COUNTERS = (
    "jobs", "stages", "tasks", "task_failures",
    "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    "python_run_ms", "python_bytes_out",
)

_PYTHON_RUN = "time to run Python workers"
_PYTHON_OUT = "data sent to Python workers"


def event_files(log_root: str) -> list[str]:
    """Every rolled event file under ``log_root``, in write order."""
    def index(path):
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    return sorted(glob.glob(os.path.join(log_root, "eventlog_v2_*", "events_*")), key=index)


def read_events(log_root: str):
    for path in event_files(log_root):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _accum(task_info: dict, name: str) -> int:
    return sum(int(a.get("Update", 0) or 0) for a in task_info.get("Accumulables", [])
               if a.get("Name") == name)


def summarize(events) -> dict:
    """``{group: {counter: value, ..., "stage_intervals": [(start_ms, end_ms)]}}``
    for every job group in ``events``; jobs without a group count under
    ``None``."""
    stage_group: dict[int, object] = {}
    out: dict = defaultdict(lambda: {**{c: 0 for c in COUNTERS}, "stage_intervals": []})
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = out[stage_group.get(info["Stage ID"])]
            g["stages"] += 1
            if info.get("Submission Time") and info.get("Completion Time"):
                g["stage_intervals"].append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(e["Stage ID"])]
            g["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                g["task_failures"] += 1
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g["executor_run_ms"] += m.get("Executor Run Time", 0)
            g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            info = e.get("Task Info") or {}
            g["python_run_ms"] += _accum(info, _PYTHON_RUN)
            g["python_bytes_out"] += _accum(info, _PYTHON_OUT)
    return dict(out)


def union_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def combine(groups: dict, keep) -> dict:
    """Add up the counters of every group whose name satisfies ``keep``."""
    out = {**{c: 0 for c in COUNTERS}, "stage_intervals": []}
    for name, g in groups.items():
        if name is not None and keep(name):
            for c in COUNTERS:
                out[c] += g[c]
            out["stage_intervals"] += g["stage_intervals"]
    return out
