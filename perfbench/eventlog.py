"""Reduce a Spark event log to execution counters per job group.

The traced run tags each op's phases with the job groups
``op<N>.build`` and ``op<N>.exec``; every job, stage and task that a
phase starts (broadcast jobs included) carries its group in the
event's properties.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
    "peak_exec_memory_bytes",
)


def _group(event: dict) -> str | None:
    props = event.get("Properties") or {}
    return props.get("spark.jobGroup.id")


def reduce_log(path: str) -> dict[str, dict[str, float]]:
    """group -> counters. ``peak_exec_memory_bytes`` is the largest
    single-task peak; the other counters are sums."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = _group(ev)
                if g:
                    out[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = _group(ev)
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                    out[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                c = out[g]
                c["tasks"] += 1
                sr = m.get("Shuffle Read Metrics", {})
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["peak_exec_memory_bytes"] = max(
                    c["peak_exec_memory_bytes"], m.get("Peak Execution Memory", 0)
                )
    return dict(out)


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
