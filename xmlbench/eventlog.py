"""Minimal Spark event-log reader for the traced benchmark run.

The session that writes the log must set ``spark.eventLog.compress=false``
and ``spark.eventLog.rolling.enabled=false`` (Spark 4 defaults to rolled,
zstd-compressed logs), and each traced run uses a fresh log directory so
that no earlier run's events are counted.
"""

from __future__ import annotations

import json
import os


def summarize_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Walk ``log_dir`` recursively and total the task metrics of every
    job by its job group (``SparkContext.setJobGroup``; jobs without a
    group fall under ``""``).

    Per group: ``jobs``, ``stages`` (completed, so skipped stages do not
    count), ``tasks``, ``shuffle_write_bytes``, ``spill_bytes`` (memory
    plus disk), ``gc_s``, ``executor_cpu_s`` and ``executor_run_s``.
    """
    events = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith((".inprogress", ".crc")):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                events.extend(json.loads(line) for line in f if line.strip())

    group_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def totals(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
             "gc_s", "executor_cpu_s", "executor_run_s"), 0))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for stage_id in ev.get("Stage IDs", ()):
                group_of_stage[stage_id] = group
            totals(group)["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            totals(group_of_stage.get(ev["Stage Info"]["Stage ID"], ""))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            t = totals(group_of_stage.get(ev["Stage ID"], ""))
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    return out
