#!/usr/bin/env python
"""Event-log profile of named registry queries, on bench.py's session.

Before chasing a bench "regression", compare task wall time with
executor CPU time: cpu/wall near 1 means the samples measured real
work, cpu/wall well below 1 means the host took the CPU away.

Each query runs once warm, then N times measured (default 1), each
measured run in its own job group ``<query>#<i>``. After
``spark.stop()`` the event log is read once and every TaskEnd record is
attributed to its run by job group. Prints one JSON line per query:

  {"query", "cores",
   "samples": [{"sec", "tasks", "stages", "task_wall_s", "task_cpu_s",
                "cpu_wall"}, ...],
   "min", "min_cpu_wall", "best_clean", "best_clean_cpu_wall",
   "stages": [{"stage", "tasks", "span_s", "task_wall_s", "cpu_s",
               "input_mb", "shuffle_read_mb", "shuffle_write_mb"}, ...]}

``best_clean`` is the fastest sample whose cpu/wall is at least 0.9;
``stages`` are those of the fastest sample. The session and the data
directory are bench.py's (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_SF_DIR``,
``SPARK_GRAFT_DRIVER_MEM``).

Usage: python scripts/profile_queries.py [--n=N] query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from collections import defaultdict
from typing import Iterable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Spark 4 compresses event logs with zstd by default; such a log reads
# as binary, never as JSON lines.
COMPRESSED = (".zstd", ".lz4", ".snappy", ".lzf")
# Only samples this close to cpu-bound may set a floor.
CLEAN_CPU_WALL = 0.9


class Task(NamedTuple):
    """One ``SparkListenerTaskEnd`` record."""

    group: str  # job group of the task's job; "" outside any group
    stage: int
    launch_ms: int
    finish_ms: int
    cpu_s: float
    input_bytes: int
    shuffle_read_bytes: int  # local plus remote
    shuffle_write_bytes: int
    peak_memory_bytes: int  # peak execution memory

    @property
    def wall_s(self) -> float:
        return (self.finish_ms - self.launch_ms) / 1e3


def read_task_ends(log_dir: str) -> list[Task]:
    """Every TaskEnd record of the uncompressed, unrolled event logs
    under ``log_dir`` (walked recursively), each tagged with the job
    group that ``SparkListenerJobStart`` gave its stage.

    Skips dotfiles, ``.crc`` and ``appstatus`` files. Raises
    ``ValueError`` naming the file for a compressed log or a line that
    is not JSON, so that a misconfigured log never reads as 0 tasks.
    """
    tasks = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc") or name.startswith("appstatus"):
                continue
            path = os.path.join(dirpath, name)
            if name.endswith(COMPRESSED):
                raise ValueError(
                    f"{path}: compressed event log; write it with spark.eventLog.compress=false"
                )
            group_of_stage: dict[int, str] = {}  # one application per file
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    if not line.strip():
                        continue
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError as e:
                        raise ValueError(f"{path}:{lineno}: not a JSON event ({e.msg})") from None
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        for stage in ev.get("Stage IDs", ()):
                            group_of_stage[stage] = group
                    elif kind == "SparkListenerTaskEnd":
                        info = ev.get("Task Info") or {}
                        m = ev.get("Task Metrics") or {}
                        read = m.get("Shuffle Read Metrics") or {}
                        tasks.append(Task(
                            group=group_of_stage.get(ev["Stage ID"], ""),
                            stage=ev["Stage ID"],
                            launch_ms=info.get("Launch Time", 0),
                            finish_ms=info.get("Finish Time", 0),
                            cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                            input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            shuffle_read_bytes=read.get("Local Bytes Read", 0)
                            + read.get("Remote Bytes Read", 0),
                            shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0),
                            peak_memory_bytes=m.get("Peak Execution Memory", 0),
                        ))
    return tasks


def totals(tasks: list[Task]) -> dict:
    """Task and stage counts, summed task wall and executor CPU, and
    their ratio (None when no task ran)."""
    wall = sum(t.wall_s for t in tasks)
    cpu = sum(t.cpu_s for t in tasks)
    return {
        "tasks": len(tasks),
        "stages": len({t.stage for t in tasks}),
        "task_wall_s": round(wall, 3),
        "task_cpu_s": round(cpu, 3),
        "cpu_wall": round(cpu / wall, 3) if wall else None,
    }


def stage_rows(tasks: Iterable[Task]) -> list[dict]:
    """One row per stage, in stage order."""
    by_stage: dict[int, list[Task]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t)
    return [
        {
            "stage": stage,
            "tasks": len(ts),
            "span_s": round((max(t.finish_ms for t in ts) - min(t.launch_ms for t in ts)) / 1e3, 3),
            "task_wall_s": round(sum(t.wall_s for t in ts), 3),
            "cpu_s": round(sum(t.cpu_s for t in ts), 3),
            "input_mb": round(sum(t.input_bytes for t in ts) / 1e6, 2),
            "shuffle_read_mb": round(sum(t.shuffle_read_bytes for t in ts) / 1e6, 2),
            "shuffle_write_mb": round(sum(t.shuffle_write_bytes for t in ts) / 1e6, 2),
        }
        for stage, ts in sorted(by_stage.items())
    ]


def profile(names: list[str], n: int, log_dir: str) -> list[dict]:
    """Run each query warm once and measured ``n`` times with the event
    log in ``log_dir``; one report per query (see the module docstring)."""
    import bench
    from __spark_entry__ import queries

    spark = bench.build_spark(event_log_dir=log_dir)
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    secs: dict[str, list[float]] = {name: [] for name in names}
    for name in names:
        for i in ["warm", *range(n)]:
            spark.sparkContext.setJobGroup(f"{name}#{i}", f"profile {name}")
            t0 = time.perf_counter()
            bench.run_noop(qs[name](spark, bench.SF_DIR))
            sec = time.perf_counter() - t0
            spark.catalog.clearCache()
            if i != "warm":
                secs[name].append(round(sec, 3))
                print(f"  {name}#{i}: {sec:.2f}s", file=sys.stderr)
    spark.stop()

    by_group: dict[str, list[Task]] = defaultdict(list)
    for t in read_task_ends(log_dir):
        by_group[t.group].append(t)
    reports = []
    for name in names:
        samples = [
            {"sec": sec, **totals(by_group[f"{name}#{i}"])} for i, sec in enumerate(secs[name])
        ]
        fastest = min(range(n), key=lambda i: samples[i]["sec"])
        clean = [s for s in samples if (s["cpu_wall"] or 0) >= CLEAN_CPU_WALL]
        best_clean = min(clean, key=lambda s: s["sec"]) if clean else None
        reports.append({
            "query": name,
            "cores": bench.CPUS,
            "samples": samples,
            "min": samples[fastest]["sec"],
            "min_cpu_wall": samples[fastest]["cpu_wall"],
            "best_clean": best_clean["sec"] if best_clean else None,
            "best_clean_cpu_wall": best_clean["cpu_wall"] if best_clean else None,
            "stages": stage_rows(by_group[f"{name}#{fastest}"]),
        })
    return reports


def main(argv: list[str]) -> None:
    n = 1
    names = []
    for arg in argv:
        if arg.startswith("--n="):
            n = int(arg[len("--n="):])
        else:
            names.append(arg)
    if not names or n < 1:
        sys.exit(__doc__)
    with tempfile.TemporaryDirectory(prefix="profile_queries_") as log_dir:
        for report in profile(names, n, log_dir):
            print(json.dumps(report))


if __name__ == "__main__":
    main(sys.argv[1:])
