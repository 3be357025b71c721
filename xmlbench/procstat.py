"""``/proc`` sampler: CPU time and worker memory of the Spark driver JVM
and everything it started (the Python workers).

CPU is utime+stime of every live process in the tree plus the
cutime+cstime each one holds for children it has reaped, so a worker
that exits during a job is still counted (its time moves into its
parent's c-fields when the parent reaps it). Memory is the summed RSS
of the Python processes in the tree, sampled by a background thread.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone. Index 0 is the state, 1 the ppid."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``'s process tree (live processes
    plus the children they have reaped)."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime: stat fields 14-17
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM's CPUs so far
    (the steal column of /proc/stat, summed over CPUs). Steal that rises
    during a job means host contention, not a slower program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except (FileNotFoundError, ProcessLookupError):
        return False


def worker_rss_bytes(root: int) -> int:
    """Summed resident set size of the Python processes below ``root``."""
    total = 0
    for pid in descendants(root):
        if pid == root or not _is_python(pid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class PeakRss:
    """Background sampler of :func:`worker_rss_bytes`; use as a context
    manager around one job and read ``peak_bytes`` afterwards."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, worker_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        # one last sample, so a job shorter than the interval is covered
        self.peak_bytes = max(self.peak_bytes, worker_rss_bytes(self.root))
