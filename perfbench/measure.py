"""Medians, slopes and the peak-RSS sampler."""

from __future__ import annotations

import os
import statistics
import threading


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs (0 for fewer than two points)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _is_python(pid: int) -> bool:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().startswith("python")


def _jvm_and_python_rss(pids_by_parent: dict[int, list[int]], jvm: int) -> int:
    """RSS of the JVM plus every Python process below it.  Other children
    are skipped: a process the JVM forks shares its pages until it execs,
    so counting it would count the JVM twice."""
    total, todo = 0, [jvm]
    while todo:
        pid = todo.pop()
        try:
            if pid == jvm or _is_python(pid):
                total += _rss(pid)
        except (OSError, ValueError, IndexError):
            continue
        todo.extend(pids_by_parent.get(pid, ()))
    return total


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # field 4 is the parent pid; the command name (field 2) may
                # hold spaces, so split after its closing parenthesis
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


class PeakRss:
    """Samples the resident set of the JVM plus its Python workers every
    ``interval`` seconds from a daemon thread; :meth:`stop` returns the
    peak in bytes."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, _jvm_and_python_rss(_children_map(), self.pid))
            self._done.wait(self.interval)

    def stop(self) -> int:
        self._done.set()
        self._thread.join(timeout=10)
        return self.peak
