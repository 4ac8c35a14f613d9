"""Meters read from /proc: CPU time of a process tree, resident memory of
its descendants (the Spark JVM and its Python workers), host CPU steal
and load.  Linux only; nothing here starts a process."""

from __future__ import annotations

import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields 3.. of proc(5)


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    start_ticks = int(_stat("self")[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / TICK)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(name)) is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system seconds of ``root`` and all its descendants, reaped
    children included (utime, stime, cutime, cstime).  Steal and idle
    time are not in these counters."""
    root = root or os.getpid()
    ticks = 0
    for pid in [root, *descendants(root)]:
        if (st := _stat(pid)) is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / TICK


def steal_s() -> float:
    """Host-wide CPU steal since boot, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


def loadavg() -> list[float]:
    return list(os.getloadavg())


class PeakRss:
    """Samples the summed RSS of this process's descendants on a thread.

    The descendant list is refreshed once a second, so a sample costs one
    small read per process.  ``peak_mb`` holds the highest sum seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        pids: list[int] = []
        refreshed = 0.0
        while not self._stop.is_set():
            if time.monotonic() - refreshed > 1.0:
                pids, refreshed = descendants(os.getpid()), time.monotonic()
            pages = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        pages += int(f.read().split()[1])
                except OSError:
                    pass
            self.peak_mb = max(self.peak_mb, pages * PAGE / 2**20)
            self._stop.wait(self.interval_s)
