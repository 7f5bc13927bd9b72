"""CPU time and resident memory of a process tree, read from /proc.

A Spark run is a tree: this Python driver, the JVM it launches, the PySpark
daemon and its forked Python workers. Workers exit and respawn, so summing
only the live processes undercounts by a varying amount. Each process's
``cutime``/``cstime`` holds the CPU of the children it has reaped, so the sum
of ``utime + stime + cutime + cstime`` over the live tree only grows: when a
child is reaped its time moves into its parent's counters.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_RSS_INTERVAL_S = 0.25


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree_stats(root: int) -> list[list[str]]:
    """The stat fields of ``root`` and of every live descendant, from one
    pass over /proc."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                stats[int(name)] = fields
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the tree under ``root`` (default: this
    process), including every child already reaped inside it."""
    # utime, stime, cutime, cstime are stat fields 14-17
    ticks = sum(int(x) for f in _tree_stats(root or os.getpid()) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    # rss, in pages, is stat field 24
    pages = sum(int(f[21]) for f in _tree_stats(root or os.getpid()))
    return pages * _PAGE / 2**20


class PeakRss:
    """Samples this process tree's resident memory on a thread while active;
    ``peak`` is the largest sum seen."""

    def __init__(self) -> None:
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> PeakRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_mb())

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(_RSS_INTERVAL_S)
