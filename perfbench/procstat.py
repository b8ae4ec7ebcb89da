"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark's own Python process plus every descendant:
the Spark JVM, the pyspark worker daemon and its Python workers.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesized and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[list[str]]:
    """``stat`` fields (from field 3 on) of ``root`` and its
    descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including children the tree has
    already reaped (their time sits in the parent's cutime/cstime)."""
    return sum(int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
               for st in tree(root)) / _TICK


def rss_mb(root: int) -> float:
    return sum(int(st[21]) for st in tree(root)) * _PAGE / (1024.0 ** 2)


def steal_seconds() -> float:
    """Host-wide CPU time stolen by the hypervisor (``steal`` in
    /proc/stat), summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class PeakRss:
    """Samples the tree's summed RSS on a background thread while
    active; ``peak_mb`` is the highest sample."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(self._root))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb(self._root))
