"""CPU time and resident memory of this process and all its descendants
(the Python driver, the JVM it launches and the JVM's Python workers), read
from ``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited while the tree was walked
        return None
    # field 2 (comm) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> list[list[str]]:
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    keep, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            keep.append(stats[pid])
            frontier.extend(p for p, st in stats.items() if int(st[1]) == pid)
    return keep


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for st in _tree(root or os.getpid()):
        total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    return sum(int(st[21]) for st in _tree(root or os.getpid())) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``stop``
    returns the highest sample."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_mb = 0.0
        self._interval = interval_s
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._done.wait(self._interval):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
