"""CPU time and RSS of a process tree, read from ``/proc``.

The tree of a benchmark run is the driver (this Python process), the
JVM it launches, and the JVM's Python daemon and workers.  CPU time
sums ``utime + stime + cutime + cstime`` over the live tree, so a
worker that exits and is reaped keeps counting through its parent.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> List[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # fields after the parenthesised command name, starting at state
    return raw[raw.rindex(")") + 2:].split()


def _all_stats() -> Dict[int, List[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int) -> Dict[int, List[str]]:
    """``pid -> stat fields`` for ``root`` and all its descendants."""
    stats = _all_stats()
    children: Dict[int, List[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def cpu_s(root: int) -> float:
    """CPU seconds of the tree rooted at ``root``."""
    return sum(int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
               for st in tree(root).values()) / _TICK


def start_age_s() -> float:
    """Seconds since this process was started (fork, not exec)."""
    start_ticks = int(_stat(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


class RssSampler(threading.Thread):
    """Samples the tree's RSS every ``period`` seconds; keeps the peak.

    A process counts from its second sample on.  A child the JVM has
    just forked, before it execs, reports the JVM's whole RSS as its
    own; it lives for milliseconds, so it never reaches a second
    sample (otherwise one sample can read twice the heap)."""

    def __init__(self, root: int, period: float = 0.25):
        super().__init__(daemon=True)
        self.root, self.period = root, period
        self.peak_mb = 0.0
        self._seen: set = set()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.period)

    def sample(self) -> None:
        procs = {(pid, st[19]): int(st[21])
                 for pid, st in tree(self.root).items()}
        rss = sum(pages for key, pages in procs.items()
                  if key in self._seen or key[0] == self.root)
        self._seen = set(procs)
        self.peak_mb = max(self.peak_mb, rss * _PAGE / 2**20)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak_mb
