"""CPU time and resident memory of this process and all its descendants,
read from ``/proc``: the driver Python, the JVM it launches, the pyspark
daemon and its Python workers.

CPU is ``utime + stime + cutime + cstime`` summed over the live tree, so a
worker that exited and was reaped still counts through its parent. Memory
is sampled by a background thread; ``peak_mb`` is the largest summed RSS
seen.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: seconds between RSS samples
SAMPLE_INTERVAL_S = 0.1


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after the last ')'
    return data[data.rindex(")") + 2 :].split()


def _tree(root: int) -> list[list[str]]:
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st:
                stats[int(pid)] = st
                children.setdefault(int(st[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds() -> float:
    """Total CPU seconds consumed so far by this process's tree."""
    tree = _tree(os.getpid())
    # fields after ')': state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return sum(int(s[11]) + int(s[12]) + int(s[13]) + int(s[14]) for s in tree) / _TICK


def rss_mb() -> float:
    """Summed resident set size of this process's tree, in MiB."""
    return sum(int(s[21]) for s in _tree(os.getpid())) * _PAGE / 2**20


class PeakRss:
    """Background sampler of the tree's summed RSS."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb())
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb())
