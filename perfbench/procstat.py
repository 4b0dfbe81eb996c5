"""CPU time and memory of a process tree, read from /proc.

The benchmark's own Python process starts the Spark JVM, which forks
the Python workers, so the tree rooted at this process covers the
driver, the JVM and every Python worker. CPU includes the reaped
children of each live process (``cutime``/``cstime``), so workers that
exit inside a window are still counted.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _tree_stats(root: int) -> dict[int, list[str]]:
    """Stat fields (from field 3 on) of `root` and all its descendants."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree(root: int | None = None) -> list[int]:
    """Pids of `root` (default: this process) and all its descendants."""
    return list(_tree_stats(root or os.getpid()))


def cpu_seconds(root: int | None = None) -> float:
    """User + system CPU of the tree, including reaped children."""
    # fields 14-17 (utime, stime, cutime, cstime) are indices 11-14 here
    stats = _tree_stats(root or os.getpid()).values()
    return sum(sum(int(x) for x in st[11:15]) for st in stats) / _CLK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited between listing and reading
        pass
    return 0


def rss_mb(root: int | None = None) -> float:
    """Resident memory of the tree with each shared page counted once.

    Sums the proportional set size, which splits a page shared after a
    fork() among its sharers, and skips a child whose size and RSS
    (fields 23-24) equal its parent's: a vfork()ed child, such as the
    JVM's before it execs a helper, shares its parent's memory outright.
    """
    stats = _tree_stats(root or os.getpid())
    total = 0
    for pid, st in stats.items():
        parent = stats.get(int(st[1]))
        if parent is None or parent[20:22] != st[20:22]:
            total += _pss_kb(pid)
    return total / 1024


class PeakRss:
    """Samples the tree's memory on a background thread while in a
    `with` block; `peak_mb` is the highest total seen. A sample walks the
    page tables of every process, tens of ms for a JVM with a few GB
    resident, so it is taken once a second, and `cpu_s` is the CPU time
    (user + system) the sampling thread had used by its last sample:
    callers that measure the tree's CPU subtract it, so that sampling
    does not count as the program's work."""

    INTERVAL_S = 1.0

    def __init__(self):
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb())
            self.cpu_s = time.thread_time()
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, rss_mb())
