"""Resident memory and CPU time of this process and all its descendants
(this Python process, the JVM it launched and the JVM's Python workers), read from
/proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may contain spaces; it ends at the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of each live process in the tree."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree, plus what its exited
    children left in their parents' cumulative counters."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Background sampler of the process tree's summed RSS.  ``at_peak``
    holds the per-process breakdown (command, MB) of the peak sample."""

    def __init__(self, interval_s: float = 0.1):
        self.peak = 0
        self.at_peak: list[tuple[str, float]] = []
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            sample = tree_rss(root)
            total = sum(sample.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = [(_comm(p), round(b / 2**20)) for p, b in sample.items()]
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
