"""Peak resident memory and CPU time of a process tree, read from ``/proc``.

The tree is this Python driver, the JVM it launched and the Python
workers the JVM forks; their RSS is summed at each sample and the largest
sum is kept.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, tuple[int, int]]:
    """``{pid: (ppid, CPU ticks)}`` for every process; the ticks are user
    and system time plus that of the children the process has reaped."""
    out: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        fields = stat[stat.rindex(b")") + 2:].split()
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def _children_map(stats: dict | None = None) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in (stats if stats is not None else _stats()).items():
        kids.setdefault(ppid, []).append(pid)
    return kids


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its live descendants
    (including the children they reaped)."""
    stats = _stats()
    kids = _children_map(stats)
    todo, ticks = [root], 0
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        ticks += stats[pid][1]
        todo.extend(kids.get(pid, []))
    return ticks / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine, summed
    over its CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and its descendants."""
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        todo.extend(kids.get(pid, []))
    return total


class PeakRss:
    """Background sampler; ``with PeakRss() as p: ...; p.peak_mb``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
