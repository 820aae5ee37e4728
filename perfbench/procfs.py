"""CPU time and resident memory of this process and all its descendants,
read from /proc (the driver, the JVM it launched, the Python daemon and
its workers).

CPU time counts ``cutime``/``cstime`` as well as ``utime``/``stime``: a
worker that exits between two readings is reaped by its parent, whose
child times then carry the worker's whole CPU time, so it is not lost.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_PERIOD_S = 0.2


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, CPU ticks incl. reaped children, resident pages)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        # comm may hold spaces or parens: fields restart after the last ')'
        fields = raw[raw.rfind(b")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])
        table[int(name)] = (int(fields[1]), ticks, int(fields[21]))
    return table


def _tree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_usage() -> tuple[float, float]:
    """(CPU seconds, resident MB) summed over this process's tree."""
    table = _proc_table()
    pids = _tree(table, os.getpid())
    cpu = sum(table[p][1] for p in pids) / _CLK
    rss = sum(table[p][2] for p in pids) * _PAGE / 1e6
    return cpu, rss


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot, /proc/stat:
    time the hypervisor gave this machine's vCPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class PeakRss:
    """Background sampler of the tree's summed RSS, every RSS_PERIOD_S;
    ``take()`` returns the peak since the previous ``take()``."""

    def __init__(self):
        self._peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            rss = tree_usage()[1]
            with self._lock:
                self._peak_mb = max(self._peak_mb, rss)
            if self._stop.wait(RSS_PERIOD_S):
                return

    def take(self) -> float:
        with self._lock:
            peak, self._peak_mb = self._peak_mb, 0.0
        return max(peak, tree_usage()[1])

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
