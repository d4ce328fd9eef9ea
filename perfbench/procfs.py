"""CPU time and resident memory of the program's processes, read from /proc.

The program is every descendant of the benchmark process: the driver JVM
that PySpark launches and the Python workers forked under it.  CPU time of
a descendant that already exited is still counted, through the
``cutime``/``cstime`` of the living process that reaped it.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields from ``state`` onwards."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:  # exited between listdir and open
            continue
        out[int(name)] = s[s.rindex(")") + 2 :].split()
    return out


def descendants(root: int) -> list[list[str]]:
    stats = _stats()
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    found, todo = [], [root]
    while todo:
        for pid in kids.get(todo.pop(), []):
            found.append(stats[pid])
            todo.append(pid)
    return found


def cpu_seconds(root: int) -> float:
    """user+sys seconds of all descendants of ``root``, reaped ones included."""
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in descendants(root)) / _CLK


def host_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    the time the host ran something else while this machine's CPUs were
    ready to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def rss_bytes(root: int) -> int:
    return sum(int(f[21]) for f in descendants(root)) * _PAGE


class PeakRss:
    """Samples the summed RSS of ``root``'s descendants on a thread while
    the ``with`` block runs; ``peak`` is the largest sample in bytes."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(self.root))
