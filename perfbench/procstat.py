"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark worker plus everything it started: the
Spark JVM and the Python worker daemon with its forked workers. CPU
counts each live process's own time plus the time of the children it
has already reaped, so a Python worker that exits mid-pass is still
counted once its parent waits for it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listing and reading
    # comm may hold spaces and parentheses; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[list[str]]:
    """Stat fields of ``root`` and all its descendants."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                stats[int(entry)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
            todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """utime + stime (own and reaped children) summed over the tree."""
    return sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in tree(root)) / _TICK


def rss_bytes(root: int) -> int:
    return sum(int(f[21]) for f in tree(root)) * _PAGE


class PeakRss:
    """Samples the tree's summed RSS on a background thread while
    active; ``peak`` is the largest sample seen."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> PeakRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes(self.root))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.interval)
