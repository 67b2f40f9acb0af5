"""Peak resident memory of this process and every process it started.

Sampled from /proc on a daemon thread: the driver JVM and the Python UDF
workers are children of this process, so the tree total is what the job
holds in memory.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; the ppid follows ") S "
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class PeakRss:
    """Samples ``tree_rss_bytes(os.getpid())`` every ``interval`` seconds
    until ``stop``; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
