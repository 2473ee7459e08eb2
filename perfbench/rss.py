"""Peak resident memory of this process and its descendants (the
PySpark driver, the JVM it launched and the JVM's Python workers),
sampled from /proc on a background thread."""

from __future__ import annotations

import os
import threading

from perfbench.supervise import children_map


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int, exclude: set[int] = frozenset()) -> float:
    kids = children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the tree rooted at this process every ``interval`` s
    until stopped. ``exclude`` holds pids (and their subtrees) that are
    not part of the system under test, such as the traffic generator."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me, self.exclude))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(5)
        return self.peak_mb
