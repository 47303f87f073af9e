"""Host probes for the benchmark: CPU shares and process-tree memory.

Linux-only: both read ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time


def cpu_sample(sample_s: float) -> dict[str, float | None]:
    """Non-idle and stolen shares of all CPUs over a ``/proc/stat`` delta.
    Sampled before the run starts, ``cpu_busy_frac`` records load from OTHER
    processes (the same probe as ``bench.py``); ``cpu_steal_frac`` is time
    the hypervisor gave to other guests, a sign of a noisy host."""

    def snap():
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    try:
        f0 = snap()
        time.sleep(sample_s)
        f1 = snap()
    except OSError:
        return {"cpu_busy_frac": None, "cpu_steal_frac": None}
    d = [b - a for a, b in zip(f0, f1)]
    total = sum(d)
    if total <= 0:
        return {"cpu_busy_frac": None, "cpu_steal_frac": None}
    idle = d[3] + (d[4] if len(d) > 4 else 0)  # idle + iowait
    steal = d[7] if len(d) > 7 else 0
    return {"cpu_busy_frac": 1.0 - idle / total, "cpu_steal_frac": steal / total}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command, which may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional resident bytes: a page shared by n processes counts 1/n
    in each, so the sum over a process tree counts it once.  Python workers
    are forked from one daemon and share most pages, which a plain RSS sum
    would count once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes (PSS) of ``root`` and all its descendants: the Python
    process, the JVM it launched and the JVM's Python workers."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue  # exited, or smaps_rollup unavailable
    return total


class PeakRss:
    """Samples :func:`tree_rss_bytes` of this process every ``period_s`` on a
    daemon thread; ``stop()`` returns the peak in MB."""

    def __init__(self, period_s: float = 0.25):
        self._period = period_s
        self._peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def _loop(self) -> None:
        root = os.getpid()
        while not self._done.is_set():
            self._peak = max(self._peak, tree_rss_bytes(root))
            self._done.wait(self._period)

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=10)
        self._peak = max(self._peak, tree_rss_bytes(os.getpid()))
        return self._peak / 2**20
