"""Host weather and process-tree memory, read from /proc.

``HostMeter`` stamps a result with the load and CPU steal seen while it was
measured, as ``bench.py`` does: a run on a busy host is a different
experiment. ``RssPoller`` samples the resident memory of this process and
every descendant (the driver JVM and its Python workers) on a thread.
"""

from __future__ import annotations

import os
import threading


def _cpu_ticks():
    """(busy, steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    idle = vals[3] + vals[4]
    return sum(vals) - idle, vals[7], sum(vals)


class HostMeter:
    def __init__(self):
        self.load_start = os.getloadavg()[0]
        self.ticks0 = _cpu_ticks()

    def snapshot(self) -> dict:
        busy, steal, total = (b - a for a, b in zip(self.ticks0, _cpu_ticks()))
        return {
            "load_start_1m": round(self.load_start, 2),
            "load_end_1m": round(os.getloadavg()[0], 2),
            "cpu_busy_pct": round(100.0 * busy / max(total, 1), 1),
            "cpu_steal_pct": round(100.0 * steal / max(total, 1), 1),
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssPoller:
    """Peak resident memory of the process tree rooted here, polled every
    ``interval`` seconds between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
