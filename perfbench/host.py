"""Host record: CPU busy and steal shares from /proc/stat, a CPU canary, and
the peak RSS of this process tree (Python driver, JVM and any Python
workers)."""

from __future__ import annotations

import os
import statistics
import time


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat: user nice system
    idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8]) or 1  # guest time is already counted in user
    idle = d[3] + d[4]
    steal = d[7] if len(d) > 7 else 0
    return {"busy_frac": (total - idle - steal) / total, "steal_frac": steal / total}


def canary_ms(reps: int = 5) -> float:
    """Median time of a fixed single-thread CPU loop.  The host's speed moves
    by tens of percent for minutes at a time without any steal showing in
    /proc/stat; this makes such drift visible in the host record."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i % 7
        times.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(times)


class Window:
    """Host figures for a timed window that opens when the object is made:
    busy and steal shares over it, and the mean of a canary taken just
    before it opens and just after it closes."""

    def __init__(self):
        self._canary = canary_ms()
        self._cpu0 = cpu_times()

    def close(self) -> dict:
        record = cpu_shares(self._cpu0, cpu_times())
        record["canary_ms"] = (self._canary + canary_ms()) / 2
        return record


def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum over the process tree of each process's peak resident set
    (VmHWM).  Processes peak at different moments, so this bounds the
    tree's simultaneous peak from above."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
