"""Process-tree accounting and the host regime stamp, from /proc."""

from __future__ import annotations

import os
import time


def proc_tree(pid: int) -> list[int]:
    """``pid`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process tree, reaped children
    included."""
    ticks = 0
    for pid in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) over this process tree."""
    kb = 0
    for pid in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += sum(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except OSError:
            continue
    return kb / 1024


def alloc_gbps() -> float:
    """Page-allocation probe (bench.py's method): GB/s of copying a fresh
    200 MB buffer, so every destination page is a cold fault. It drops
    by orders of magnitude when co-tenants starve the host."""
    import numpy as np

    a = np.zeros(200_000_000, dtype=np.uint8)
    t0 = time.perf_counter()
    a.copy()
    return 0.2 / (time.perf_counter() - t0)


def cpu_counters() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_regime(before: list[int]) -> dict:
    """Steal share and load since ``before`` (a ``cpu_counters`` read)."""
    after = cpu_counters()
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user .. steal; guest time is inside user
    return {
        "steal_pct": 100.0 * delta[7] / total if total else 0.0,
        "loadavg": list(os.getloadavg()),
    }


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
