"""Host-noise context and process-tree memory, read from /proc.

These numbers are published beside every run so a contended window is
visible; nothing gates on them.
"""

from __future__ import annotations

import os
import time


def steal_snapshot() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_fraction(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def spin_probe() -> float:
    """Seconds for a fixed single-thread Python spin; scheduling latency
    that steal does not show inflates it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(4_000_000):
        acc += i
    return time.perf_counter() - t0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the ppid is the 2nd field after the parenthesised command
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of ``root`` and its live descendants, in MB,
    summed per command name."""
    out: dict[str, float] = {}
    for p in descendants(root):
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except (FileNotFoundError, ProcessLookupError):
            continue
        out[name] = out.get(name, 0.0) + _status_kb(p, "VmHWM") / 1024.0
    return out


def group_members(pgid: int) -> list[int]:
    """Live processes whose process group is ``pgid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields[0] is the state; a zombie has already ended
        if len(fields) > 3 and int(fields[3]) == pgid and fields[0] != "Z":
            out.append(int(d))
    return out
