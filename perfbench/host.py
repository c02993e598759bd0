"""Host probes: a pure-Python canary spin and the process tree's peak RSS."""

from __future__ import annotations

import os
import time

CANARY_LOOPS = 200_000
CANARY_REPEATS = 3


def canary_s() -> float:
    """Fastest of CANARY_REPEATS timings of a fixed pure-Python loop. It needs
    one core and no memory bandwidth, so it slows only when the host takes
    the CPU away; the fastest of a few ignores a single blip."""
    best = float("inf")
    for _ in range(CANARY_REPEATS):
        t0 = time.perf_counter()
        acc = 0
        for i in range(CANARY_LOOPS):
            acc = (acc + i * i) & 0xFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def tree_hwm_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` and its live descendants, in MiB.
    For Spark local mode that is the JVM plus the Python daemon and its
    forked workers."""
    tree = _children()
    total_kb = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(tree.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
