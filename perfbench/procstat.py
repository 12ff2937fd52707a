"""Process-tree and box-wide CPU / memory accounting from /proc.

The tree is this process plus every live descendant: the Spark driver
JVM and its Python workers. Box-wide busy time minus the tree's own CPU
is the external load that ran beside the benchmark.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids() -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def descendants() -> list[int]:
    """Live descendants of this process (not including itself)."""
    return [p for p in _tree_pids() if p != os.getpid()]


def tree_cpu_s() -> float:
    """CPU seconds used so far by the tree, including reaped children."""
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(rest[i]) for i in (11, 12, 13, 14))
        except (OSError, ValueError, IndexError):
            continue
    return total / _TICK


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of each live tree member, keyed
    ``name:pid``."""
    out = {}
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
            out[f"{fields['Name'].strip()}:{pid}"] = (
                int(fields["VmHWM"].split()[0]) / 1024.0)
        except (OSError, ValueError, KeyError):
            continue
    return out


def now() -> float:
    """Seconds since boot. Set-up and load windows are timed on this
    clock, which wall-clock steps do not move."""
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_start() -> float:
    """Seconds since boot at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return start_ticks / _TICK


def box_busy_steal_s() -> tuple[float, float]:
    """Box-wide (busy, steal) CPU seconds from the first /proc/stat line.
    Busy counts user, nice, system, irq, softirq and steal."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    u, n, s, _idle, _iow, irq, sirq, steal = (
        int(x) for x in (parts[1:9] + ["0"] * 8)[:8])
    return (u + n + s + irq + sirq + steal) / _TICK, steal / _TICK


def cpu_probe_s(n: int = 3_000_000) -> float:
    """Wall of a fixed pure-Python loop: a host whose cores slowed down
    without reporting steal shows here."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


class LoadWindow:
    """External busy cores and steal over a wall-clock window:
    ``(box busy - own tree CPU) / wall`` and ``steal / wall``."""

    def __init__(self) -> None:
        self._t0 = now()
        self._busy0, self._steal0 = box_busy_steal_s()
        self._own0 = tree_cpu_s()

    def close(self) -> dict:
        wall = max(now() - self._t0, 1e-9)
        busy, steal = box_busy_steal_s()
        own = tree_cpu_s() - self._own0
        return {
            "wall_s": wall,
            "own_cpu_s": own,
            "external_busy_cores": max(busy - self._busy0 - own, 0.0) / wall,
            "steal_cores": (steal - self._steal0) / wall,
        }
