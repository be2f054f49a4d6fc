"""Measurement helpers: the tail-percentile rule, the clock that takes the
hypervisor's steal out of wall time, the process-tree memory high-water
mark, and the machine stamp (load average, steal share and a fixed CPU
probe) that marks runs made under contention."""

from __future__ import annotations

import hashlib
import os
import re
import time

TAIL_ABOVE = 10  # samples that must lie above the reported tail


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ``TAIL_ABOVE`` samples above it,
    but never below p90 (nearest rank).

    Returns (value, percentile, sample count).  With n sorted samples the
    rule alone picks the (n - TAIL_ABOVE)-th smallest.  Below 100
    samples that falls under p90, and for a run of a few passes over
    ops of different cost it would jump from the slowest op to a cheap
    one whenever the machine fits one more pass into the run; the p90
    floor keeps the tail on the slowest ops at every sample count.
    """
    if not samples:
        raise ValueError("tail() of no samples")
    s = sorted(samples)
    n = len(s)
    k = max(n - TAIL_ABOVE - 1, (9 * n + 9) // 10 - 1)
    return s[k], 100.0 * (k + 1) / n, n


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine so far, from the
    first line of /proc/stat.  Busy is user, nice, system, irq and
    softirq time; steal is time a runnable virtual CPU was kept waiting
    while the hypervisor ran other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def unstolen(wall: float, busy: int, steal: int) -> float:
    """``wall`` scaled by the share of the machine's non-idle CPU time
    that was not stolen over the interval."""
    return wall * busy / (busy + steal) if busy + steal else wall


class Clock:
    """Wall time since creation, as measured and with steal taken out.

    On a virtual machine whose host is oversubscribed, runnable virtual
    CPUs are descheduled while other guests run (steal), and everything
    the guest does slows by a factor that follows the other guests'
    load, not the program.  :meth:`read` returns the wall time and the
    time the interval would have taken had the virtual CPUs run whenever
    they were runnable: the wall time times ``busy / (busy + steal)``
    over the interval.  Without steal the two are equal.
    """

    def __init__(self):
        self.busy, self.steal = cpu_ticks()
        self.t0 = time.perf_counter()

    def read(self) -> tuple[float, float]:
        """(wall, unstolen) seconds."""
        wall = time.perf_counter() - self.t0
        busy, steal = cpu_ticks()
        return wall, unstolen(wall, busy - self.busy, steal - self.steal)


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            out.append(int(entry))
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    root = os.getpid() if root is None else root
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(_children(pid))
    return tree


_HWM = re.compile(r"^VmHWM:\s+(\d+)\s+kB", re.M)


def tree_hwm_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the process tree: the
    driver, the JVM and every live Python worker."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                m = _HWM.search(f.read())
        except OSError:
            continue
        if m:
            total_kb += int(m.group(1))
    return total_kb / 1024.0


def cpu_probe_s() -> float:
    """Fixed single-thread CPU yardstick: sha256 over 64 MiB."""
    blob = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(64):
        h.update(blob)
    return time.perf_counter() - t0


class MachineStamp:
    """Load average and CPU probe at the start and end of a run, and the
    share of the run's non-idle CPU time that was stolen.

    A run is flagged ``contended`` when the one-minute load average at
    either end exceeds ``1.5 x cores``, the CPU probe slowed by more
    than 30% between start and end, or more than a quarter of the CPU
    time was stolen: the machine, not the program, moved.
    """

    def __init__(self, cores: int):
        self.cores = cores
        self.load_start = os.getloadavg()[0]
        self.probe_start = cpu_probe_s()
        self.ticks = cpu_ticks()
        self.load_end = self.probe_end = None

    def finish(self) -> dict:
        self.load_end = os.getloadavg()[0]
        self.probe_end = cpu_probe_s()
        busy, steal = (b - a for a, b in zip(self.ticks, cpu_ticks()))
        steal_share = steal / (busy + steal) if busy + steal else 0.0
        limit = 1.5 * self.cores
        contended = (
            max(self.load_start, self.load_end) > limit
            or self.probe_end > 1.3 * self.probe_start
            or steal_share > 0.25
        )
        return {
            "cores": self.cores,
            "load_start": round(self.load_start, 2),
            "load_end": round(self.load_end, 2),
            "cpu_probe_start_s": round(self.probe_start, 4),
            "cpu_probe_end_s": round(self.probe_end, 4),
            "steal_share": round(steal_share, 3),
            "contended": contended,
        }
