"""Process-tree CPU and memory read from ``/proc``.

The tree is the benchmark process and every live descendant: the driver
JVM and the Python workers it forks are unreaped children, which
``getrusage`` cannot see. CPU counts ``utime+stime`` plus the
``cutime+cstime`` of children already reaped inside the tree, so a
worker that exits mid-run keeps its share. Memory is the kernel's
per-process peak resident set (``VmHWM``), so no sampling can miss a
peak. Machine-wide ``/proc/stat`` deltas give the hypervisor steal
share and the CPU burnt by processes outside the tree, and a fixed CPU
loop times the core itself, so a noisy window is visible next to the
numbers it disturbed.
"""

from __future__ import annotations

import os
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu jiffies incl. reaped children)."""
    out: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after "comm)": state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14)
        cpu = int(parts[11]) + int(parts[12]) + int(parts[13]) + int(parts[14])
        out[int(d)] = (int(parts[1]), cpu)
    return out


def tree_sample(root: int) -> tuple[float, list[int]]:
    """(cpu seconds, pids) of ``root`` and its descendants."""
    procs = _procs()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    cpu, pids = 0, []
    stack = [root]
    while stack:
        p = stack.pop()
        if p in procs:
            cpu += procs[p][1]
            pids.append(p)
        stack.extend(children.get(p, []))
    return cpu / _HZ, pids


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set so far (``VmHWM``). Pages
    the forked Python workers share count once per worker, so this is
    an upper bound on the tree's peak; it is exact for the JVM, which
    holds most of it."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def machine_jiffies() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies over all cpus."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[3] + vals[4], vals[7] if len(vals) > 7 else 0


def cpu_probe_s(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop on one core: a slow window
    that steal does not show (a busy sibling hyperthread, a throttled
    host) shows here."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


class TreeMonitor:
    """Measures regions of the run: ``end(begin())`` returns the region's
    wall and CPU seconds, the tree's peak RSS so far, and the shares of
    machine capacity lost to steal and used outside the tree."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def begin(self) -> dict:
        cpu, _ = tree_sample(self.root)
        return {"cpu": cpu, "machine": machine_jiffies(), "t": time.perf_counter()}

    def end(self, start: dict) -> dict:
        cpu, pids = tree_sample(self.root)
        total, idle, steal = machine_jiffies()
        t0, i0, s0 = start["machine"]
        d_total = max(1, total - t0)
        d_steal = steal - s0
        busy_s = (d_total - (idle - i0) - d_steal) / _HZ
        own = cpu - start["cpu"]
        return {
            "wall_s": time.perf_counter() - start["t"],
            "cpu_s": own,
            "peak_rss_mb": peak_rss_mb(pids),
            "steal_frac": d_steal / d_total,
            "external_cpu_frac": max(0.0, busy_s - own) / (d_total / _HZ),
        }
