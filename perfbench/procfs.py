"""Readings of a process tree from Linux ``/proc``: which processes descend
from a root, their CPU time and their proportional resident memory.

The workload's tree is the Python driver, the JVM it launches and the
Python workers the JVM forks; none of them is waited on by the benchmark,
so ``getrusage`` cannot see them.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, by pid."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
    return out


def tree(root: int, min_age_s: float = 0.0, stats: dict | None = None) -> list[int]:
    """``root`` and its descendants, leaving out processes younger than
    ``min_age_s``."""
    stats = _stats() if stats is None else stats
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in stats and now - int(stats[p][19]) / _TICK >= min_age_s:
            out.append(p)
        todo.extend(children.get(p, []))
    return out


def _jit_ns(pid: int) -> int:
    """CPU nanoseconds of the JVM's JIT compiler threads in ``pid`` (0 for
    a process that has none), from each thread's ``schedstat``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                total += int(f.read().split()[0])
        except (OSError, ValueError, IndexError):
            continue
    return total


def _process_cpu_ns(pid: int) -> int | None:
    """CPU nanoseconds of every thread ``pid`` has run, exited ones
    included, read from the kernel's CPU clock of that process (clock id
    ``(~pid << 3) | 2``, CPUCLOCK_SCHED). ``/proc/<pid>/stat`` counts in
    10 ms ticks per field, which moved a 0.3 s scan reading by up to 12%.
    None once the process has exited."""
    try:
        return time.clock_gettime_ns((~pid << 3) | 2)
    except OSError:
        return None


def cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root``, its live
    descendants and the descendants they have already waited for, minus
    the JVM's JIT compiler threads. Time the hypervisor gives to other
    guests (steal) is not in it. The JIT is left out because it is the
    JVM warming up, not the engine's work: over a 28 s run its threads
    used 55% of the JVM's CPU, most of it in the first windows."""
    stats = _stats()
    ns = 0
    for p in tree(root, stats=stats):
        own = _process_cpu_ns(p)
        if own is None:
            continue
        waited = int(stats[p][13]) + int(stats[p][14])  # cutime, cstime (ticks)
        ns += own + waited * 10**9 // _TICK - _jit_ns(p)
    return ns / 1e9


def pss_kb(pid: int) -> int:
    """Proportional resident set (``Pss``) of one process: a page shared
    by n processes counts 1/n to each, so a tree's sum counts it once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
