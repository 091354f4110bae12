"""Measurement helpers: process-tree CPU time and resident memory."""

from __future__ import annotations

import os
import resource
import statistics

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, []):
            out.append(k)
            todo.append(k)
    return out


def _proc_cpu(pid: int) -> float:
    """utime+stime of ``pid`` plus that of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return 0.0
    f = stat[stat.rindex(b")") + 2:].split()
    # fields 14-17 of proc(5): utime, stime, cutime, cstime
    return sum(int(x) for x in f[11:15]) / _TICK


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant,
    including descendants already reaped (their time sits in the parent's
    cutime/cstime).  A delta of two readings is the CPU the tree spent in
    between: driver Python, the JVM and its Python workers."""
    own = resource.getrusage(resource.RUSAGE_SELF)
    kids = resource.getrusage(resource.RUSAGE_CHILDREN)
    total = own.ru_utime + own.ru_stime + kids.ru_utime + kids.ru_stime
    return total + sum(_proc_cpu(p) for p in _descendants(os.getpid()))


def tree_rss_mb() -> float:
    """Resident set size in MiB of this process and its live descendants."""
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def driver_peak_rss_mb() -> float:
    """Peak RSS of this (driver Python) process, in MiB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def median_pass(per_op: list[list[float]]) -> float:
    """Time of one pass of a fixed op sequence, from ``per_op[j]``, the
    times op ``j`` took in each pass: each op counts at its median over the
    passes, so a slow spell that hits one op in one pass does not count."""
    return sum(statistics.median(runs) for runs in per_op)
