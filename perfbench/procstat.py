"""Stdlib ``/proc`` readers: host CPU steal and process-tree CPU time.

``steal_s()`` reads the aggregate ``cpu`` line of ``/proc/stat``; its
8th value is the time the hypervisor ran other guests while this box
wanted a CPU, summed over all CPUs.  ``tree_cpu_s(pid)`` sums
``utime + stime + cutime + cstime`` over ``pid`` and every live
descendant (for this benchmark: the main Python process, the JVM it
launched and the JVM's Python workers), and separately the share of
it spent in the JVM's JIT compiler threads.  A child that exits moves its
time into its parent's ``cutime`` once reaped, so a before/after
difference counts it exactly once.  Neither figure includes steal: a
starved process accrues no CPU time.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, utime+stime+cutime+cstime seconds) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15]) / _HZ


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid`` (not including it)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _jit_s(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of ``pid`` (HotSpot names
    them ``C1 CompilerThre…`` and ``C2 CompilerThre…``)."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2 :].split()
        total += (int(rest[11]) + int(rest[12])) / _HZ
    return total


def tree_cpu_s(pid: int | None = None) -> tuple[float, float]:
    """(CPU seconds of ``pid`` and its live descendants, the part of it
    spent in JIT compiler threads).  The JIT part is exact only while
    compiler threads never exit, i.e. under
    ``-XX:-UseDynamicNumberOfCompilerThreads``."""
    pid = pid or os.getpid()
    total = jit = 0.0
    for p in [pid, *descendants(pid)]:
        st = _stat(p)
        if st is not None:
            total += st[1]
            jit += _jit_s(p)
    return total, jit
