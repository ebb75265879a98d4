"""CPU time of the benchmark's process tree: this process (the Python
driver), the Spark JVM it starts, and the JVM's Python workers.

The kernel charges a task only for the time it ran: time a guest's vCPU
waited while the host ran other guests (steal) is accounted apart, so on
a shared host CPU seconds move much less with the neighbours' load than
wall seconds do.

The JVM's JIT compiler threads are left out. They compile in the
background for minutes after start-up, so their share of an operation
depends on how long the JVM has run, not on the operation; a change to
the engine that makes its code cheaper to run still shows, as the
threads that run it (tasks, scheduler, GC) spend less. The session keeps
those threads alive (``-XX:-UseDynamicNumberOfCompilerThreads``), so
their counters never vanish between two readings.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_JIT = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15 chars


def _fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields from 3 on) of a ``stat`` file under /proc."""
    try:
        with open(path) as fh:
            s = fh.read()
    except OSError:  # the process or thread ended while the table was read
        return None
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        st = _fields(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and st[0] in _JIT:
            total += int(st[1][11]) + int(st[1][12])  # utime, stime
    return total


def snapshot() -> dict:
    """CPU ticks so far per process of the tree (its own and those of the
    children it has reaped), and per JVM of its JIT compiler threads."""
    parent, info = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _fields(f"/proc/{pid}/stat")
            if st is not None:
                comm, f = st
                parent[int(pid)] = int(f[1])
                # fields 14-17: utime, stime, cutime, cstime
                info[int(pid)] = (comm, sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    snap: dict = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in info:
            comm, ticks = info[pid]
            snap[pid] = ticks
            if comm == "java":
                snap[("jit", pid)] = _jit_ticks(pid)
        todo += children.get(pid, [])
    return snap


def cpu_s(before: dict, after: dict) -> float:
    """CPU seconds the tree spent between two snapshots, without JIT
    compilation. A process that ended in between (a Python worker the JVM
    retired) drops out with its share of the interval."""
    total = 0
    for key, ticks in after.items():
        d = ticks - before.get(key, 0)
        total += -max(0, d) if isinstance(key, tuple) else max(0, d)
    return total / _TICK

