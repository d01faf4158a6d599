"""Process-tree CPU accounting from /proc (Linux)."""

from __future__ import annotations

import os
import time


def _stat_fields(path: str) -> list[str]:
    """Fields of a ``stat`` file after the parenthesised command name."""
    with open(path) as f:
        st = f.read()
    return st[st.rindex(")") + 2:].split()


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in clock ticks)."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            rest = _stat_fields(f"/proc/{pid}/stat")
        except OSError:
            continue
        procs[int(pid)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return procs


def descendants(root_pid: int, procs=None) -> set[int]:
    procs = _proc_table() if procs is None else procs
    mine = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return mine - {root_pid}


def _jit_ticks(pid: int) -> int:
    """utime+stime of the JIT compiler threads of process ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read()
            if name.startswith(JIT_THREADS):
                rest = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                ticks += int(rest[11]) + int(rest[12])
        except OSError:
            continue
    return ticks


# HotSpot's compiler threads ("C2 CompilerThread0", cut to 15 characters);
# the run keeps their number fixed (-XX:-UseDynamicNumberOfCompilerThreads)
# so none exits and takes its CPU time out of view
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(jit: bool = False) -> float:
    """CPU seconds used so far by this process, its live descendants and
    the children they have reaped: the JVM and its Python workers along
    with this interpreter. Unless ``jit``, the time of the JVM's JIT
    compiler threads is left out: compilation is the JVM warming up, not
    the work of a pass, and its amount swings from run to run."""
    procs = _proc_table()
    mine = descendants(os.getpid(), procs) | {os.getpid()}
    ticks = sum(
        procs[p][1] - (0 if jit else _jit_ticks(p)) for p in mine if p in procs
    )
    return ticks / os.sysconf("SC_CLK_TCK")


def _busy_s() -> float:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return (sum(vals[:3]) + sum(vals[5:8])) / os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """CPU that other processes on the box used while we ran (the foreign
    load that tells a slow run from a slow program)."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.busy0 = _busy_s()
        self.own0 = tree_cpu_s(jit=True)

    def foreign_busy_cores(self) -> float:
        wall = max(time.monotonic() - self.t0, 1e-9)
        own = tree_cpu_s(jit=True) - self.own0
        return max(_busy_s() - self.busy0 - own, 0.0) / wall

