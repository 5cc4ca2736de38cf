"""Order statistics and CPU accounting shared by the workloads."""

from __future__ import annotations

import math
import os

_TICKS = os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 <= q <= 100)."""
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(values: list[float]) -> float:
    """The tail statistic: the 90th percentile. (The highest percentile
    with ten samples above it would move with the sample count, so a
    faster program, completing more operations, would be measured at a
    higher percentile.)"""
    return percentile(values, 90)


#: Name prefixes of the JVM's JIT compiler threads.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1:text.rindex(")")], \
        text.rsplit(")", 1)[1].split()


def tree_cpu_s(root: int | None = None) -> float:
    """Core-seconds used so far by process ``root`` (default: this one)
    and every process below it (the Spark JVM, its Python workers), not
    counting the JVM's JIT compiler threads: user plus system time of
    each live process, plus what its reaped children used, minus what the
    compiler threads used.

    Unlike wall time, this leaves out time spent waiting for a core, and
    the kernel leaves out time the host took from the virtual CPUs, so a
    busy machine barely moves it. The compiler threads are left out
    because a run ends long before the JIT settles: they use up to half
    of the cores for minutes, by amounts that differ from run to run, and
    a long-running program pays that once, not per operation. (The
    benchmark starts the JVM with a fixed set of compiler threads, so
    none exits and takes its time out of the subtraction.)"""
    root = root or os.getpid()
    parent, used = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            # after the command name: state, ppid, ..., then utime,
            # stime, cutime, cstime at 12-15 (fields 14-17 of proc(5))
            _, fields = _stat(f"/proc/{name}/stat")
        except OSError:  # the process exited while we listed /proc
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0) - _jit_ticks(pid)
        todo.extend(children.get(pid, ()))
    return total / _TICKS


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if comm.startswith(JIT_THREADS):
            total += int(fields[11]) + int(fields[12])
    return total

