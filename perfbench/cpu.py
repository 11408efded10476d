"""CPU time of this process and every process below it (the driver JVM,
PySpark's daemon and its Python workers), read from ``/proc``.

Time a process spent waiting for a CPU the host gave to another guest
(steal) is not charged to it, so this is the work the program did, not how
long the host let it wait.  The JVM's JIT compiler threads are counted
apart: what they do falls with the age of the process, not with the work.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
# thread names as /proc shows them (15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _stat_ticks(path: str, n: int) -> int:
    """Sum of the first ``n`` of utime, stime, cutime, cstime."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # utime is field 14 of stat(5); fields[0] here is field 3 (state)
    return sum(int(x) for x in fields[11:11 + n])


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        if name.startswith(_JIT_THREADS):
            total += _stat_ticks(f"/proc/{pid}/task/{tid}/stat", 2)
    return total


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """(CPU seconds, of which JIT compiler threads) of ``root`` (default:
    this process) and its live descendants, plus what they have reaped.
    User plus system time."""
    todo, total, jit = [root or os.getpid()], 0, 0
    while todo:
        pid = todo.pop()
        total += _stat_ticks(f"/proc/{pid}/stat", 4)
        jit += _jit_ticks(pid)
        todo += _children(pid)
    return total / _TICK, jit / _TICK


class CpuClock:
    """CPU seconds the program spends between ``start`` and ``stop``, JIT
    compilation left out."""

    def start(self) -> None:
        self._t0 = tree_cpu_s()

    def stop(self) -> float:
        t, j = tree_cpu_s()
        self.all_s = t - self._t0[0]
        self.jit_s = j - self._t0[1]
        return self.all_s - self.jit_s
