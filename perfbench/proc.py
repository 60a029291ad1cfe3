"""Process-tree readings from ``/proc``: descendants, CPU time (with
the JVM's JIT and GC threads apart) and peak resident memory of the
benchmark process and everything it started (the Spark JVM, its Python
workers, ``git`` subprocesses)."""

from __future__ import annotations

import os
import time
from typing import NamedTuple

TICK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
                    out.extend(kids)
                    todo.extend(kids)
        except OSError:
            continue  # the process ended while we looked
    return out


# the JVM's own runtime threads, by the kernel's 15-character thread
# name: the JIT compilers and code-cache sweeper, and the garbage
# collector with the VM thread that runs its pauses
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
GC_THREADS = ("GC Thread#", "G1 ", "VM Thread")


class Cpu(NamedTuple):
    """CPU seconds a process tree spent between two readings: all of
    it, and the parts its JVM's JIT compiler and garbage collector
    threads spent."""

    total: float
    jit: float
    gc: float

    @property
    def no_gc(self) -> float:
        """All but the garbage collector's share: the program's threads
        in the JVM, Python and ``git``, and the JIT compiling them.
        When the collector runs depends on how full earlier phases left
        the heap, so its share swings from phase to phase."""
        return self.total - self.gc


class Reading(NamedTuple):
    """CPU ticks of a process tree at one moment, with those of each
    live JVM runtime thread by thread id. Subtract two readings to get
    the ``Cpu`` spent between them. A runtime thread is counted from
    the first reading it is in (HotSpot starts and retires compiler
    threads as its queue grows and shrinks); one that ends in between
    leaves its share since the earlier reading in the untyped rest of
    ``total``."""

    ticks: int
    runtime: dict  # thread id -> (kind, ticks)

    def __sub__(self, before: "Reading") -> Cpu:
        spent = {"jit": 0, "gc": 0}
        for tid, (kind, ticks) in self.runtime.items():
            spent[kind] += ticks - before.runtime.get(tid, (kind, 0))[1]
        return Cpu((self.ticks - before.ticks) / TICK,
                   spent["jit"] / TICK, spent["gc"] / TICK)


def _stat(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def cpu(pid: int | None = None) -> Reading:
    """CPU ticks of ``pid`` and its live descendants, including children
    they have already reaped. Time the host's other tenants take from
    this VM (steal) is not in it."""
    pid = pid or os.getpid()
    ticks = 0
    runtime: dict[int, tuple[str, int]] = {}
    for p in [pid, *descendants(pid)]:
        try:
            # utime, stime, cutime, cstime are the 12th-15th fields
            name, fields = _stat(f"/proc/{p}/stat")
            ticks += sum(int(f) for f in fields[11:15])
            if name != "java":
                continue
            for task in os.listdir(f"/proc/{p}/task"):
                name, fields = _stat(f"/proc/{p}/task/{task}/stat")
                kind = ("jit" if name.startswith(JIT_THREADS) else
                        "gc" if name.startswith(GC_THREADS) else None)
                if kind:
                    runtime[int(task)] = (kind, int(fields[11]) + int(fields[12]))
        except (OSError, IndexError, ValueError):
            continue  # the process or thread ended while we looked
    return Reading(ticks, runtime)


def settle(limit_s: float = 10.0, window_s: float = 0.25, busy: float = 0.1) -> None:
    """Wait, at most ``limit_s``, until the process tree uses less than
    ``busy`` of one core over ``window_s``. The JVM keeps compiling and
    collecting for seconds after a phase has returned; a phase timed
    from a quiet tree is not billed for the one before it."""
    deadline = time.monotonic() + limit_s
    prev = cpu()
    while time.monotonic() < deadline:
        time.sleep(window_s)
        cur = cpu()
        if (cur - prev).total < busy * window_s:
            return
        prev = cur


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of the kernel's resident-memory high-water marks (VmHWM) of
    ``pid`` and its live descendants. Reading it costs nothing while the
    workload runs."""
    pid = pid or os.getpid()
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as fh:
                total_kb += next(int(ln.split()[1]) for ln in fh
                                 if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024
