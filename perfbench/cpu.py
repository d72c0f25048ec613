"""CPU time spent by the engine's processes.

An operation's CPU time is the time the engine's threads ran on a CPU
while it was in flight: the Spark JVM (every thread, the JIT compiler
threads left out), the Python workers it forks, and this process. The
kernel counts it per thread, in nanoseconds for the JVM and this
process and in clock ticks for the workers. With paravirtual steal
accounting (``CONFIG_PARAVIRT_TIME_ACCOUNTING``) the time the
hypervisor gives to other guests is not counted, and neither is time
spent waiting for a CPU. So it stretches far less than wall time when
neighbours on a shared host are busy (figures in perfbench/README.md).
"""

from __future__ import annotations

import os
import time

_TICK_NS = 1_000_000_000 // os.sysconf("SC_CLK_TCK")
# Thread-name prefixes of the JVM's JIT compiler threads, as the kernel
# truncates them.
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _process_clock(pid: int) -> int:
    """The kernel's CPU clock id for process ``pid``."""
    return (~pid << 3) | 2


def _read(path: str) -> str:
    with open(path, encoding="ascii", errors="replace") as fh:
        return fh.read()


class CpuClock:
    """Total CPU nanoseconds of the JVM whose pid is ``jvm_pid``, its
    descendant processes and this process."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.compilers = [
            int(tid)
            for tid in os.listdir(f"/proc/{jvm_pid}/task")
            if _read(f"/proc/{jvm_pid}/task/{tid}/comm").strip().startswith(_COMPILER_THREADS)
        ]
        self.ns()  # fails here, not mid-run, where the clocks are unreadable

    def _descendants_ticks(self) -> int:
        """utime + stime + reaped children's time of every live
        descendant of the JVM. A worker that exits is reaped by its
        parent, which is itself a descendant, so no time is lost."""
        parent_of = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                stat = _read(f"/proc/{name}/stat")
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            parent_of[int(name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
        ticks = 0
        for pid, (ppid, t) in parent_of.items():
            p = ppid
            while p and p != self.jvm and p in parent_of:
                p = parent_of[p][0]
            if p == self.jvm:
                ticks += t
        return ticks

    def ns(self) -> int:
        jvm = time.clock_gettime_ns(_process_clock(self.jvm))
        jit = sum(int(_read(f"/proc/{self.jvm}/task/{t}/schedstat").split()[0]) for t in self.compilers)
        return jvm - jit + self._descendants_ticks() * _TICK_NS + time.process_time_ns()
