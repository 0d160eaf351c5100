"""Wall time, CPU time and machine steal over a stretch of work.

CPU time is that of this process and every process below it (the JVM and
any Python workers it starts), read in nanoseconds from each process's
CPU clock. Time the hypervisor gives to other guests (steal) is charged
to no process, and neither is time spent waiting for a CPU. Other guests
still slow the code down while it runs, by sharing the host's cores and
caches with it, and by about as much as they take in steal: on the 4-vCPU
virtual machine the benchmark was built on, the CPU time of a round of
dashboard requests rose from 1.0 s at no steal to 1.46 s at half of the
busy time stolen, while its wall time rose 2.5-fold. ``Sample.adj_cpu_s``
divides the CPU time by one plus the steal share over the stretch, which
held that round's cost within 6 % from no steal to half stolen.

The JVM's JIT compiler threads are counted apart (``jit_s``): they compile
in the background for minutes after launch, so their share of a stretch
depends on how long the JVM has run, not on the work in the stretch.
``jvm.start_session`` keeps the compiler threads alive for the JVM's whole
life, so their CPU time is never lost with an exited thread.
"""

from __future__ import annotations

import os
import time

_COMPILER_THREAD = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            text = f.read()
    except OSError:  # the process or thread ended while it was read
        return None
    # fields after the parenthesised command name, which may hold spaces
    return text[text.rindex(")") + 2 :].split()


def _process_cpu_s(pid: int) -> float:
    """CPU seconds of all threads of ``pid``, live and exited, from the
    process's CPU clock (clock id as glibc's ``clock_getcpuclockid`` makes it)."""
    try:
        return time.clock_gettime((~pid << 3) | 2)
    except OSError:  # the process ended
        return 0.0


def tree_cpu_s() -> float:
    """CPU seconds of this process and of every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(f"/proc/{name}/stat")
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))  # f[1]: parent
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += _process_cpu_s(pid)
        todo += children.get(pid, [])
    return total


_compiler_tids: dict[int, list[int]] = {}


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads so far."""
    tids = _compiler_tids.get(jvm_pid)
    if tids is None:
        tids = []
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if f.read().startswith(_COMPILER_THREAD):
                    tids.append(int(tid))
        _compiler_tids[jvm_pid] = tids
    total = 0
    for tid in tids:
        with open(f"/proc/{jvm_pid}/task/{tid}/schedstat") as f:
            total += int(f.read().split()[0])  # nanoseconds on a CPU
    return total / 1e9


def _machine_ticks() -> tuple[int, int]:
    """(steal, busy) ticks of the whole machine; busy is all but idle and iowait."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v) - v[3] - v[4]


class Sample:
    """One stretch: wall seconds, CPU seconds of the process tree without
    the JIT compiler, CPU seconds of the JIT compiler, and the share of the
    machine's busy time that went to other guests."""

    __slots__ = ("wall_s", "cpu_s", "jit_s", "steal_share")

    def __init__(self, wall_s: float, cpu_s: float, jit_s: float, steal_share: float) -> None:
        self.wall_s = wall_s
        self.cpu_s = cpu_s
        self.jit_s = jit_s
        self.steal_share = steal_share

    @property
    def adj_cpu_s(self) -> float:
        """CPU seconds with the slow-down other guests cause taken out."""
        return self.cpu_s / (1.0 + self.steal_share)

    def as_dict(self) -> dict[str, float]:
        return {k: getattr(self, k) for k in self.__slots__}


class Probe:
    """Started on creation; ``stop()`` returns the stretch as a Sample.
    ``jvm_pid`` is the JVM whose compiler threads are counted apart; it
    must not change during the stretch."""

    def __init__(self, jvm_pid: int) -> None:
        self._jvm = jvm_pid
        self._steal, self._busy = _machine_ticks()
        self._jit = jit_cpu_s(jvm_pid)
        self._cpu = tree_cpu_s()
        self._t = time.perf_counter()

    def stop(self) -> Sample:
        wall = time.perf_counter() - self._t
        cpu = tree_cpu_s() - self._cpu
        jit = jit_cpu_s(self._jvm) - self._jit
        steal, busy = _machine_ticks()
        return Sample(wall, cpu - jit, jit, (steal - self._steal) / max(1, busy - self._busy))
