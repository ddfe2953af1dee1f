"""Host-side counters read from /proc and from the JVM's MX beans.

Process-tree CPU walks every descendant of this interpreter: the JVM
that py4j launched, the ``pyspark.daemon`` processes the JVM forks, and
the Python workers each daemon forks in turn.  A process's ``cutime``
holds the CPU of children it has already reaped, so summing
``utime+stime+cutime+cstime`` over the live tree counts a worker once,
whether it is still running or has exited and been waited for.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

TICK = float(os.sysconf("SC_CLK_TCK"))


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    return raw[lp + 1:rp], raw[rp + 2:].split()


@dataclass(frozen=True)
class TreeCpu:
    """CPU-seconds of one snapshot of the process tree, split by role."""
    driver: float   # this interpreter: query build, py4j calls
    jvm: float      # the JVM's own threads: planning, tasks, GC, JIT
    workers: float  # pyspark.daemon and its forked Python workers

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __sub__(self, o: "TreeCpu") -> "TreeCpu":
        return TreeCpu(self.driver - o.driver, self.jvm - o.jvm,
                       self.workers - o.workers)


def _procs() -> tuple[dict, dict]:
    """(pid -> (comm, stat fields), ppid -> child pids) for every process."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(int(st[1][1]), []).append(int(name))
    return stats, children


def descendants(root: int | None = None) -> list[int]:
    _, children = _procs()
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    """True unless the process is gone or a zombie nobody reaped yet."""
    st = _stat(pid)
    return st is not None and st[1][0] != "Z"


def tree_cpu(root: int | None = None) -> TreeCpu:
    root = os.getpid() if root is None else root
    stats, children = _procs()

    def own(pid):
        f = stats[pid][1]
        return (int(f[11]) + int(f[12])) / TICK

    def reaped(pid):
        f = stats[pid][1]
        return (int(f[13]) + int(f[14])) / TICK

    def subtree(pid):
        return own(pid) + reaped(pid) + sum(subtree(c)
                                            for c in children.get(pid, ()))

    driver = own(root) + reaped(root)
    jvm = workers = 0.0
    for c in children.get(root, ()):
        if stats[c][0] != "java":
            driver += subtree(c)
            continue
        # shell helpers the JVM forks count as JVM time, daemons as workers
        jvm += own(c) + reaped(c)
        for g in children.get(c, ()):
            if stats[g][0].startswith("python"):
                workers += subtree(g)
            else:
                jvm += subtree(g)
    return TreeCpu(driver, jvm, workers)


def java_child(root: int | None = None) -> int | None:
    stats, children = _procs()
    return next((c for c in children.get(os.getpid() if root is None
                                         else root, ())
                 if stats[c][0] == "java"), None)


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def steal_s() -> float:
    """Host-wide CPU stolen by the hypervisor since boot, in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


def process_start_epoch() -> float:
    """Wall-clock instant this interpreter was exec'd."""
    import time

    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - int(_stat(os.getpid())[1][19]) / TICK
    return time.time() - age


class JvmBeans:
    """GC, JIT and heap counters of the driver JVM through py4j."""

    def __init__(self, spark):
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(max(b.getCollectionTime(), 0)
                   for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed()
                   for p in self._mf.getMemoryPoolMXBeans()
                   if str(p.getType()) == "Heap memory") / 2**20
