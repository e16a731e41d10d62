"""Process-tree CPU time and peak memory, read from ``/proc``.

A PySpark run is three kinds of process: the driver Python process, the
JVM it launches, and the Python worker daemons the JVM forks for pandas
UDFs. All of them descend from the driver, so the tree rooted at the
driver's pid covers the whole engine. ``psutil`` is not available, so the
tree is read straight from ``/proc/<pid>/stat``.

CPU time of a process that has exited is not lost: once its parent reaps
it, the kernel adds it to the parent's ``cutime``/``cstime``. Summing
``utime + stime + cutime + cstime`` over the live tree therefore counts
every process that ever ran under the root, each exactly once.

Memory of the Python processes is the proportional set size (PSS): a
page shared by several processes counts a share in each, so the sum over
them is the memory they hold. Summing RSS instead counts the pages of the
Python workers forked from one daemon several times.

Memory of the JVM is what the program in it holds, read from the JVM
(``JvmMemory``): what Spark's memory manager has granted, for cached
blocks, broadcasts and execution buffers, and the non-heap memory in use.
The JVM's resident size is not used for it, because it follows the
garbage collector, not the program: the heap grows when collections take
long relative to run time, so the same query work left 1.3 to 2.4 GB
resident in the JVM in eight runs while Spark held under 140 MB and
non-heap memory stayed near 215 MB. Heap in use after a collection does
not serve either: garbage promoted to the old generation stays in it
until a marking cycle, so it read 0.1 or 2 GB for the same crawl. The
JVM's resident size is still reported, as ``jvm_pss_peak``.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple | None:
    """(ppid, cpu_ticks, command name) of one process, or None if it is
    gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    end = raw.rindex(b")")
    fields = raw[end + 2:].split()
    ppid = int(fields[1])
    ticks = int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
    return ppid, ticks, raw[raw.index(b"(") + 1:end].decode()


def _tree(root: int) -> dict:
    """{pid: (ppid, cpu_ticks, name)} for ``root`` and its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children = {}
    for pid, (ppid, *_) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process's tree, reaped children
    included."""
    tree = _tree(os.getpid())
    return sum(t for _, t, _ in tree.values()) / _CLK_TCK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes() -> int:
    return sum(_pss_bytes(pid) for pid in _tree(os.getpid()))


class JvmMemory:
    """What the program running in a JVM holds: the memory Spark's memory
    manager has granted (cached blocks and broadcasts; execution buffers
    of sorts, aggregations and shuffles) and the JVM's non-heap memory in
    use (loaded and generated classes, compiled code). ``jvm`` is a py4j
    JVM view, ``pid`` the JVM's process id."""

    PARTS = ("storage", "execution", "non_heap")

    def __init__(self, jvm, pid: int):
        self.pid = pid
        self._bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self._spark = jvm.org.apache.spark.SparkEnv.get().memoryManager()

    def sample(self) -> tuple:
        """Bytes in use now, in the order of ``PARTS``."""
        return (self._spark.storageMemoryUsed(),
                self._spark.executionMemoryUsed(),
                self._bean.getNonHeapMemoryUsage().getUsed())


class PeakMemory:
    """Samples memory on a background thread, as a context manager around
    the region measured. Every ``interval`` seconds it reads the PSS of
    each process of the tree; ``pss_peak`` is the largest total. A JVM
    given as ``jvm`` (a ``JvmMemory``) is left out of that total: it is
    read every ``jvm_interval`` seconds instead, since cached blocks and
    buffers come and go within a second. ``jvm_parts`` holds the largest
    value of each of its parts and ``jvm_peak`` their sum: whether two
    parts peak in the same sample is a matter of timing, their separate
    peaks are not. ``peak`` = ``pss_peak`` + ``jvm_peak``.
    ``jvm_pss_peak`` is the JVM's largest resident size, reported
    alongside."""

    def __init__(self, interval: float = 1.0, jvm: JvmMemory | None = None,
                 jvm_interval: float = 0.1):
        self.interval = interval
        self.jvm = jvm
        self.jvm_interval = jvm_interval
        self.pss_peak = self.jvm_pss_peak = 0
        self.jvm_parts = dict.fromkeys(JvmMemory.PARTS, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def jvm_peak(self) -> int:
        return sum(self.jvm_parts.values())

    @property
    def peak(self) -> int:
        return self.pss_peak + self.jvm_peak

    def _sample_tree(self):
        total = 0
        for pid in _tree(os.getpid()):
            size = _pss_bytes(pid)
            if self.jvm is not None and pid == self.jvm.pid:
                self.jvm_pss_peak = max(self.jvm_pss_peak, size)
            else:
                total += size
        self.pss_peak = max(self.pss_peak, total)

    def _sample_jvm(self):
        for name, b in zip(JvmMemory.PARTS, self.jvm.sample()):
            self.jvm_parts[name] = max(self.jvm_parts[name], b)

    def _sample(self):
        self._sample_tree()
        if self.jvm is not None:
            self._sample_jvm()

    def _loop(self):
        step = self.jvm_interval if self.jvm is not None else self.interval
        next_tree = time.monotonic() + self.interval
        while not self._stop.wait(step):
            if self.jvm is not None:
                self._sample_jvm()
            if time.monotonic() >= next_tree:
                self._sample_tree()
                next_tree += self.interval

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False
