"""Process-tree accounting from /proc: CPU-seconds and resident memory of
this process and every descendant (the Spark JVM it launched and the
``pyspark.daemon`` Python workers the JVM forks), and the memory the
driver JVM retains, from its own management interface.

CPU of a child that has exited and been reaped is kept by its parent's
``cutime``/``cstime``, so a delta taken across an operation counts every
process that ran during it, including Python workers that came and went.
"""

from __future__ import annotations

import gc
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
CLEANER_PAUSE_S = 0.5


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may contain spaces: split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _cpu_s(st: list[str]) -> float:
    # fields 14-17 (1-based) utime stime cutime cstime; st starts at field 3
    return sum(int(x) for x in st[11:15]) / _TICK


def tree_cpu_s(python_workers_only: bool = False) -> float:
    """CPU-seconds used so far by the process tree (or, with
    ``python_workers_only``, by its ``pyspark.daemon`` processes only)."""
    total = 0.0
    for pid in tree_pids():
        if python_workers_only and "pyspark.daemon" not in _cmdline(pid):
            continue
        st = _stat(pid)
        if st is not None:
            total += _cpu_s(st)
    return total


def _mem_kb(pid: int) -> tuple[int, bool]:
    """``(kB, is_jvm)``: ``Pss`` of a process, so pages the forked Python
    workers share with their daemon count once.  The JVM shares no pages
    with the rest of the tree and walking its page tables for ``Pss`` takes
    tens of milliseconds, so it counts by ``VmRSS``."""
    jvm = False
    try:
        with open(f"/proc/{pid}/comm") as f:
            jvm = f.read().strip() == "java"
        path, key = (f"/proc/{pid}/status", "VmRSS:") if jvm else (f"/proc/{pid}/smaps_rollup", "Pss:")
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]), jvm
    except OSError:
        pass
    return 0, jvm


def tree_mem_mb() -> dict[str, float]:
    """Memory of the live process tree now, in MiB, split into the JVM and
    the Python processes (see :func:`_mem_kb`)."""
    parts = {"jvm": 0.0, "python": 0.0}
    for pid in tree_pids():
        kb, jvm = _mem_kb(pid)
        parts["jvm" if jvm else "python"] += kb / 1024.0
    return parts


def jvm_retained_mb(spark) -> float:
    """Memory the driver JVM retains, in MiB: heap in use right after a full
    collection, plus non-heap in use (metaspace, code cache).  The JVM's
    resident size follows the collector's decisions to grow the heap, which
    it takes from how long its pauses run, so it moves with the load on the
    host; what survives a full collection is what the program holds."""
    jvm = spark.sparkContext._jvm
    # Python first, so that JVM objects only unreachable Python proxies
    # held are released; then a pause between two full collections, in
    # which Spark's context cleaner drops the cached blocks, broadcasts
    # and shuffles whose owners the first one found unreachable
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(CLEANER_PAUSE_S)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


class RssSampler:
    """Peak of the total of :func:`tree_mem_mb` over the time between
    :meth:`start` and :meth:`stop`, sampled every ``period`` seconds from a
    daemon thread, and its split at that instant; and, on its own, the peak
    of the Python processes' part.  A peak is that of the whole tree at one
    instant, so Python workers that exit before the end still count while
    they live."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self.peak_python_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        parts = tree_mem_mb()
        self.peak_python_mb = max(self.peak_python_mb, parts["python"])
        if sum(parts.values()) > self.peak_mb:
            self.peak_mb, self.peak_parts = sum(parts.values()), parts

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.period):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_mb
