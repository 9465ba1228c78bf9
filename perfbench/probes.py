"""Process-tree probes over ``/proc``: memory, CPU, host steal, JVM GC.

The engine runs in three kinds of process: this Python process (the
client, the Flight server threads and the PySpark driver), the Spark JVM
it launches, and the Python workers the JVM forks for Arrow/pandas
kernels.  Memory and CPU are read for the whole tree, so work the engine
moves between them still shows.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (one scan of /proc)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> float:
    """High-water mark of the process's resident set (VmHWM), MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (OSError, ValueError):
        pass
    return 0.0


def cpu_s(pid: int, with_reaped_children: bool = False) -> float:
    """User+system CPU seconds of ``pid`` (plus its reaped children)."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields[11..14] = utime stime cutime cstime (stat fields 14..17)
    n = 4 if with_reaped_children else 2
    return sum(int(x) for x in fields[11 : 11 + n]) / _TICK


class ProcessTree:
    """The benchmark process, its Spark JVM and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.self_pid = os.getpid()
        self.jvm_pid = jvm_pid
        self.workers: list[int] = []
        self.refresh()

    def refresh(self) -> None:
        self.workers = [
            p for p in descendants(self.jvm_pid) if _comm(p).startswith("python")
        ]

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far: driver (this process), JVM, Python workers.

        Workers are counted with their reaped children, so a forked worker
        that exits between two readings still lands in its daemon's total.
        """
        self.refresh()
        return {
            "cpu_driver": cpu_s(self.self_pid),
            "cpu_jvm": cpu_s(self.jvm_pid),
            "cpu_pyworker": sum(cpu_s(p, with_reaped_children=True) for p in self.workers),
        }


class MemorySampler:
    """Background thread: peak resident memory of every process in the tree.

    Each process's own high-water mark (VmHWM) is read, so a peak between
    two readings is not missed.  Worker processes are rediscovered every
    ``interval`` seconds.  ``peak_total_mb`` is the largest sum, over one
    reading, of the high-water marks of the processes alive at that
    reading: an upper bound of the tree's simultaneous peak that does not
    depend on sampling phase, and that does not grow with the number of
    short-lived workers the run happens to fork and reap.
    """

    def __init__(self, tree: ProcessTree, interval: float = 0.5):
        self.tree = tree
        self.interval = interval
        self.peak_total_mb = 0.0
        self.peak_jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="mem-sampler", daemon=True)

    def sample(self) -> None:
        t = self.tree
        jvm = peak_rss_mb(t.jvm_pid)
        live = jvm + sum(peak_rss_mb(pid) for pid in (t.self_pid, *t.workers))
        self.peak_total_mb = max(self.peak_total_mb, live)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.tree.refresh()
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already included in user/nice
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def jvm_gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector, ms."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))
