"""Measurement helpers: timers, /proc readers, Spark job counts.

Everything here observes the engine from outside: wall clocks around
public calls, ``/proc`` for memory and host contention, and Spark's
``statusTracker()`` for job counts. Nothing here changes engine state.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from bench import _host_delta, _host_stat  # the repo's /proc/stat contention figures


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs: list[float]) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


class Ops:
    """Closed-loop op ledger: every op is timed, counted, and a raised
    exception is recorded as a failed op instead of ending the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, list[float]] = {}
        self.errors: list[str] = []

    def run(self, kind: str, fn, *args, **kwargs):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as e:  # a failed op is a result, not a crash
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:400])
            return None
        self.walls.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def fail(self, kind: str, why: str) -> None:
        """Record an op that returned but was wrong."""
        self.failed += 1
        self.errors.append(f"{kind}: {why}")


def noop_write(df) -> None:
    """Materialise a DataFrame completely without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


class JobCounter:
    """Spark jobs run under a job group, read back from statusTracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, counts: list[int]):
        self._n += 1
        gid = f"perfbench-{os.getpid()}-{self._n}"
        self.sc.setJobGroup(gid, "perfbench op")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            counts.append(self.jobs_in_group(gid))

    def jobs_in_group(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))


# ------------------------------------------------------------------ /proc


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        s = _read(f"/proc/{d}/stat")
        if s:
            out[int(d)] = int(s[s.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    s = _read(f"/proc/{pid}/status") or ""
    for line in s.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks(pid: int) -> int:
    """utime+stime of a process plus its reaped children."""
    s = _read(f"/proc/{pid}/stat")
    if not s:
        return 0
    f = s[s.rindex(")") + 2:].split()
    return sum(int(x) for x in f[11:15])


class ProcWatch:
    """Peak RSS of the JVM and of the Python workers (the JVM's python
    descendants) and the JVM's peak live heap, sampled after every op so
    a worker that exits mid-run still counts; plus host contention over a
    window. The live heap is the heap pools' usage right after their
    latest collection, read from the JVM's ``MemoryPoolMXBean``s."""

    def __init__(self, jvm_pid: int, spark):
        self.jvm_pid = jvm_pid
        self.worker_peak = 0.0
        self.heap_live_peak = 0.0
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._heap_pools = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def sample(self) -> None:
        for pid in descendants(self.jvm_pid):
            if "python" in (_read(f"/proc/{pid}/cmdline") or ""):
                self.worker_peak = max(self.worker_peak, vm_hwm_mb(pid))
        # heap in use right after the latest collection: the live set
        usages = [p.getCollectionUsage() for p in self._heap_pools]
        live = sum(u.getUsed() for u in usages if u is not None) / 2**20
        self.heap_live_peak = max(self.heap_live_peak, live)

    def jvm_peak(self) -> float:
        return vm_hwm_mb(self.jvm_pid)

    def own_ticks(self) -> int:
        pids = [os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)]
        return sum(cpu_ticks(p) for p in pids)

    def window_start(self) -> tuple[dict, int, float]:
        return _host_stat(), self.own_ticks(), time.monotonic()

    def window_end(self, start) -> dict:
        """steal share and busy cores not accounted to this run's own
        process tree (driver, JVM, Python workers)."""
        h0, own0, _ = start
        h1 = _host_stat()
        delta = _host_delta(h0, h1)
        dt = h1["total"] - h0["total"]
        if dt <= 0:
            return {"steal_frac": 0.0, "foreign_busy_cores": 0.0}
        # dt counts jiffies summed over all cpus: per-cpu wall = dt / ncpu
        own_cores = (self.own_ticks() - own0) / (dt / (os.cpu_count() or 1))
        return {
            "steal_frac": delta["steal_frac"],
            "foreign_busy_cores": max(0.0, delta["busy_cores"] - own_cores),
        }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total
