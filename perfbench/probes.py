"""Measurement from outside the program: process-tree CPU and RSS, host
steal, JVM counters read over py4j, the Spark status store, and spans.

Nothing here changes how the program runs; every probe reads counters
the OS, the JVM or Spark already keep.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# Process tree: this process, the driver JVM and its Python workers
# ---------------------------------------------------------------------------
def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu() -> dict[tuple[int, int], int]:
    """User + system CPU ticks of each live process in the tree, keyed by
    (pid, start time) so a reused pid is a new process."""
    out = {}
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14, 15 and 22 of /proc/pid/stat: utime stime starttime
            out[(pid, int(st[19]))] = int(st[11]) + int(st[12])
    return out


def cpu_s_between(before: dict, after: dict) -> float:
    """CPU seconds the tree spent between two ``tree_cpu`` snapshots.

    Per-process deltas, not cumulative child times: when Spark stops an
    idle Python worker daemon, its workers are re-parented outside the
    tree, and a sum of cumulative times would drop by their whole past.
    A process that ends between the snapshots loses only its own share
    of the interval."""
    return sum(v - before.get(k, 0) for k, v in after.items()) / _CLK


def rss_mb(pids: list[int]) -> dict[int, float]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE / 2**20
        except OSError:
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    background thread and keeps the peak, and which processes made it up;
    membership is refreshed every tenth sample so a worker started
    mid-window is picked up."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_parts: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, n = tree_pids(), 0
        while not self._stop.is_set():
            if n % 10 == 0:
                pids = tree_pids()
            parts = rss_mb(pids)
            total = sum(parts.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_parts = total, parts
            n += 1
            self._stop.wait(self.interval)

    def describe(self) -> str:
        """The processes behind the peak, largest first."""
        parts = sorted(self.peak_parts.items(), key=lambda kv: -kv[1])
        return ", ".join(f"{_comm(pid)} {mb:.0f}" for pid, mb in parts)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Host diagnostics: explain disagreement between runs, never normalise
# ---------------------------------------------------------------------------
def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def calibration_ms() -> float:
    """Best of three timings of a fixed pure-Python loop."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t)
    return best * 1e3


# ---------------------------------------------------------------------------
# JVM and Spark engine counters (py4j)
# ---------------------------------------------------------------------------
class Engine:
    """Cumulative counters of the driver JVM and the Spark status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._store = self.sc._jsc.sc().statusStore()

    def counters(self) -> dict[str, float]:
        """Cumulative JIT ms, GC ms, codegen compiles and an estimate of
        codegen ms (compiles x the mean of Spark's sampling reservoir)."""
        hist = self._codegen.METRIC_COMPILATION_TIME()
        gc = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        return {
            "jit_ms": float(self._mf.getCompilationMXBean().getTotalCompilationTime()),
            "gc_ms": float(gc),
            "compiles": float(hist.getCount()),
            "compile_mean_ms": float(hist.getSnapshot().getMean()),
        }

    def reset_heap_peak(self) -> None:
        for pool in self._heap_pools():
            pool.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peaks since the last reset: an upper
        bound on the peak of the whole heap."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

    def _heap_pools(self):
        heap = self.sc._jvm.java.lang.management.MemoryType.HEAP
        return [p for p in self._mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]

    def job_stage_totals(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks, shuffle-write and spill bytes of every job
        run under job group ``group`` (from the live status store)."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"), 0.0)
        out["jobs"] = float(len(jobs))
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                attempts = self._store.stageData(sid, False, None, False, None)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans ``{name, op, start, end, parent}`` recorded around
    calls into a layer; written out once, when the run ends. Recording is
    off until the runner turns it on for a timed op; off, a span costs one
    branch."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
