"""Measurement helpers: spans, Spark job counts, process-tree memory and
percentiles. Nothing here touches the engine; spans wrap the benchmark's
own calls into each layer's public functions."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """In-memory spans: name, start, end, parent and request id.

    Disabled, ``span`` costs one attribute test, so the same workload code
    serves the untraced and the traced loop."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._request = 0

    @contextmanager
    def span(self, name: str, request: bool = False):
        if not self.enabled:
            yield
            return
        if request:
            self._request += 1
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self._request,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """Per span name: total duration and self time (duration minus
        the part of it the span's children cover)."""
        children: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            )
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class JobCounter:
    """Spark jobs, stages and tasks launched inside a block, read from
    the status tracker through a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0
        self.totals = {"jobs": 0, "stages": 0, "tasks": 0, "blocks": 0}

    @contextmanager
    def group(self):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._collect(gid)

    def _collect(self, gid: str) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        self.totals["jobs"] += len(jobs)
        self.totals["stages"] += len(stages)
        self.totals["tasks"] += tasks
        self.totals["blocks"] += 1

    def per_block(self) -> dict:
        n = max(1, self.totals["blocks"])
        return {k: self.totals[k] / n for k in ("jobs", "stages", "tasks")}


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``, read from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        state, ppid = stat[stat.rindex(")") + 2 :].split()[:2]
        if state != "Z":
            parent[int(name)] = int(ppid)
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        found = kids.get(todo.pop(), [])
        out.extend(found)
        todo.extend(found)
    return out


def _proc_bytes(pid: int) -> int:
    """Resident bytes of one Python process. Python workers forked by the
    pyspark daemon share the daemon's pages, so for them this is the
    proportional set size (each shared page divided among the processes
    mapping it); other processes count their RSS. The JVM counts 0: its
    resident size follows the collector's heap sizing, so it is read from
    the JVM's own memory pools instead (``JvmPools``)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                return 0
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            forked = b"pyspark.daemon" in f.read()
        if forked:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:  # the process exited between listing and reading
        return 0


def tree_mem_bytes(root_pid: int) -> int:
    """Summed resident bytes of ``root_pid`` and all its Python
    descendants (this process and the JVM's Python workers)."""
    return sum(_proc_bytes(pid) for pid in [root_pid, *descendants(root_pid)])


class MemSampler:
    """Background sampler of the Python processes' summed resident memory."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), tree_mem_bytes(pid)))
            self._stop.wait(self.interval_s)

    def peak_since(self, t0: float) -> int:
        return max((b for t, b in list(self.samples) if t >= t0), default=0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class JvmPools:
    """Memory of the driver JVM, read through the py4j gateway: the peak
    used bytes of its non-heap pools (metaspace, code cache), and the
    heap still in use after a full collection. The heap's own peak is
    not used: it follows when the collector ran, not what the engine
    keeps."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.bean = mf.getMemoryMXBean()
        self.non_heap = [p for p in mf.getMemoryPoolMXBeans()
                         if p.getType().toString() == "Non-heap memory"]

    def reset(self) -> None:
        for p in self.non_heap:
            p.resetPeakUsage()

    def measure(self) -> dict:
        """Non-heap peak since ``reset`` and live heap after a full GC."""
        self.bean.gc()
        return {
            "non_heap_peak": sum(p.getPeakUsage().getUsed() for p in self.non_heap),
            "heap_live": self.bean.getHeapMemoryUsage().getUsed(),
        }


def latency_summary(samples: list[float]) -> dict:
    """Median, p90 and the highest percentile with at least ten samples
    beyond it (absent below 11 samples), with the sample count."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs), "p90": _quantile(xs, 0.9)}
    if n >= 11:
        q = (n - 10) / n
        out["tail_pct"] = round(100 * q, 1)
        out["tail"] = xs[n - 11]
    return out


def _quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile of sorted ``xs``."""
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
