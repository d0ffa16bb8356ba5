"""Outside-in measurement: spans, Spark job counts, CPU, memory, host noise.

Everything here observes the engine through public surfaces only:
``SparkContext.setJobGroup`` + ``statusTracker()`` for job, stage and
task counts, ``time.process_time()`` for driver Python CPU,
``/proc/<jvm pid>/stat`` for JVM CPU, ``/proc/<pid>/status`` for peak
resident memory, ``/proc/stat`` and ``/proc/loadavg`` for host noise, and
a walk of a table root for bytes and files. No engine code is patched.
"""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import time
from contextlib import contextmanager

#: percentiles ``tail_percentile`` chooses from, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (the inclusive method of
    ``statistics.quantiles``); 0.0 for no samples."""
    if not samples:
        return 0.0
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile of ``TAIL_LADDER`` with at least ten samples
    beyond it, as ``(p, value)``; ``None`` below 20 samples."""
    best = None
    for p in TAIL_LADDER:
        if len(samples) * (100.0 - p) / 100.0 >= 10:
            best = (p, percentile(samples, p))
    return best


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


# ---------------------------------------------------------------------------
# process and host readings
# ---------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    return (int(fields[11]) + int(fields[12])) / ticks


def proc_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def self_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def host_cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate ``/proc/stat`` line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tree_bytes(root: str) -> dict[str, int]:
    """``{path: bytes}`` of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


# ---------------------------------------------------------------------------
# spans and Spark counters
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans plus per-span Spark job counts.

    ``span(name)`` records (name, start, end, parent, op id) and, while
    enabled, tags the Spark jobs it launches with a job group of its own
    so their jobs, stages and tasks can be counted afterwards. Disabled,
    ``span`` costs two clock reads and records nothing.
    """

    def __init__(self, spark, jvm: int):
        self.spark = spark
        self.enabled = False
        self.jvm = jvm
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        group = f"lb-{idx}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        cpu0 = time.process_time()
        jvm0 = proc_cpu_s(self.jvm)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["driver_cpu_ms"] = (time.process_time() - cpu0) * 1000.0
            rec["jvm_cpu_ms"] = (proc_cpu_s(self.jvm) - jvm0) * 1000.0
            self._stack.pop()
            self._count_jobs(rec, group)
            parent = self._stack[-1] if self._stack else None
            if parent is not None:
                sc.setJobGroup(f"lb-{parent}", self.spans[parent]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def _count_jobs(self, rec: dict, group: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si is not None else 0
        rec["jobs"], rec["stages"], rec["tasks"] = len(jobs), stages, tasks

    def self_times(self) -> None:
        """Set ``self_ms`` on every span: its duration minus the part of
        its interval covered by its children (children of one parent run
        one after another, so their durations add up)."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            s["ms"] = (s["end"] - s["start"]) * 1000.0
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += s["ms"]
        for i, s in enumerate(self.spans):
            s["self_ms"] = s["ms"] - child_ms[i]

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (once, at exit)."""
        self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
