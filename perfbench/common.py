"""Shared pieces of the benchmark: statistics, tracing, process memory,
engine import and session start."""

from __future__ import annotations

import math
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager

PACKAGE = "dataflow_pubsub_message_encryption_spark"

#: percentiles a tail may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: samples that must lie beyond a reported percentile
TAIL_MIN_BEYOND = 10


# --- statistics ------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``TAIL_MIN_BEYOND`` of ``n``
    samples strictly beyond its nearest rank, or None when even the
    median has fewer than that beyond it."""
    best = None
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= TAIL_MIN_BEYOND:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median plus the tail the sample count supports (the maximum, marked
    ``tail_p=None``, when there are too few samples for any percentile)."""
    p = tail_percentile(len(values))
    return {
        "n": len(values),
        "median": statistics.median(values),
        "tail_p": p,
        "tail": percentile(values, p) if p is not None else max(values),
    }


# --- tracing ---------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id).

    Spans nest by call order on one thread; ``self_times`` subtracts the
    time covered by a span's children. A disabled tracer records nothing
    and costs one branch per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, under: str | None = None) -> list[float]:
        """Durations of the spans called ``name``; with ``under``, only
        those directly inside a span of that name."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name
                and (under is None or (s["parent"] is not None
                                       and self.spans[s["parent"]]["name"] == under))]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus child durations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = max(0.0, s["end"] - s["start"] - child[i])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "self_time_s": self.self_times()}, fh)


# --- process memory --------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from ``/proc/*/stat``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


#: a collection in a ``-Xlog:gc:<file>:uptime`` log: uptime, heap used
#: before and after, heap size
_GC_LINE = re.compile(r"^\[([0-9.]+)s\].* (\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)")
_MB = {"K": 1.0 / 1024.0, "M": 1.0, "G": 1024.0}


def live_heap_mb(gc_log: str, since_s: float) -> tuple[float, int]:
    """(largest heap use left after a collection, number of collections)
    over the collections the JVM logged from uptime ``since_s`` on."""
    peak, n = 0.0, 0
    with open(gc_log) as fh:
        for line in fh:
            m = _GC_LINE.match(line)
            if m and float(m.group(1)) >= since_s:
                peak = max(peak, int(m.group(4)) * _MB[m.group(5)])
                n += 1
    return peak, n


def reset_peaks(spark, jvm_pid: int) -> float:
    """Restart the VmHWM of the JVM and of the Python workers below it
    (``clear_refs``, value 5); return the JVM's uptime, from which
    ``peak_memory`` reads the collector's log."""
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            pass
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getRuntimeMXBean().getUptime() / 1000.0


def peak_memory(spark, jvm_pid: int, gc_log: str, since_s: float) -> dict:
    """Peak memory of the Spark JVM and its Python workers since
    ``reset_peaks``, in MB. ``total_mb`` sums three parts:

    - the live heap: the most heap any collection left in use (with no
      collection, the heap in use at the end);
    - the JVM's peak resident memory outside the heap: its VmHWM less
      the committed heap, which is pre-touched and so resident in full;
    - the VmHWM of every Python worker below the JVM.

    Heap between collections is left out: the collector lets garbage
    fill whatever heap it was given, so that figure measures the heap
    size the benchmark set, not memory the engine holds."""
    live, n_gc = live_heap_mb(gc_log, since_s)
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    committed = heap.getCommitted() / (1024.0 * 1024.0)
    if n_gc == 0:  # no collection since the reset: the heap in use now
        live = heap.getUsed() / (1024.0 * 1024.0)
    off_heap = _status_kb(jvm_pid, "VmHWM") / 1024.0 - committed
    workers = [p for p in descendants(jvm_pid) if p != jvm_pid]
    workers_mb = sum(_status_kb(p, "VmHWM") for p in workers) / 1024.0
    return {"total_mb": live + off_heap + workers_mb, "live_heap_mb": live,
            "collections": n_gc, "heap_committed_mb": committed,
            "jvm_off_heap_mb": off_heap, "workers": len(workers), "workers_mb": workers_mb}


# --- engine ----------------------------------------------------------------


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def import_engine(root: str):
    """Import the engine package from the checkout at ``root``. Python
    workers started by Spark inherit PYTHONPATH, so they import it too."""
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        raise SystemExit(f"engine package {PACKAGE!r} not found under {root}")
    if root not in sys.path:
        sys.path.insert(0, root)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return __import__(PACKAGE)


def start_session(app: str, cpus: int, driver_mem: str, local_dir: str):
    """``session.get_session`` with the driver heap and scratch directory
    sized for this host. Returns (spark, JVM pid)."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    from dataflow_pubsub_message_encryption_spark.session import get_session

    spark = get_session(app, cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return spark, pid
