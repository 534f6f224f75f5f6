"""Measurement from outside the program: spans, host drift, process RSS,
Spark's StreamingQueryProgress and Spark's event log.

Nothing here imports the program. Per-layer numbers come from what Spark
itself records (progress JSON, event-log task metrics and SQL metrics) and
from spans the harness takes around its calls into the program.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np


def pct(values, q: float) -> float:
    """q-th percentile (0-100) by linear interpolation; 0.0 for no values."""
    vals = [float(v) for v in values]
    return float(np.percentile(vals, q)) if vals else 0.0


# ---------------------------------------------------------------- spans


class Spans:
    """In-memory spans: name, start, end (epoch seconds), parent, attrs.
    Written to disk once, when the run ends."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.items.append({"id": len(self.items), "name": name, "start": start, "end": end,
                           "parent": parent, **attrs})
        return len(self.items) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, time.time(), 0.0, self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.items[sid]["end"] = time.time()

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name)

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer (the span name up to its first '.'): summed duration of
        its spans minus the part of each covered by its direct children."""
        kids: dict[int, list[dict]] = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.items:
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f)


# ---------------------------------------------------------------- host


def cpu_probe_ms() -> float:
    """~100 ms single-threaded CPU probe (numpy rfft on fixed input). Its wall
    time tracks slow phases of the host independently of Spark."""
    x = np.linspace(0.0, 1.0, 1 << 17)
    t0 = time.perf_counter()
    for _ in range(30):
        np.fft.rfft(x)
    return (time.perf_counter() - t0) * 1000.0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def memory_limit_mb() -> int:
    """The smaller of physical memory and the cgroup limit, in MB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    limit = total_kb // 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw.isdigit():
            limit = min(limit, int(raw) // (1 << 20))
    except OSError:
        pass
    return limit


# ---------------------------------------------------------------- RSS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(raw.split(" ", 1)[0])
        ppid = int(raw.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (a forked Python worker shares
    most of its pages with the daemon it was forked from) count once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next((int(line.split()[1]) for line in f if line.startswith("Pss:")), 0)
    except (OSError, ValueError):
        return 0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of every
    descendant of `root`: the driver JVM and the Python workers it forks.
    Time the hypervisor steals from the guest is not charged to them."""
    ticks = 0
    for pid in tree_pids(root):
        if pid == root:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Samples the summed proportional set size of every descendant of a
    process (the driver JVM and the Python workers it forks) every
    `interval` seconds and keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.25) -> None:
        self.root, self.interval = root_pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in tree_pids(self.root) if p != self.root)
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- streaming


class ProgressLog:
    """A StreamingQueryListener body: keeps every query's progress JSON and
    termination, so the harness can wait for all queries a pipeline started
    (its DLQ side query too) without reaching into the pipeline."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: dict[str, str | None] = {}
        self.progress: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log.lock:
                    log.started.add(str(event.runId))

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with log.lock:
                    log.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log.lock:
                    log.terminated[str(event.runId)] = event.exception

        return _L()

    def wait_quiet(self, timeout: float = 30.0) -> None:
        """Wait until every started query has reported its termination."""
        end = time.time() + timeout
        while time.time() < end:
            with self.lock:
                if self.started <= set(self.terminated):
                    return
            time.sleep(0.01)

    def errors(self) -> list[str]:
        with self.lock:
            return [e for e in self.terminated.values() if e]


def streaming_metrics(progress: list[dict], rows_generated: int, t0: float, t1: float) -> dict:
    """Per-layer streaming/state/plans numbers from progress of batches that
    started in [t0, t1] (epoch seconds)."""
    from datetime import datetime

    def started(p) -> float:
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    ps = [p for p in progress if t0 - 0.5 <= started(p) <= t1]
    data = [p for p in ps if p.get("numInputRows", 0) > 0]
    dur = lambda p, *ks: sum(float(p["durationMs"].get(k, 0)) for k in ks)  # noqa: E731
    ops = [op for p in ps for op in p.get("stateOperators", [])]
    cm = lambda op, k: float((op.get("customMetrics") or {}).get(k, 0))  # noqa: E731
    rows_in = sum(p.get("numInputRows", 0) for p in ps)
    return {
        "streaming.queries": len({p["id"] for p in ps}),
        "streaming.batches": len(data),
        "streaming.rows_per_batch.p50": pct([p["numInputRows"] for p in data], 50),
        "streaming.trigger_ms.p50": pct([dur(p, "triggerExecution") for p in data], 50),
        "streaming.trigger_ms.p90": pct([dur(p, "triggerExecution") for p in data], 90),
        "streaming.add_batch_ms.p50": pct([dur(p, "addBatch") for p in data], 50),
        "streaming.source_ms.p50": pct([dur(p, "latestOffset", "getBatch") for p in data], 50),
        "streaming.offset_commit_ms.p50": pct([dur(p, "walCommit", "commitOffsets") for p in data], 50),
        "streaming.read_amplification": rows_in / rows_generated if rows_generated else 0.0,
        "plans.query_planning_ms.p50": pct([dur(p, "queryPlanning") for p in data], 50),
        "state.rows_total.max": max((op.get("numRowsTotal", 0) for op in ops), default=0),
        "state.memory_mb.max": max((op.get("memoryUsedBytes", 0) for op in ops), default=0) / 1e6,
        "state.commit_ms.p50": pct([op.get("commitTimeMs", 0) for op in ops], 50),
        "state.sst_mb.max": max((cm(op, "rocksdbSstFileSize") for op in ops), default=0) / 1e6,
        "state.rows_dropped_late": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }


# ---------------------------------------------------------------- event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def event_log_metrics(log_dir: str, intervals: list[tuple[float, float]], batches: int) -> dict:
    """Engine numbers from Spark's (uncompressed, non-rolling) event log, for
    jobs submitted and tasks launched inside the measured `intervals` (epoch
    seconds). `batches` > 0 turns the job count into jobs per micro-batch."""
    ms = [(a * 1000.0, b * 1000.0) for a, b in intervals]
    inside = lambda t: any(a <= t <= b for a, b in ms)  # noqa: E731
    jobs, tasks = 0, []
    py_sent = py_recv = 0.0
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and inside(ev.get("Submission Time", 0)):
                    jobs += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    if not inside(info.get("Launch Time", 0)):
                        continue
                    m = ev.get("Task Metrics") or {}
                    tasks.append((ev.get("Stage ID"), info.get("Finish Time", 0) - info.get("Launch Time", 0), m))
                    for acc in info.get("Accumulables") or []:
                        if acc.get("Name") == _PY_SENT:
                            py_sent += float(acc.get("Update", 0))
                        elif acc.get("Name") == _PY_RECV:
                            py_recv += float(acc.get("Update", 0))
    by_stage: dict = {}
    for stage, dt, _ in tasks:
        by_stage.setdefault(stage, []).append(dt)
    slowest = max(by_stage.values(), key=sum, default=[])
    med = statistics.median(slowest) if slowest else 0
    sw = lambda m: float((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))  # noqa: E731
    return {
        "spark.jobs_per_batch": jobs / batches if batches else float(jobs),
        "spark.tasks": len(tasks),
        "spark.executor_cpu_s": sum(float(m.get("Executor CPU Time", 0)) for _, _, m in tasks) / 1e9,
        "spark.gc_s": sum(float(m.get("JVM GC Time", 0)) for _, _, m in tasks) / 1e3,
        "spark.shuffle_write_mb": sum(sw(m) for _, _, m in tasks) / 1e6,
        "spark.spill_mb": sum(float(m.get("Memory Bytes Spilled", 0)) + float(m.get("Disk Bytes Spilled", 0))
                              for _, _, m in tasks) / 1e6,
        "spark.task_skew": (max(slowest) / med) if med else 0.0,
        "audio.arrow_to_python_mb": py_sent / 1e6,
        "audio.arrow_from_python_mb": py_recv / 1e6,
    }
