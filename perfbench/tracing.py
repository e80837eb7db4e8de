"""Measurement helpers for the benchmark: spans, Spark SQL metrics, memory
sampling and summary statistics.

Nothing here imports the library under test; the worker passes in the live
SparkSession where one is needed.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once at
    the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def duration(self, name: str) -> float:
        """Duration of the last finished span called `name`."""
        for rec in reversed(self.spans):
            if rec["name"] == name and rec["end"] is not None:
                return rec["end"] - rec["start"]
        raise KeyError(name)


# --------------------------------------------------------------------------
# Spark SQL metrics from the SQL status store (works with the UI disabled)
# --------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)(?:\s+(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b)?")


def parse_metric(text: str) -> tuple[float, float | None, float | None]:
    """Spark's formatted SQL metric -> (total, median, max) in bytes, seconds
    or plain counts. Multi-task metrics read
    'total (min, med, max (stageId: taskId))\\n3.2 s (616 ms, 899 ms, 988 ms
    (stage 6.0: task 29))'; single values read '2.1 MiB' or '8,000'."""
    line = text.strip().splitlines()[-1]
    vals = []
    for num, unit in _VALUE.findall(line)[:4]:
        vals.append(float(num.replace(",", "")) * _UNITS.get(unit, 1))
    if not vals:
        raise ValueError(f"unparseable SQL metric {text!r}")
    if len(vals) == 4:
        return vals[0], vals[2], vals[3]
    return vals[0], None, None


class SqlMetrics:
    """Reads per-execution SQL metrics for the executions a block of work
    started. Work runs one job at a time, so the executions created between
    two reads of the execution count belong to that block."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def mark(self) -> int:
        return int(self._store.executionsCount())

    def _executions(self, since: int, until: int | None) -> list:
        now = self.mark() if until is None else until
        if now <= since:
            return []
        return list(self._conv.asJava(self._store.executionsList(since, now - since)))

    def read(self, since: int, until: int | None = None) -> dict[str, list[tuple]]:
        """metric name -> [(total, median, max), ...] over every plan node of
        every execution started between the marks `since` and `until`
        (default: now)."""
        out: dict[str, list[tuple]] = {}
        for ex in self._executions(since, until):
            values = self._conv.asJava(self._store.executionMetrics(ex.executionId()))
            for m in self._conv.asJava(ex.metrics()):
                text = values.get(m.accumulatorId())
                if text is not None:
                    out.setdefault(m.name(), []).append(parse_metric(text))
        return out

    def last_end(self, since: int, metric: str) -> float | None:
        """Completion time (epoch seconds) of the last finished execution
        since the mark whose plan reports `metric`."""
        end = None
        for ex in self._executions(since, None):
            done = ex.completionTime()
            if done.isDefined() and any(
                    m.name() == metric for m in self._conv.asJava(ex.metrics())):
                end = done.get().getTime() / 1000.0
        return end


def metric_total(metrics: dict[str, list[tuple]], name: str) -> float:
    return sum(v[0] for v in metrics.get(name, ()))


# Spark's display names for the numbers the layers report
SCAN_TIME = "scan time"
SCAN_BYTES = "size of files read"
SHUFFLE_BYTES = "shuffle bytes written"
SHUFFLE_READ_BYTES = "local bytes read"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


# --------------------------------------------------------------------------
# memory: peak resident set of a process's descendants
# --------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants_rss_bytes(root: int) -> dict[str, int]:
    """Resident memory of the driver JVM (a "java" child of `root`) and of
    the Python processes below it, summed by command name. Each process
    counts its proportional share (PSS), so pages shared between the pyspark
    daemon and its forked workers count once. Other descendants are skipped:
    the JVM forks short-lived helpers (chmod) that share all of its pages
    until they exec, and a sample taken across that exec would count the
    JVM's memory twice."""
    total: dict[str, int] = {}
    todo = [(pid, True) for pid in _children(root)]
    while todo:
        pid, top = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            counted = comm.startswith("python") or (top and comm == "java")
            rss = _pss_bytes(pid) if counted else 0
        except (FileNotFoundError, ProcessLookupError):
            continue
        if counted:
            total[comm] = total.get(comm, 0) + rss
            total[f"n_{comm}"] = total.get(f"n_{comm}", 0) + 1
        todo.extend((child, False) for child in _children(pid))
    return total


class RssSampler:
    """Samples descendants_rss_bytes(os.getpid()) on a thread while active.
    `take()` returns the peak since the previous `take()`, so each operation
    gets its own peak; `peak` is the largest over the whole time."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_by_comm: dict[str, int] = {}
        self._since = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        by_comm = descendants_rss_bytes(os.getpid())
        rss = sum(v for k, v in by_comm.items() if not k.startswith("n_"))
        with self._lock:
            self._since = max(self._since, rss)
            if rss > self.peak:
                self.peak, self.peak_by_comm = rss, by_comm

    def take(self) -> int:
        self._sample()
        with self._lock:
            peak, self._since = self._since, 0
        return peak

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def summarize(samples: list[float]) -> dict:
    """Median plus the highest percentile that has at least ten samples
    beyond it, each with the sample count it rests on."""
    n = len(samples)
    out = {"n": n, "median": statistics.median(samples) if n else None,
           "p": None, "p_value": None, "n_beyond_p": 0}
    for p in _PERCENTILES:
        beyond = int(n * (100.0 - p) / 100.0)
        if beyond >= 10:
            cuts = statistics.quantiles(samples, n=1000, method="inclusive")
            out.update(p=p, p_value=cuts[int(p * 10) - 1], n_beyond_p=beyond)
            break
    return out
