"""Per-layer measurement from outside the engine.

Nothing here patches or wraps engine code. A traced run brackets each of
its own calls into the engine with spans, and reads Spark's in-process
status stores after every call:

* the core store (``SparkContext.statusStore``) for jobs, stages and the
  task metrics summed per stage: run time, CPU time, GC, shuffle, spill,
  input and output;
* the SQL store (``SharedState.statusStore``) for plan-node metrics of the
  Python/Arrow operators;
* a ``StreamingQueryListener`` for micro-batch progress.

Attribution is by id window, not by job group: job, stage and execution
ids are handed out in order, one client issues calls in series, so every
id created between two calls belongs to the call between them. Streaming
micro-batch jobs run under the stream's own job group, which a group
filter would miss. The stores keep about 1000 entries, so they are read
after every call.
"""

from __future__ import annotations

import contextlib
import re
import threading
import time
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# Counters read from each stage's StageData, summed per call.
STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "outputRecords",
)

# Plan-node metrics of the Python/Arrow operators, by their SQL-UI name.
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"(-?[\d.]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '1.2 s', '345 ms', '3.0 KiB', or
    the multi-task form 'total (min, med, max ...)\\n4.5 s (...)'. Time
    comes back in ms and size in bytes."""
    m = _VALUE.search(text.rsplit("\n", 1)[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class Spans:
    """In-memory spans: name, start, end, parent and call id, in ms since
    the run began. Written out once, when the run ends."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, call: str | None = None):
        sid = len(self.rows)
        row = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "call": call,
            "start_ms": (time.perf_counter() - self.t0) * 1e3,
        }
        self.rows.append(row)
        self._stack.append(sid)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end_ms"] = (time.perf_counter() - self.t0) * 1e3


class NoSpans:
    """Stand-in for Spans in an untraced run."""

    rows: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, call: str | None = None):
        yield None


class ProgressListener(StreamingQueryListener):
    """Micro-batch progress of every streaming query in the session."""

    def __init__(self):
        self.rows: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        with self._lock:
            self.rows.append({
                "epoch_ms": ts.timestamp() * 1e3,
                "batch": p.batchId,
                "input_rows": p.numInputRows,
                "duration_ms": p.batchDuration,
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def between(self, lo_ms: float, hi_ms: float) -> list[dict]:
        """Batches that started between the two epoch times."""
        with self._lock:
            return [r for r in self.rows if lo_ms <= r["epoch_ms"] <= hi_ms]


class StatusProbe:
    """Reads the counters of one call from Spark's status stores."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)

    def _last_execution_id(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def mark(self) -> tuple[int, int, int]:
        return (self._dag.nextJobId(), self._dag.nextStageId(), self._last_execution_id())

    def read(self, mark: tuple[int, int, int], start_epoch_ms: float, end_epoch_ms: float) -> dict:
        """Counters of everything the call between ``mark`` and now ran."""
        job0, stage0, exec0 = mark
        out = {f: 0 for f in STAGE_FIELDS}
        out.update({k: 0.0 for k in PYTHON_METRICS.values()})
        out["jobs"] = self._dag.nextJobId() - job0
        out["stages"] = 0
        intervals = []
        for sid in range(stage0, self._dag.nextStageId()):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            out["stages"] += 1
            for f in STAGE_FIELDS:
                out[f] += getattr(s, f)()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        out["stage_cover_ms"] = _union_ms(intervals, start_epoch_ms, end_epoch_ms)
        self._read_python(exec0, out)
        self._bus.waitUntilEmpty(10_000)  # deliver pending streaming progress
        batches = self.listener.between(start_epoch_ms, end_epoch_ms)
        out["stream_batches"] = len(batches)
        out["stream_input_rows"] = sum(b["input_rows"] for b in batches)
        out["stream_batch_ms"] = [b["duration_ms"] for b in batches]
        return out

    def _read_python(self, exec0: int, out: dict) -> None:
        execs = self._sql.executionsList()
        i = execs.size() - 1
        while i >= 0:
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= exec0:
                break
            i -= 1
            nodes = self._sql.planGraph(eid).allNodes()
            values = None
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if "Python" not in name and "Pandas" not in name and "Arrow" not in name:
                    continue
                if values is None:
                    values = self._sql.executionMetrics(eid)
                ms = node.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    key = PYTHON_METRICS.get(m.name())
                    v = values.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        out[key] += parse_metric(v.get())


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of the intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
