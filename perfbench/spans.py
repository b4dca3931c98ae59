"""Benchmark-side tracing: in-memory spans plus Spark-side counters.

Spans are recorded around the benchmark's own calls into each engine
layer (session start, query build, planning, execution, store upsert)
and, from a ``StreamingQueryListener``, for each micro-batch phase.
Nothing is written until :meth:`Tracer.dump` at the end of the run.
With tracing off every hook is a no-op.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: progress.durationMs keys reported as ``streaming.<metric>``.
STREAM_PHASES = {
    "triggerExecution": "trigger_s",
    "latestOffset": "latest_offset_s",
    "queryPlanning": "query_planning_s",
    "walCommit": "wal_commit_s",
    "addBatch": "add_batch_s",
}


class Tracer:
    """Collects spans ``{id, parent, op, name, start, end}`` in memory.

    Times are ``time.perf_counter()`` seconds relative to the tracer's
    creation.  ``op`` is the index of the timed op the span belongs to
    (``None`` during set-up).
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._t0 = time.perf_counter()
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @property
    def current(self) -> int | None:
        """Id of the innermost open span on the benchmark thread."""
        return self._stack[-1] if self._stack else None

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            op: int | None = None) -> int:
        """Record a finished span; returns its id."""
        with self._lock:
            span_id = len(self.spans)
            self.spans.append({"id": span_id, "parent": parent, "op": op,
                               "name": name, "start": start, "end": end})
        return span_id

    @contextmanager
    def span(self, name: str):
        """Time the enclosed block as a child of the innermost open span."""
        if not self.enabled:
            yield
            return
        span_id = self.add(name, self.now(), float("nan"), self.current, self.op)
        self._stack.append(span_id)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[span_id]["end"] = self.now()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"clock": "perf_counter seconds from tracer start",
                       "spans": self.spans}, fh)


class ProgressListener(StreamingQueryListener):
    """Keeps every ``QueryProgressEvent``'s input rows and phase times."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress.append({"batch": p.batchId, "rows": p.numInputRows,
                                  "duration_ms": dict(p.durationMs)})

    def onQueryTerminated(self, event) -> None:
        pass

    def data_batches(self) -> list[dict]:
        with self._lock:
            return sorted((p for p in self.progress if p["rows"] > 0),
                          key=lambda p: p["batch"])


class SparkCounters:
    """Per-op readings from the JVM: shuffle and spill bytes of the op's
    jobs, GC time, and the count of persisted RDDs."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._gc_beans = list(self._sc._jvm.java.lang.management.ManagementFactory
                              .getGarbageCollectorMXBeans())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def persisted_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())

    def tag(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def stage_bytes(self, group: str) -> tuple[int, int]:
        """(shuffle bytes written, bytes spilled) by the jobs of ``group``."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc._jsc.statusTracker()
        store = self._jsc.statusStore()
        shuffle = spill = 0
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for stage in info.stageIds():
                try:
                    data = store.lastStageAttempt(stage)
                except Py4JJavaError:  # stage already dropped from the status store
                    continue
                shuffle += int(data.shuffleWriteBytes())
                spill += int(data.memoryBytesSpilled()) + int(data.diskBytesSpilled())
        return shuffle, spill
