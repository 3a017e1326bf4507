"""Spans around the benchmark's calls into the package.

A span records a name, its parent span and its start and end times. When
job tagging is on, the span also sets the Spark job group to its name, so
every job, stage and task Spark runs inside it carries the span's name in
the event log. Spans stay in memory; the caller summarizes them.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

OUTSIDE = "outside"  # job group for work between spans (warm-up, checks)
OP_SPAN = "op"  # the span around one operation of a workload


@dataclass
class Span:
    name: str
    parent: int | None  # index of the parent span in Tracer.spans
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None):
        """`sc`: a SparkContext to tag jobs with span names, or None."""
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._set_group(OUTSIDE)

    def _set_group(self, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self._set_group(name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].name if self._stack else OUTSIDE)

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def mean(self, name: str) -> float:
        d = self.durations(name)
        return sum(d) / len(d) if d else 0.0

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def names_within(self, op_name: str) -> set[str]:
        """Names of the spans that run inside a span named `op_name`."""
        names = set()
        for sp in self.spans:
            p = sp.parent
            while p is not None and self.spans[p].name != op_name:
                p = self.spans[p].parent
            if p is not None:
                names.add(sp.name)
        return names


class EventLogCapture:
    """Spark's own EventLoggingListener, attached to a running session.

    `spark.eventLog.enabled` is read once, when the SparkContext starts.
    Attaching the listener at run time instead lets one session run
    untraced and traced phases back to back, so that the tracing overhead
    is measured in the same warm JVM. The log is plain JSON lines:
    `spark.eventLog.compress=false`, `spark.eventLog.rolling.enabled=false`.
    """

    def __init__(self, sc, log_dir: str):
        self._jsc = sc._jsc.sc()
        jvm = sc._jvm
        conf = (
            self._jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._jsc.applicationId(),
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + log_dir),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._jsc.addSparkListener(self._listener)

    def stop(self) -> None:
        """Deliver every event already posted, then detach and close."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()
