"""Spans and Spark stage counters for the traced run.

A span is recorded around each call into a layer of ``go_jsonschema_spark``
from the benchmark's own code.  While a span is open, the Spark job
description is ``bench:<workload>:<span>#<index>``, so every stage the call
runs can be attributed to it afterwards from the application status store
(which works with ``spark.ui.enabled=false``).  Spans stay in memory until
:meth:`Tracer.stage_counters` and :meth:`Tracer.self_times` read them at the
end of the run.
"""

from __future__ import annotations

import cProfile
import pstats
import time
from contextlib import contextmanager
from dataclasses import dataclass

# StageData getter -> counter name; times are converted to seconds
_COUNTERS = {
    "inputRecords": "input_rows",
    "shuffleWriteRecords": "shuffle_records",
    "shuffleWriteBytes": "shuffle_bytes",
    "executorCpuTime": "exec_cpu_s",  # nanoseconds
    "jvmGcTime": "gc_s",  # milliseconds
    "memoryBytesSpilled": "spill_bytes",
    "peakExecutionMemory": "peak_exec_mem_mb",  # bytes
}
_SCALE = {"exec_cpu_s": 1e-9, "gc_s": 1e-3, "peak_exec_mem_mb": 1 / 2**20}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    desc: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, workload: str) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        desc = f"bench:{self.workload}:{name}#{idx}"
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, desc))
        self._stack.append(idx)
        self.sc.setJobDescription(desc)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                self.spans[self._stack[-1]].desc if self._stack else None)

    def add(self, name: str, start: float, end: float, parent: Span) -> None:
        """Record a span measured elsewhere (no stages attributed)."""
        self.spans.append(Span(name, start, end, self.spans.index(parent),
                               f"bench:{self.workload}:{name}#-"))

    def self_time(self, span: Span) -> float:
        """Duration minus the time covered by child spans (children of one
        span run one after another, so their durations add up)."""
        idx = self.spans.index(span)
        return span.duration - sum(
            s.duration for s in self.spans if s.parent == idx)

    def self_times(self, name: str) -> list[float]:
        return [self.self_time(s) for s in self.spans if s.name == name]

    def stage_counters(self) -> dict[str, dict[str, float]]:
        """Span description -> summed counters of the completed stages whose
        jobs ran while that span was innermost."""
        gw = self.sc._gateway
        stages = self.sc._jsc.sc().statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None)
        out: dict[str, dict[str, float]] = {}
        it = stages.iterator()
        while it.hasNext():
            st = it.next()
            desc = st.description()
            if str(st.status()) != "COMPLETE" or not desc.isDefined():
                continue
            acc = out.setdefault(desc.get(), dict.fromkeys(_COUNTERS.values(),
                                                           0.0))
            for getter, name in _COUNTERS.items():
                value = float(getattr(st, getter)()) * _SCALE.get(name, 1.0)
                if name == "peak_exec_mem_mb":
                    acc[name] = max(acc[name], value)
                else:
                    acc[name] += value
        return out


def py4j_calls(fn) -> int:
    """Run ``fn()`` under cProfile and count its py4j round trips."""
    prof = cProfile.Profile()
    prof.enable()
    try:
        fn()
    finally:
        prof.disable()
    stats = pstats.Stats(prof).stats  # type: ignore[attr-defined]
    return max(
        (nc for (path, _line, func), (_cc, nc, *_rest) in stats.items()
         if func == "send_command" and "py4j" in path),
        default=0,
    )
