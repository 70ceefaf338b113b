"""Spans and Spark counters for the benchmark.

A span is (name, start, end, parent, op id).  Spans are kept in memory and
written out once at exit, so tracing adds no I/O inside a timed op.
Functions are traced by replacing a module attribute with a wrapper that
opens a span around the call — the program itself is not edited.

Spark counters are read from the driver's schedulers, which number jobs
and stages consecutively: a sequential program launches exactly the jobs
between two readings of the counter.  Task CPU and shuffle bytes come from
the application status store, per stage, so they also cover the RDD-level
stages of ``localCheckpoint`` subtrees that SQL execution metrics miss.
"""

from __future__ import annotations

import contextlib
import functools
import gc
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None  # id of the enclosing span
    op: int
    jobs: int = 0
    stage_lo: int = 0
    stage_hi: int = 0


def _self(spans: list[Span], value) -> dict[str, float]:
    """Sum ``value(span)`` per span name, each span minus its direct
    children.  ``spans`` is any subset of a tracer's spans that holds every
    child of each span in it (e.g. all spans of some ops)."""
    index = {s.id: s for s in spans}
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent in index:
            child[s.parent] += value(s)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + value(s) - child[s.id]
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, each span minus the spans directly under it."""
    return _self(spans, lambda s: s.end - s.start)


def self_jobs(spans: list[Span]) -> dict[str, int]:
    """Jobs per span name, each span minus the spans directly under it."""
    return {k: int(v) for k, v in _self(spans, lambda s: s.jobs).items()}


class Counters:
    """Reads of the DAG scheduler's job and stage counters."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        gw = spark.sparkContext._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def jobs(self) -> int:
        return self._dag.numTotalJobs()

    def stages(self) -> int:
        return self._dag.nextStageId()

    def stage_work(self, lo: int, hi: int) -> tuple[float, int]:
        """(task CPU seconds, shuffle bytes written) of stages [lo, hi)."""
        from py4j.protocol import Py4JJavaError

        store = self._sc.statusStore()
        cpu_ns, shuffle = 0, 0
        for sid in range(lo, hi):
            try:
                attempts = store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles
                )
            except Py4JJavaError:  # skipped stages are never recorded
                continue
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                cpu_ns += st.executorCpuTime()
                shuffle += st.shuffleWriteBytes()
        return cpu_ns / 1e9, shuffle


@dataclass
class Tracer:
    """Records spans of the wrapped functions.  Without ``detail`` only
    the few spans the end-to-end metrics need are recorded."""

    counters: Counters
    detail: bool = False
    spans: list[Span] = field(default_factory=list)
    op: int = 0
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        c = self.counters
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, 0.0, parent, self.op, c.jobs())
        s.stage_lo = c.stages()
        self.spans.append(s)
        self._stack.append(s.id)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.jobs, s.stage_hi = c.jobs() - s.jobs, c.stages()

    def wrap(self, module, attr: str, name: str, always: bool = False) -> None:
        """Trace calls of ``module.attr`` as span ``name``: every call if
        ``always``, else only while ``detail`` is on."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not (always or self.detail):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def settle(spark) -> None:
    """A full collection on both sides of the Py4J bridge, so one op's
    garbage is not charged to the next."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
