"""Spans around every call the benchmark makes into a layer of the library.

A span records its name, start, end, parent and the op it belongs to. With
tracing on, each span also runs its Spark work under a job group of its own;
when the span ends, the group's jobs are read from ``statusTracker()`` and
their stages from the JVM status store (``AppStatusStore.stageData``), which
gives executor run and CPU time, GC time, shuffle, spill and input bytes.
Both stores are filled with ``spark.ui.enabled=false``.

Spans are kept in memory and written out once, at the end of the run. With
tracing off, :meth:`Tracer.span` does nothing but yield.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

COUNTERS = ("executor_cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "input_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: int = 0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._n_ops = 0
        self._first = 0  # spans before this index ran in set-up

    def start_window(self) -> None:
        """Aggregates from here on cover the timed window only; set-up
        spans are still written out."""
        self._first = len(self.spans)

    @contextlib.contextmanager
    def op(self, kind: str):
        """Root span of one timed op; every span inside it carries its id."""
        if not self.enabled:
            yield
            return
        self._op = self._n_ops
        self._n_ops += 1
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        span = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, op=self._op)
        self.spans.append(span)
        self._stack.append(idx)
        group = f"perfbench-{idx}"
        sc.setJobGroup(group, name)
        span.start = time.perf_counter()
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"perfbench-{self._stack[-1]}", self.spans[self._stack[-1]].name)
            else:
                sc._jsc.clearJobGroup()
            self._read_counters(span, group)

    def _read_counters(self, span: Span, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # job-end events reach the status store through the async listener bus
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        span.jobs = len(job_ids)
        totals = dict.fromkeys(COUNTERS, 0.0)
        store = jsc.statusStore()
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                for d in _stage_attempts(store, stage_id):
                    totals["executor_cpu_ms"] += d.executorCpuTime() / 1e6
                    totals["gc_ms"] += d.jvmGcTime()
                    totals["shuffle_bytes"] += d.shuffleReadBytes() + d.shuffleWriteBytes()
                    totals["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                    totals["input_bytes"] += d.inputBytes()
        span.counters = totals

    # -- aggregation ------------------------------------------------------

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_ms(self, idx: int) -> float:
        """Duration minus the part covered by child spans (children of one
        span run one after another on the driver thread)."""
        return self.spans[idx].ms - sum(self.spans[c].ms for c in self.children(idx))

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children(i))
        return out

    def named(self, name: str) -> list[int]:
        """Timed-window spans called ``name``."""
        return [i for i in range(self._first, len(self.spans)) if self.spans[i].name == name]

    def jobs(self, name: str) -> int:
        return sum(self.spans[j].jobs for i in self.named(name) for j in self.subtree(i))

    def counter(self, name: str, key: str) -> float:
        return sum(self.spans[j].counters.get(key, 0.0) for i in self.named(name) for j in self.subtree(i))

    def glue_share(self) -> float:
        """Share of op wall time not covered by any layer span: the
        benchmark's own glue plus tracing cost."""
        roots = [
            i for i in range(self._first, len(self.spans)) if self.spans[i].parent is None and self.spans[i].name.startswith("op.")
        ]
        wall = sum(self.spans[i].ms for i in roots)
        return sum(self.self_ms(i) for i in roots) / wall if wall else 0.0

    def dump(self, path: str) -> None:
        rows = [dict(asdict(s), self_ms=self.self_ms(i)) for i, s in enumerate(self.spans)]
        with open(path, "w") as fh:
            json.dump(rows, fh)


def _stage_attempts(store, stage_id: int):
    from py4j.protocol import Py4JJavaError

    try:
        # stageData(stageId, details, taskStatus, withSummaries, unsortedQuantiles)
        seq = store.stageData(stage_id, False, None, False, None)
    except Py4JJavaError:  # stage already evicted from the status store
        return []
    return [seq.apply(i) for i in range(seq.size())]
