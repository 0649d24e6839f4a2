"""What every workload shares: the run record, the timed window and the
end-to-end metrics computed from it.

A workload is a module with a ``Workload(run)`` class: ``prepare_inputs(seed)``
generates its inputs before anything is timed, ``setup()`` builds the
fixtures from a wiped warehouse and warms up, and ``timed()`` runs
:meth:`Run.units` whole units of ops back to back, each under :meth:`Run.op`
with its output checked under :meth:`Run.checking`, and leaves its own
per-layer figures in ``run.layer``.
"""

from __future__ import annotations

import contextlib
import math
import statistics
import time
from dataclasses import dataclass, field

import hostproc
import spans
from spans import Tracer

END_TO_END_UNITS = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "op_p50_ms": "ms",
    "write_p50_ms": "ms",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}


@dataclass
class OpRecord:
    kind: str
    start_s: float  # seconds into the timed window
    wall_s: float
    units: int  # work units completed; 0 for a write
    ok: bool


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    run_dir: str
    # set-up: process start (input generation excluded) to the first timed
    # op; the workload reports how much of it went to fixtures and warm-up
    setup_s: float = 0.0
    session_start_s: float = 0.0
    fixture_s: float = 0.0
    warmup_s: float = 0.0
    ops: list[OpRecord] = field(default_factory=list)
    warmup_ops: list[OpRecord] = field(default_factory=list)  # set-up's ops
    write_walls: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    check_s: float = 0.0
    check_cpu_s: float = 0.0
    window_start: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)  # per-layer figures
    notes: dict = field(default_factory=dict)  # kept in the run report only

    # -- timed window -----------------------------------------------------

    def start_window(self) -> None:
        """Ops recorded so far were set-up's warm-up; the window starts
        empty."""
        self.warmup_ops, self.ops = self.ops, []
        self.tracer.start_window()
        self.window_start = time.perf_counter()
        self.check_s = self.check_cpu_s = 0.0

    def elapsed(self) -> float:
        """Seconds of timed window spent on ops (output checks excluded)."""
        return time.perf_counter() - self.window_start - self.check_s

    def units(self, nominal_s: float) -> int:
        """How many whole units (a rotation, a cycle) the window runs:
        enough to fill ``seconds`` at the unit's nominal length on a 4-core
        host. The count depends on ``seconds`` only, never on how fast the
        units run, so every run of a workload times the same op mix."""
        return max(1, math.ceil(self.seconds / nominal_s))

    @contextlib.contextmanager
    def op(self, kind: str, units: int):
        """Time one op (traced as ``op.<kind>``) and record it; the caller
        checks its output afterwards and sets ``ok`` on the yielded record."""
        t0 = time.perf_counter()
        rec = OpRecord(kind, t0 - self.window_start - self.check_s, 0.0, units, True)
        with self.tracer.op(kind):
            yield rec
        rec.wall_s = time.perf_counter() - t0
        self.ops.append(rec)

    @property
    def work_ops(self) -> list[OpRecord]:
        """The ops whose latency ``op_p50_ms`` reports: every op that
        completes work units (writes complete none)."""
        return [o for o in self.ops if o.units]

    def fail(self, what: str) -> None:
        self.failures.append(what)

    @contextlib.contextmanager
    def checking(self):
        """Output checks run inside the window but are not timed: their
        wall and CPU are taken out of every end-to-end figure."""
        t0, c0 = time.perf_counter(), hostproc.tree_cpu_s()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0
            self.check_cpu_s += hostproc.tree_cpu_s() - c0


def end_to_end(run: Run, window_s: float, window_cpu_s: float, peak_rss_mb: float) -> dict[str, float]:
    ops = run.work_ops
    return {
        "setup_s": run.setup_s,
        "work_per_s": sum(o.units for o in ops) / window_s,
        "op_p50_ms": statistics.median(o.wall_s for o in ops) * 1e3,
        "write_p50_ms": statistics.median(run.write_walls) * 1e3,
        "cpu_ms_per_op": window_cpu_s * 1e3 / len(ops),
        "peak_rss_mb": peak_rss_mb,
    }


def drift_ratio(run: Run) -> float:
    """Per op kind, the median wall of the kind's warm-up ops over the
    median of its timed ops; the geometric mean over the kinds that ran in
    both. Comparing each kind only with itself keeps the op mix out of the
    figure. It sits above 1 by the JVM warm-up the window no longer pays; a
    leak, a growing index or a host that slows down over the run pulls it
    below the workload's usual value."""

    def walls(ops):
        out: dict[str, list[float]] = {}
        for o in ops:
            if o.units:
                out.setdefault(o.kind, []).append(o.wall_s)
        return out

    warm, timed = walls(run.warmup_ops), walls(run.ops)
    ratios = [statistics.median(warm[k]) / statistics.median(timed[k]) for k in warm.keys() & timed.keys()]
    return statistics.geometric_mean(ratios) if ratios else 1.0


# -- per-layer metrics (traced run) -----------------------------------------

# the curation stages of ``pipelines.curation_pipeline``, which
# ``plumber_loop`` runs; ``corpus_curation`` adds the three v2 stages
CURATION_STAGES = ("quality_gate", "exact_dedup", "near_dup_drop", "pack")

# metric -> span whose calls it summarises; "_ms" is the median call,
# "_jobs" the mean Spark job count per call
_SPAN_METRICS = {
    "plans.build_ms": "plans.build",
    "plans.rewrite_ms": "plans.rewrite",
    "metrics.profile_ms": "metrics.profile",
    "metrics.profile_jobs": "metrics.profile",
    "optimizer.advise_ms": "optimizer.advise",
    "operators.run_ms": "operators.run",
    "operators.run_jobs": "operators.run",
    "segments.read_ms": "segments.read",
    "segments.read_jobs": "segments.read",
    "segments.append_ms": "segments.append",
    "segments.delete_ms": "segments.delete",
    "segments.compact_ms": "segments.compact",
    "similarity.read_ms": "similarity.read",
    "similarity.read_jobs": "similarity.read",
    "similarity.append_ms": "similarity.append",
    "similarity.delete_ms": "similarity.delete",
    "llm.run_ms": "llm.run",
    **{f"llm.{s}.{m}": f"llm.{s}.build" for s in CURATION_STAGES for m in ("build_ms", "build_jobs")},
}

# figures a workload measures itself and leaves in ``run.layer``
_RUN_METRICS = {
    "plans.nodes": "count",
    "metrics.profile_ms_per_node": "ms",
    "optimizer.advice_modal_share": "ratio",
    "optimizer.actuated_rewrites": "count",
    "operators.rows_per_s": "1/s",
    "segments.live_segments": "count",
    "segments.tombstones": "count",
    "segments.exact_match_ratio": "ratio",
    "similarity.recall_at_k": "ratio",
    **{f"llm.{s}.self_ms": "ms" for s in CURATION_STAGES},
    "llm.survivor_ratio": "ratio",
}

# spans whose Spark counters are reported, per op
COUNTER_SPANS = (
    "metrics.profile",
    "operators.run",
    "segments.read",
    "segments.write",
    "similarity.read",
    "similarity.write",
    "llm.build",
    "llm.run",
)

LAYER_UNITS = {
    "session.start_ms": "ms",
    "session.gc_ms_per_op": "ms",
    "session.persisted_rdds_end": "count",
    **{m: ("count" if m.endswith("_jobs") else "ms") for m in _SPAN_METRICS},
    **_RUN_METRICS,
    **{f"{s}.{c}": ("ms" if c.endswith("_ms") else "bytes") for s in COUNTER_SPANS for c in spans.COUNTERS},
    "trace.work_per_s": "1/s",
    "trace.glue_share": "ratio",
    "host.load1_start": "load",
    "host.load1_end": "load",
    "host.procs_running_start": "count",
    "host.procs_running_end": "count",
    "host.steal_ticks": "ticks",
    "host.steal_share": "ratio",
    "host.p50_drift_ratio": "ratio",
}


def span_call_metric(tracer: Tracer, metric: str, span_name: str) -> float:
    idx = tracer.named(span_name)
    if not idx:
        return 0.0
    if metric.endswith("_jobs"):
        return tracer.jobs(span_name) / len(idx)
    return statistics.median(tracer.spans[i].ms for i in idx)


def per_layer(run: Run, window_s: float, gc_ms: float, persisted: int, host0: dict, host1: dict) -> dict[str, float]:
    tracer, n = run.tracer, len(run.work_ops)
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out.update(
        {
            "session.start_ms": run.session_start_s * 1e3,
            "session.gc_ms_per_op": gc_ms / n,
            "session.persisted_rdds_end": persisted,
            "trace.work_per_s": sum(o.units for o in run.work_ops) / window_s,
            "trace.glue_share": tracer.glue_share(),
            "host.load1_start": host0["load1"],
            "host.load1_end": host1["load1"],
            "host.procs_running_start": host0["procs_running"],
            "host.procs_running_end": host1["procs_running"],
            "host.steal_ticks": host1["steal_ticks"] - host0["steal_ticks"],
            "host.steal_share": hostproc.steal_share(host0, host1),
            "host.p50_drift_ratio": drift_ratio(run),
        }
    )
    for metric, span_name in _SPAN_METRICS.items():
        out[metric] = span_call_metric(tracer, metric, span_name)
    for name in COUNTER_SPANS:
        for key in spans.COUNTERS:
            out[f"{name}.{key}"] = tracer.counter(name, key) / n
    out.update(run.layer)
    return out
