"""``plumber_loop``: the paper's own diagnose-and-fix cycle.

One op is one cycle on one of the pipelines in ``inputs.PIPELINES``: the
MLPerf analog ssd (four times per rotation) or the corpus curation pipeline
(``pipelines.curation_pipeline``: quality gate, exact dedup, near-dup drop,
pack) over a seeded document shard. A cycle builds the pipeline, profiles
it (``PipelineProfiler.profile``, one Spark action per plan node), advises
(``Optimizer.advise_from_model``), rewrites (``Optimizer.apply``) and
consumes the rewritten pipeline with a noop write. The seed fixes a rotation
of the pipelines; set-up runs one whole rotation as warm-up and the timed
window runs whole rotations, so every run times the same op mix and the
median op lands inside ssd's cluster of times.

Checks: the rewritten pipeline's row count and order-insensitive hash equal
the unrewritten pipeline's, computed at set-up (rewrites must preserve
results); curated survivors also pass ``corpus_curation``'s survivor checks.
Layers: ``plans``, ``metrics``, ``optimizer``, ``operators`` and the ``llm``
curation stages of v1.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import time
from collections import Counter, defaultdict

import corpus_curation
import inputs

ELEMENTS = 500  # source elements per MLPerf analog
CURATION_DOCS = 1_000  # documents in the curation shard
BUDGET = 256  # curation packing budget, in tokens
ROTATION_S = 14.0  # nominal seconds per rotation on a 4-core host


def output_digest(df) -> tuple[int, int]:
    """(row count, order-insensitive hash): the sum of a 64-bit row hash
    over every row, taken as an exact decimal."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.coalesce(F.sum("h"), F.lit(0)).alias("s")
    ).first()
    return int(row["n"]), int(row["s"])


class Workload:
    def __init__(self, run):
        from plumberapp_spark.optimizer.advisor import Optimizer

        self.run = run
        self.spark = run.spark
        self.optimizer = Optimizer(run.spark)
        self.order = inputs.rotation(run.seed)
        self.shard = inputs.corpus(run.seed, CURATION_DOCS)
        self.shard_dir = os.path.join(run.run_dir, "warehouse", "curation_docs")
        self.reference: dict[str, tuple[int, int]] = {}
        self.advice: dict[str, list[str]] = defaultdict(list)
        self.nodes: list[int] = []
        self.actuated: list[int] = []
        self.rows_per_s: list[float] = []
        self.profile_per_node_ms: list[float] = []
        self.stage_self_ms: dict[str, list[float]] = defaultdict(list)
        self.survivors: list[float] = []

    @staticmethod
    def prepare_inputs(seed: int) -> None:
        """The curation shard; the rotation is drawn in memory and the
        MLPerf analogs generate their own fixed source rows."""
        inputs.corpus(seed, CURATION_DOCS)

    def source_rows(self, name: str) -> int:
        return CURATION_DOCS if name == "curation" else ELEMENTS

    def build(self, name: str):
        from plumberapp_spark import pipelines

        if name == "curation":
            pipeline = pipelines.curation_pipeline(self.spark, sf_dir=self.shard_dir, budget=BUDGET)
            return corpus_curation.instrument(pipeline, self.run.tracer)
        return pipelines.ALL_PIPELINES[name](self.spark, n=ELEMENTS)

    def cycle(self, name: str):
        """One diagnose-and-fix cycle; returns the rewritten pipeline's frame
        and the caches it persisted, for :meth:`verify`, and the wall of its
        sink write."""
        from plumberapp_spark.metrics.profiler import PipelineProfiler

        tr, spark = self.run.tracer, self.spark
        llm = name == "curation"
        with tr.span("plans.build"), _maybe(tr, "llm.build", llm):
            pipeline = self.build(name)
            pipeline.to_df(spark)
        n_nodes = len(pipeline.nodes())
        with tr.span("metrics.profile"):
            t0 = time.perf_counter()
            model = PipelineProfiler(spark).profile(pipeline)
            profile_s = time.perf_counter() - t0
        with tr.span("optimizer.advise"):
            advice = self.optimizer.advise_from_model(pipeline, model)
        with tr.span("plans.rewrite"):
            rewritten = self.optimizer.apply(pipeline, advice)
        own: list = []
        with tr.span("operators.run"), _maybe(tr, "llm.run", llm):
            t0 = time.perf_counter()
            df = rewritten.to_df(spark, persisted_out=own)
            df.write.format("noop").mode("overwrite").save()
            write_s = time.perf_counter() - t0
        width = spark.sparkContext.defaultParallelism
        self.advice[name].append(_fingerprint(advice))
        self.nodes.append(n_nodes)
        self.profile_per_node_ms.append(profile_s * 1e3 / n_nodes)
        self.actuated.append(
            sum(p > width for p in advice.partitions.values())
            + bool(advice.cache_at)
            + bool(advice.prefetch_at and advice.prefetch_buffer)
        )
        if llm:
            # the profiler's self time of a node is the difference of
            # consecutive prefix materializations: the stage's self time
            stage = {n.name: corpus_curation.stage_name(n) for n in pipeline.nodes() if n.op == "map"}
            for s in model.stats:
                if s.name in stage:
                    self.stage_self_ms[stage[s.name]].append(s.self_processing_time * 1e3)
        return df, own, write_s

    def verify(self, name: str, df, own: list) -> bool:
        """The rewritten pipeline's output equals the unrewritten one's
        (and curated survivors pass the survivor checks); then release the
        caches the rewrite placed."""
        problems = []
        with self.run.checking():
            if output_digest(df) != self.reference[name]:
                problems.append("rewritten pipeline output differs from the unrewritten one")
            if name == "curation":
                rows = df.collect()
                key = f"plumber_curation_s{self.run.seed}_n{CURATION_DOCS}"
                problems += corpus_curation.survivor_problems(self.shard, rows, BUDGET, key)[0]
                self.survivors.append(len(rows) / CURATION_DOCS)
            for cached in own:
                cached.unpersist()
        for p in problems:
            self.run.fail(f"{name}: {p}")
        return not problems

    def step(self, name: str) -> float:
        """One cycle, timed and recorded, then checked; returns the wall of
        its sink write."""
        with self.run.op(name, self.source_rows(name)) as rec:
            df, own, write_s = self.cycle(name)
        rec.ok = self.verify(name, df, own)
        self.rows_per_s.append(self.reference[name][0] / write_s)
        return write_s

    def setup(self) -> None:
        """Write the curation shard, then one warm-up rotation, because the
        first cycles of a process run 2-3x slower while the JVM compiles
        the engine's paths. Each pipeline's reference output (the fixture)
        is taken just before its first cycle. The warm-up's advice
        fingerprints are kept: they are the first of each pipeline's
        cycles that ``optimizer.advice_modal_share`` compares."""
        run, t0 = self.run, time.perf_counter()
        corpus_curation.write_shard(self.shard, self.shard_dir)
        run.fixture_s = time.perf_counter() - t0
        for name in self.order:
            if name not in self.reference:
                t1 = time.perf_counter()
                self.reference[name] = output_digest(self.build(name).to_df(self.spark))
                run.fixture_s += time.perf_counter() - t1
            self.step(name)
        run.warmup_s = time.perf_counter() - t0 - run.fixture_s - run.check_s
        for samples in (self.nodes, self.actuated, self.rows_per_s, self.profile_per_node_ms, self.survivors):
            samples.clear()
        self.stage_self_ms.clear()

    def timed(self) -> None:
        run = self.run
        for _ in range(run.units(ROTATION_S)):
            # one write figure per rotation: the sum of its sink writes (a
            # single sink write is too short to time steadily)
            run.write_walls.append(sum(self.step(name) for name in self.order))
        shares = [Counter(fps).most_common(1)[0][1] / len(fps) for fps in self.advice.values()]
        run.notes["advice"] = dict(self.advice)
        run.layer.update(
            {
                "plans.nodes": statistics.mean(self.nodes),
                "metrics.profile_ms_per_node": statistics.median(self.profile_per_node_ms),
                "optimizer.advice_modal_share": statistics.mean(shares),
                "optimizer.actuated_rewrites": statistics.mean(self.actuated),
                "operators.rows_per_s": statistics.median(self.rows_per_s),
                "llm.survivor_ratio": statistics.mean(self.survivors),
                **{f"llm.{s}.self_ms": statistics.median(v) for s, v in self.stage_self_ms.items()},
            }
        )


def _maybe(tracer, name: str, on: bool):
    return tracer.span(name) if on else contextlib.nullcontext()


def _fingerprint(advice) -> str:
    key = repr((advice.bottleneck, sorted(advice.partitions.items()), advice.cache_at, advice.prefetch_at))
    return hashlib.sha1(key.encode()).hexdigest()[:12]
