"""``corpus_curation``: the bulk ``llm`` path.

One op runs ``pipelines.curation_pipeline_v2`` (decontaminate, despan,
quality gate, DSIR select, exact dedup, near-dup drop, pack) over the next
seeded document shard and consumes the result with a noop write. Shards
rotate over ``SHARDS`` seeded corpora with Zipf vocabularies, injected exact
and near duplicates and an eval-contaminated slice (see ``inputs.py``).

Checks, on every op: survivors are input documents, no two survivors share
an input text, packing respects the token budget (each survivor's offset is
the running token total in id order and its bin is ``offset // BUDGET``),
and the survivor hash of a shard is the same on every op and on every run of
the seed (the first run records it under ``.cache``).

This workload is not in ``BENCHMARK.json``: a warm op costs 12-14 s on a
4-core host at any shard size from 500 to 2000 documents and the first op
over 30 s, so a steady run does not fit the benchmark's per-run time
budget. The four v1 stages (quality gate, exact dedup, near-dup drop, pack)
are measured in ``plumber_loop``, which runs ``curation_pipeline`` in its
rotation; run this workload by hand when a change touches the three stages
only v2 has (decontaminate, despan, DSIR select). With ``--trace 1`` it
also times each stage's prefix once.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import harness
import inputs

SHARD_DOCS = 1_000
SHARDS = 3
BUDGET = 256
WARMUP_OPS = 2
OP_S = 13.0  # nominal seconds per op on a 4-core host
# the stages v2 adds to the v1 stages every traced workload reports
V2_STAGES = ("decontaminate", "despan", "dsir_select")

EXTRA_LAYER_UNITS = {
    f"llm.{s}.{m}": u for s in V2_STAGES for m, u in (("build_ms", "ms"), ("build_jobs", "count"), ("self_ms", "ms"))
}


STAGE_OF = {"decontaminate_drop": "decontaminate", "despan_rewrite": "despan"}


def stage_name(node) -> str:
    """Stage name of a curation map node, from its ``desc``."""
    desc = node.params.get("desc", "")
    return "pack" if desc.startswith("pack_") else STAGE_OF.get(desc, desc)


def instrument(pipeline, tracer):
    """Wrap every stage builder of a curation pipeline in an
    ``llm.<stage>.build`` span (tracing on only); returns the pipeline."""
    if tracer.enabled:
        for node in pipeline.nodes():
            if node.op == "map":
                node.builder = _spanned(tracer, f"llm.{stage_name(node)}.build", node.builder)
    return pipeline


def write_shard(table, path: str) -> None:
    """Write a document table as the ``documents`` table of an sf dir."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "documents.parquet"))


def survivor_problems(table, rows, budget: int, key: str) -> tuple[list[str], str]:
    """Checks on one curated shard: survivors are input documents, no two
    survivors share an input text, packing respects the token budget (each
    survivor's offset is the running token total in id order and its bin is
    ``offset // budget``) and the survivor hash equals the one recorded
    under ``key`` by the first run of the seed. Returns the problems found
    and the survivor hash."""
    text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    rows = sorted(rows, key=lambda r: r["doc_id"])
    ids = [r["doc_id"] for r in rows]
    problems = []
    if not set(ids) <= set(text):
        problems.append("a survivor is not an input document")
    if len({text[i] for i in ids if i in text}) != len(ids):
        problems.append("two survivors share a text")
    offset = 0
    for r in rows:
        if r["token_offset"] != offset or r["bin_id"] != offset // budget:
            problems.append("packing breaks the token budget")
            break
        offset += r["n_toks"]
    digest = hashlib.sha1(repr([tuple(r) for r in rows]).encode()).hexdigest()
    recorded = os.path.join(inputs.CACHE_DIR, f"{key}.sha1")
    if os.path.exists(recorded):
        with open(recorded) as fh:
            if fh.read().strip() != digest:
                problems.append("survivor hash differs from an earlier run of this seed")
    else:
        with open(recorded, "w") as fh:
            fh.write(digest)
    return problems, digest


class Workload:
    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.shards = [inputs.corpus(run.seed, SHARD_DOCS, first_id=s * SHARD_DOCS) for s in range(SHARDS)]
        self.dirs = [os.path.join(run.run_dir, "warehouse", f"shard_{s}") for s in range(SHARDS)]
        self.hashes: dict[int, str] = {}
        self.survivors: list[float] = []

    @staticmethod
    def prepare_inputs(seed: int) -> None:
        for s in range(SHARDS):
            inputs.corpus(seed, SHARD_DOCS, first_id=s * SHARD_DOCS)

    def write_shards(self) -> None:
        for table, path in zip(self.shards, self.dirs):
            write_shard(table, path)

    def pipeline(self, shard: int):
        from plumberapp_spark import pipelines

        pipeline = pipelines.curation_pipeline_v2(self.spark, sf_dir=self.dirs[shard], budget=BUDGET)
        return instrument(pipeline, self.run.tracer)

    def op(self, shard: int):
        """Build and run the curation pipeline over one shard; returns the
        result frame for :meth:`check`."""
        tr = self.run.tracer
        with tr.span("llm.build"):
            df = self.pipeline(shard).to_df(self.spark)
        t0 = time.perf_counter()
        with tr.span("llm.run"):
            df.write.format("noop").mode("overwrite").save()
        self.run.write_walls.append(time.perf_counter() - t0)
        return df

    def check(self, shard: int, df) -> bool:
        with self.run.checking():
            return self._check(shard, df.collect())

    def _check(self, shard: int, rows) -> bool:
        problems, digest = survivor_problems(self.shards[shard], rows, BUDGET, f"curation_s{self.run.seed}_shard{shard}")
        if self.hashes.setdefault(shard, digest) != digest:
            problems.append("survivor hash changed between ops")
        self.survivors.append(len(rows) / self.shards[shard].num_rows)
        for p in problems:
            self.run.fail(f"shard {shard}: {p}")
        return not problems

    def stage_self_ms(self) -> dict[str, float]:
        """Each stage's self time as the difference of consecutive prefix
        materializations (one noop write per prefix, on shard 0)."""
        from plumberapp_spark.plans.nodes import Pipeline

        pipeline = self.pipeline(0)
        prev, out = 0.0, {}
        for node in pipeline.nodes():
            t0 = time.perf_counter()
            Pipeline(node).to_df(self.spark).write.format("noop").mode("overwrite").save()
            took = (time.perf_counter() - t0) * 1e3
            if node.op == "map":
                out[f"llm.{stage_name(node)}.self_ms"] = took - prev
            prev = took
        return out

    def setup(self) -> None:
        run = self.run
        t0 = time.perf_counter()
        self.write_shards()
        run.fixture_s = time.perf_counter() - t0
        for i in range(WARMUP_OPS):
            self.check(i % SHARDS, self.op(i % SHARDS))
        run.warmup_s = time.perf_counter() - t0 - run.fixture_s - run.check_s
        run.write_walls.clear()
        self.survivors.clear()

    def timed(self) -> None:
        run = self.run
        for i in range(WARMUP_OPS, WARMUP_OPS + run.units(OP_S)):
            with run.op("curation", SHARD_DOCS) as rec:
                df = self.op(i % SHARDS)
            rec.ok = self.check(i % SHARDS, df)
        tr = run.tracer
        if not tr.enabled:
            return
        layer = {"llm.survivor_ratio": statistics.mean(self.survivors)}
        for s in V2_STAGES:
            for metric in ("build_ms", "build_jobs"):
                layer[f"llm.{s}.{metric}"] = harness.span_call_metric(tr, metric, f"llm.{s}.build")
        with run.checking():  # off the window: not one of the timed ops
            layer.update(self.stage_self_ms())
        run.layer.update(layer)


def _spanned(tracer, name, builder):
    def build(spark, ins):
        with tracer.span(name):
            return builder(spark, ins)

    return build
