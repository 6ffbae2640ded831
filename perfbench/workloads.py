"""The benchmark workloads.

Each workload makes its inputs once from the seed, copies them to a
fresh directory before every pass (so no pass reads a path an earlier
pass read, and path-keyed caches such as
``pipeline.similarity._TRAIN_CACHE`` cannot turn a pass into a cache
hit), runs one pass as a single closed-loop client, and checks its
outputs outside the timed region.

An operation is one fit, one registry key or one write; a pass is every
operation of the workload once, in order.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
import layers
from tracing import flush_listeners


@dataclass
class Op:
    name: str
    seconds: float
    error: str | None = None
    failed_check: str | None = None
    output: object = None

    @property
    def ok(self) -> bool:
        return self.error is None and self.failed_check is None


@dataclass
class Pass:
    pass_id: str
    start: float
    end: float
    ops: list[Op] = field(default_factory=list)
    # loop (a fit or a streaming query) -> its steps, in ms
    steps: dict[str, list[float]] = field(default_factory=dict)
    state_files: list[str] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _timed(name: str, fn) -> Op:
    t = time.perf_counter()
    try:
        out = fn()
    except Exception:  # one failed operation must not end the run
        return Op(name, time.perf_counter() - t, error=traceback.format_exc(limit=3))
    return Op(name, time.perf_counter() - t, output=out)


class FitRef:
    """The paper's own use: the three spark-submit style drivers
    (``cli.main`` kmeans / gka / pso) with the reference README
    hyper-parameters on a shuttle-shaped CSV."""

    name = "fit_ref"
    K = 7
    RUNS = 2
    ALGOS = {
        # algo: (iterations, algo-specific positionals from README.md:63,75,90)
        "kmeans": (2, []),
        "gka": (1, ["20", "0.6", "0.9"]),
        "pso": (2, ["20", "2", "2", "0.9", "0.4"]),
    }

    def __init__(self, tiny: bool = False):
        self.n = 2_000 if tiny else 5_000

    def generate(self, base: str, rng: np.random.Generator) -> None:
        os.makedirs(base)
        self.matrix = gen.shuttle_csv(rng, os.path.join(base, "shuttle.csv"), self.n)
        self.base = base

    def inputs(self, pass_dir: str) -> str:
        os.makedirs(pass_dir)
        shutil.copy(os.path.join(self.base, "shuttle.csv"), pass_dir)
        return pass_dir

    def trace_targets(self):
        from spark_clustering_spark.ml import gka, kernels, kmeans, pso
        from spark_clustering_spark.sources import csv_numeric

        return [
            (csv_numeric, "read_numeric_csv", "sources.csv_ingest"),
            (kmeans, "fit_kmeans", "ml.fit.kmeans"),
            (gka, "fit_gka", "ml.fit.gka"),
            (pso, "fit_pso", "ml.fit.pso"),
            (kmeans, "lloyd_iteration_multi", "ml.kernels.lloyd_iteration_multi"),
            (kernels, "pso_objectives", "ml.kernels.pso_objectives"),
            (gka, "gka_member_centers", "ml.kernels.gka_member_centers"),
            (gka, "gka_reassign", "ml.kernels.gka_reassign"),
        ]

    def run_pass(self, ctx, p: Pass, pass_dir: str) -> None:
        csv = os.path.join(pass_dir, "shuttle.csv")
        for algo, (iters, extra) in self.ALGOS.items():
            out = os.path.join(pass_dir, f"{algo}.sink")
            argv = [algo, csv, str(iters), str(self.K), out, str(self.RUNS), *extra]
            p.ops.append(_timed(f"fit.{algo}", lambda: self._cli(ctx, algo, argv, out)))
        p.end = time.time()
        for op in p.ops:
            if op.ok:
                op.output = _read_sink(op.output, lockstep=op.name == "fit.kmeans")
                p.steps[op.name] = op.output["steps_ms"]

    @staticmethod
    def _cli(ctx, algo: str, argv: list[str], out: str) -> str:
        from spark_clustering_spark import cli

        with ctx.span(f"cli.{algo}"):
            cli.main(argv)
        return out

    def check(self, ctx, passes: list[Pass]) -> list[str]:
        lines = []
        cold = {op.name: op for op in passes[0].ops}
        for p in passes:
            for op in p.ops:
                if not op.ok:
                    continue
                first = cold[op.name]
                if not checks.nonincreasing(op.output["best"]):
                    op.failed_check = "best objective rose"
                elif not first.ok or op.output["best_text"] != first.output["best_text"]:
                    op.failed_check = "objectives differ from the first pass"
        lines.append("best objective never rises, identical on every pass: "
                     + ("ok" if all(op.failed_check is None for p in passes for op in p.ops
                                    if op.error is None) else "FAIL"))
        km = cold.get("fit.kmeans")
        if km is not None and km.ok:
            iters = self.ALGOS["kmeans"][0]
            replay = checks.lloyd_replay_best(self.matrix, self.K, iters, self.RUNS, seed=42)
            got = km.output["best"]
            ok = len(got) == len(replay) and all(map(checks.close, got, replay))
            if not ok:
                km.failed_check = f"numpy Lloyd replay mismatch: {got} vs {replay}"
            lines.append(
                f"kmeans vs numpy Lloyd replay ({len(replay)} values, rtol "
                f"{checks.LLOYD_RTOL:g}, atol {checks.LLOYD_ATOL:g}): {'ok' if ok else 'FAIL'}"
            )
        return lines


def _read_sink(path: str, lockstep: bool) -> dict:
    """Parse a reference-shaped metrics sink: ``iter,best,iter_ms`` lines
    and a trailing ``<total>ms``. k-means restarts run in lockstep, so
    every run repeats the shared iteration's ``iter_ms``: with
    ``lockstep`` each iteration index is counted once."""
    with open(path) as f:
        rows = [line.split(",") for line in f.read().split() if "," in line]
    if lockstep:
        steps: dict[int, float] = {}
        for it, _, ms in rows:
            steps.setdefault(int(it), float(ms))
        steps_ms = list(steps.values())
    else:
        steps_ms = [float(r[2]) for r in rows]
    return {
        "best": [float(r[1]) for r in rows],
        "best_text": [r[1] for r in rows],
        "steps_ms": steps_ms,
    }


class PipelineStream:
    """The LLM-data path on a corpus shard (exact dedup, Gopher quality
    gates, the kept corpus written to parquet) followed by the
    streaming write path on an events changelog (a copy-on-write upsert
    drained closed-loop, one file per trigger) and a tumbling window."""

    name = "pipeline_stream"
    PIPELINE_KEYS = layers.PIPELINE_KEYS
    STREAM_KEYS = layers.STREAM_KEYS

    def __init__(self, tiny: bool = False):
        self.n_doc = 300 if tiny else 1_000
        self.n_evt = 2_000 if tiny else 10_000

    def generate(self, base: str, rng: np.random.Generator) -> None:
        gen.documents(rng, base, self.n_doc)
        gen.events(rng, base, self.n_evt)
        self.base = base

    def inputs(self, pass_dir: str) -> str:
        shutil.copytree(self.base, pass_dir)
        return pass_dir

    def trace_targets(self):
        from spark_clustering_spark.streaming import harness

        return [(harness, "write_replay_chunks", "streaming.replay_build")]

    def run_pass(self, ctx, p: Pass, sf: str) -> None:
        from spark_clustering_spark.registry import QUERIES

        def key(name: str, layer: str):
            def run():
                ctx.listener.loop = name
                with ctx.span(f"{layer}.{name}"):
                    df = QUERIES[name](ctx.spark, sf)
                    if ctx.tracer is not None and name == "q_stream_upsert":
                        p.state_files = df.inputFiles()
                    return df.toPandas()
            return run

        for name in self.PIPELINE_KEYS:
            p.ops.append(_timed(name, key(name, "pipeline")))
        p.ops.append(_timed("pipeline.write", lambda: self._write_kept(ctx, sf)))
        for name in self.STREAM_KEYS:
            p.ops.append(_timed(name, key(name, "streaming")))
        p.end = time.time()
        flush_listeners(ctx.spark)
        for b in ctx.listener.batches(p.pass_id):
            p.steps.setdefault(b["loop"], []).append(b["ms"]["triggerExecution"])

    def _write_kept(self, ctx, sf: str) -> dict:
        """The kept corpus — documents passing the Gopher gates that are
        their exact-duplicate group's keeper — written as parquet."""
        from pyspark.sql import functions as F

        from spark_clustering_spark.io import table
        from spark_clustering_spark.registry import QUERIES

        out = os.path.join(sf, "kept_corpus")
        with ctx.span("pipeline.write"):
            gates = QUERIES["q_text_gopher_rules"](ctx.spark, sf).where("keep = 1").select("doc_id")
            keepers = QUERIES["q_dedup_exact"](ctx.spark, sf).select(F.col("keep_id").alias("doc_id"))
            table(ctx.spark, sf, "documents").join(gates, "doc_id").join(keepers, "doc_id") \
                .write.mode("overwrite").parquet(out)
        return {"path": out}

    def check(self, ctx, passes: list[Pass]) -> list[str]:
        from spark_clustering_spark.registry import ORACLE

        lines = []
        cold = passes[0]
        ref: dict[str, tuple[int, str]] = {}
        for op in cold.ops:
            if not op.ok or op.name == "pipeline.write":
                continue
            ref[op.name] = got = checks.frame_digest(op.output)
            if op.name in ORACLE:
                try:
                    want = checks.oracle_digest(
                        ORACLE[op.name], ctx.pass_dirs[cold.pass_id], ctx.scratch)
                except Exception as e:  # a check that cannot run fails the operation
                    want = f"oracle error: {e}"
                if got != want:
                    op.failed_check = f"DuckDB oracle mismatch: spark {got} vs duckdb {want}"
                lines.append(f"{op.name} vs DuckDB oracle ({got[0]} rows): "
                             + ("ok" if got == want else "FAIL"))
        for p in passes:
            outs = {op.name: op for op in p.ops}
            for op in p.ops:
                if not op.ok:
                    continue
                if op.name == "pipeline.write":
                    kept = ctx.spark.read.parquet(op.output["path"]).count()
                    gop, exact = outs.get("q_text_gopher_rules"), outs.get("q_dedup_exact")
                    if gop is None or exact is None or not (gop.ok and exact.ok):
                        op.failed_check = "no gate results to check the kept corpus against"
                        continue
                    want = len(set(gop.output.loc[gop.output["keep"] == 1, "doc_id"])
                               & set(exact.output["keep_id"]))
                    op.output["kept_frac"] = kept / self.n_doc
                    if kept != want:
                        op.failed_check = f"kept corpus has {kept} rows, gates keep {want}"
                elif p is not cold and ref.get(op.name) != checks.frame_digest(op.output):
                    op.failed_check = "result differs from the first pass"
        lines.append("every key identical on every pass, kept corpus matches its gates: "
                     + ("ok" if all(op.failed_check is None for p in passes for op in p.ops
                                    if op.error is None) else "FAIL"))
        return lines


WORKLOADS = {w.name: w for w in (FitRef, PipelineStream)}

