"""Benchmark entry point.

    python3 perfbench/run.py --workload fit_ref --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository. One run is one fresh
process: it generates the workload's inputs from ``--seed`` into a temp
dir inside the checkout, starts the SparkSession and loads the query
registry (``setup_s``), runs one cold pass (``cold_wall_s``), then warm
passes until ``--seconds`` have passed (at least one), each pass from
input to complete result as a single closed-loop client. Outputs are
checked outside the timed region. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run adds a traced warm pass and one more untraced pass: spans
around the program's public functions (written to ``.perfbench_out/``),
Spark jobs tied to spans through job groups and a Spark event log, and
the tracing overhead as the traced pass's wall time against the
untraced pass after it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"  # the session default (16g) oversubscribes a 15 GB host

# names and units of the end-to-end metrics, as BENCHMARK.json lists them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    END_TO_END = {m["name"]: m["unit"] for m in json.load(_f)["end_to_end"]}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _set_env(tmp: str) -> None:
    """Process hygiene, before pyspark is imported: one Spark core per
    host core, a driver heap that fits the host, workers that can import
    the package, and every scratch file inside ``tmp``."""
    for d in ("local", "py", "java"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData")
    tempfile.tempdir = None  # re-read TMPDIR


class Context:
    """What a pass needs: the session, spans when tracing, stream progress."""

    def __init__(self, spark, listener, scratch: str):
        self.spark = spark
        self.listener = listener
        self.scratch = scratch
        self.tracer = None
        self.pass_dirs: dict[str, str] = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()


def _run_pass(ctx: Context, workload, pass_id: str, tracer=None):
    from workloads import Pass

    pass_dir = workload.inputs(os.path.join(ctx.scratch, "in", pass_id))
    ctx.pass_dirs[pass_id] = pass_dir
    ctx.listener.pass_id = pass_id
    if tracer is not None:
        tracer.pass_id = pass_id
        for module, attr, name in workload.trace_targets():
            tracer.wrap(module, attr, name)
        ctx.tracer = tracer
    p = Pass(pass_id, time.time(), 0.0)
    try:
        workload.run_pass(ctx, p, pass_dir)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
            ctx.tracer = None
    return p


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    import procs

    procs.wait_children(timeout=30)


def run(workload_name: str, seed: int, seconds: float, trace: bool, tiny: bool = False) -> dict:
    import numpy as np

    import procs
    from stats import geomean, median, tail
    from workloads import WORKLOADS

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    workload = WORKLOADS[workload_name](tiny=tiny)
    scratch_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{workload_name}-", dir=scratch_root)
    cwd = os.getcwd()
    spark = None
    try:
        _set_env(tmp)
        os.chdir(tmp)
        workload.generate(os.path.join(tmp, "base"), np.random.default_rng(seed))
        extra_conf = {
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            os.makedirs(os.path.join(tmp, "eventlog"))
            extra_conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with procs.RssSampler() as rss:
            t0 = time.perf_counter()
            from spark_clustering_spark.session import get_spark

            spark = get_spark(f"perfbench-{workload_name}", extra_conf=extra_conf)
            t1 = time.perf_counter()
            rss.heap_fn = procs.jvm_heap_after_gc(spark)
            from spark_clustering_spark import registry

            registry.load_all_queries()
            t2 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            from tracing import ProgressListener, Tracer

            listener = ProgressListener()
            spark.streams.addListener(listener)
            ctx = Context(spark, listener, tmp)
            passes = [_run_pass(ctx, workload, "cold")]
            warm, traced = [], None
            start = time.perf_counter()
            while not warm or time.perf_counter() - start < seconds:
                warm.append(_run_pass(ctx, workload, f"warm{len(warm)}"))
            if trace:
                # passes still speed up as the JVM warms, so the traced
                # pass is compared with the untraced pass right after it:
                # warm-up drift then inflates, never hides, the overhead
                tracer = Tracer(spark.sparkContext)
                listener.tracer = tracer
                traced = _run_pass(ctx, workload, "traced", tracer)
                after = _run_pass(ctx, workload, "after")
        passes += warm
        extra_passes = [traced, after] if trace else []
        check_lines = workload.check(ctx, passes + extra_passes)
        _shutdown(spark)
        spark = None

        all_ops = [op for p in passes + extra_passes for op in p.ops]
        failed = [op for op in all_ops if not op.ok]
        loops: dict[str, list[float]] = {}
        for p in warm:
            for loop, ms in p.steps.items():
                loops.setdefault(loop, []).extend(ms)
        steps = [s for ms in loops.values() for s in ms]
        loop_p50 = {loop: median(ms) for loop, ms in loops.items() if ms}
        e2e = {
            "setup_s": (t2 - t0, 1),
            "cold_wall_s": (passes[0].wall, 1),
            "wall_s": (median([p.wall for p in warm]), len(warm)),
            "step_ms_p50_gmean": (geomean(list(loop_p50.values())) if loop_p50 else 0.0,
                                  len(steps)),
            "peak_rss_mb": (rss.peak / 2**20, rss.samples),
        }
        print(f"# workload={workload_name} seed={seed} trace={int(trace)} "
              f"clients=1 (closed loop) cores={cores()}")
        for name, (value, n) in e2e.items():
            print(f"{name:<18} {value:12.4f} {END_TO_END[name]:<5} n={n}")
        for loop, ms in loops.items():
            print(f"steps_ms {loop:<22} p50 {loop_p50.get(loop, 0.0):10.1f}  "
                  f"{' '.join(f'{s:.0f}' for s in ms)}")
        t = tail(steps)
        print("step_ms_tail       " + (f"{t[1]:12.4f} ms    p{t[0]} n={len(steps)}" if t else
                                       f"{'n/a':>12}          n={len(steps)} (needs >= 20 steps)"))
        print(f"fail_frac          {len(failed) / len(all_ops):12.4f}       "
              f"{len(failed)}/{len(all_ops)} operations")
        for i, op in enumerate(passes[0].ops):
            w = [p.ops[i].seconds for p in warm if i < len(p.ops)]
            print(f"op {op.name:<28} cold {op.seconds:8.3f} s  warm {median(w):8.3f} s")
        for line in check_lines:
            print(f"check: {line}")
        for op in failed:
            print(f"FAILED {op.name}: {(op.error or op.failed_check).strip()}")

        if trace:
            from layers import UNITS, derive
            from tracing import parse_event_log

            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(out_dir, f"spans-{workload_name}-{seed}.json")
            tracer.write(spans_path)
            jobs = parse_event_log(os.path.join(tmp, "eventlog"))
            extra = {
                "session.start_s": t1 - t0,
                "session.registry_s": t2 - t1,
                "trace.overhead_frac": traced.wall / after.wall - 1.0,
                "jvm.heap_after_gc_peak_mb": rss.heap_peak / 2**20,
            }
            layer = derive(tracer, jobs, traced, listener.batches("traced"), cores(), extra)
            print(f"traced pass {traced.wall:.4f} s vs the untraced pass after it "
                  f"{after.wall:.4f} s (overhead {100 * layer['trace.overhead_frac']:+.1f} %); "
                  f"spans in {spans_path}")
            for name, value in layer.items():
                print(f"{name:<46} {value:16.6f} {UNITS[name]}")
            fit_s = sum(layer[f"ml.fit_s.{a}"] for a in ("kmeans", "gka", "pso"))
            print(f"layer load: ml.kernels.task_s {layer['ml.kernels.task_s']:.3f} s of "
                  f"{fit_s:.3f} s ml.fit_s x {cores()} cores "
                  f"(share {layer['ml.kernels.task_share_of_fit']:.3f}); "
                  f"spark.core_busy_frac {layer['spark.core_busy_frac']:.3f}")
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
        return {"correct": not failed, "attempted": len(all_ops), "failed": len(failed),
                "metrics": metrics}
    finally:
        try:
            if spark is not None:
                _shutdown(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(scratch_root)
            except OSError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-tests)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "spark_clustering_spark")):
        print(f"perfbench: no spark_clustering_spark package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
