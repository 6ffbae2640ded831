"""Per-layer metrics of the traced pass, derived from spans, the event
log and streaming progress. Every workload reports every metric; a
layer the workload does not exercise reads 0."""

from __future__ import annotations

import json
import math
import os

import pyarrow.parquet as pq

from stats import median
from tracing import Attribution

KERNELS = ["lloyd_iteration_multi", "pso_objectives", "gka_member_centers", "gka_reassign"]
ALGOS = ["kmeans", "gka", "pso"]
PIPELINE_KEYS = ["q_dedup_exact", "q_text_gopher_rules"]
STREAM_KEYS = ["q_stream_upsert", "q_stream_tumbling"]
PROGRESS_KEYS = {
    "trigger": "triggerExecution",
    "add_batch": "addBatch",
    "planning": "queryPlanning",
    "wal_commit": "walCommit",
}

# names and units of the per-layer metrics, as BENCHMARK.json lists them
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    UNITS: dict[str, str] = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}

# Every fit iteration starts with one call of the fit's main kernel; the
# first ``pso_objectives`` call scores the initial swarm, before the loop.
ITER_KERNEL = {"kmeans": ("lloyd_iteration_multi", 0), "gka": ("gka_reassign", 0),
               "pso": ("pso_objectives", 1)}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def derive(tracer, jobs, p, batches, cores: int, extra: dict) -> dict[str, float]:
    """All per-layer metrics of pass ``p`` (a ``workloads.Pass``)."""
    att = Attribution(tracer, jobs, p.pass_id, p.start, p.end)
    spans = [s for s in tracer.spans if s["pass"] == p.pass_id]

    def dur(name: str) -> list[float]:
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    m = dict(extra)
    run_s = att.total("run_s")
    m.update({
        "spark.jobs": len(att.jobs),
        "spark.stages": sum(len(j["stages"]) for j in att.jobs),
        "spark.tasks": att.total("tasks"),
        "spark.task_s": run_s,
        "spark.task_cpu_s": att.total("cpu_s"),
        "spark.gc_s": att.total("gc_s"),
        "spark.shuffle_read_bytes": att.total("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": att.total("shuffle_write_bytes"),
        "spark.spill_bytes": att.total("spill_bytes"),
        "spark.core_busy_frac": _ratio(run_s, p.wall * cores),
        "spark.unattributed_jobs": att.unattributed,
        "io.input_bytes": att.total("input_bytes"),
        "io.input_rows": att.total("input_rows"),
        "sources.csv_ingest_s": sum(dur("sources.csv_ingest")),
    })

    # fit driver loop and kernels
    fit_jobs = att.under("ml.fit.", p.pass_id)
    windows = _iteration_windows(spans, p.ops)
    n_iter = sum(len(w) for w in windows.values())
    py_intervals = [iv for j in att.jobs for iv in j["py_intervals"]]
    driver_s, iter_jobs = 0.0, []
    for a in ALGOS:
        m[f"ml.fit_s.{a}"] = sum(dur(f"ml.fit.{a}"))
        jobs = [j for j in att.jobs if any(lo <= j["submit"] <= hi for lo, hi in windows.get(a, ()))]
        m[f"ml.jobs_per_iter.{a}"] = _ratio(len(jobs), len(windows.get(a, ())))
        iter_jobs += jobs
        driver_s += sum(hi - lo - _covered(py_intervals, lo, hi) for lo, hi in windows.get(a, ()))
    # iteration wall minus the time a kernel stage ran inside it
    m["ml.driver_ms_per_iter"] = _ratio(1e3 * driver_s, n_iter)
    m["ml.result_bytes_per_iter"] = _ratio(att.total("result_bytes", iter_jobs), n_iter)
    for k, calls_ms in _kernel_calls_ms(att, spans, fit_jobs).items():
        m[f"ml.kernels.calls.{k}"] = len(calls_ms)
        m[f"ml.kernels.call_ms_p50.{k}"] = median(calls_ms) if calls_ms else 0.0
    m["ml.kernels.task_s"] = att.total("py_run_s", fit_jobs)
    m["ml.kernels.cpu_frac"] = _ratio(att.total("py_cpu_s", fit_jobs), m["ml.kernels.task_s"])
    # kernel task time over the fits' core time (wall x cores)
    m["ml.kernels.task_share_of_fit"] = _ratio(
        m["ml.kernels.task_s"], cores * sum(m[f"ml.fit_s.{a}"] for a in ALGOS))

    # relational pipeline
    for k in PIPELINE_KEYS:
        m[f"pipeline.{k}_s"] = sum(dur(f"pipeline.{k}"))
    m["pipeline.write_s"] = sum(dur("pipeline.write"))
    m["pipeline.write_bytes"] = att.total("output_bytes", att.under("pipeline.write", p.pass_id))
    pjobs = att.under("pipeline.", p.pass_id)
    m["pipeline.shuffle_write_bytes"] = att.total("shuffle_write_bytes", pjobs)
    m["pipeline.spill_bytes"] = att.total("spill_bytes", pjobs)
    m["pipeline.kept_frac"] = sum(op.output["kept_frac"] for op in p.ops
                                  if op.name == "pipeline.write" and op.ok)

    # streaming
    for k in STREAM_KEYS:
        m[f"streaming.{k}_s"] = sum(dur(f"streaming.{k}"))
    m["streaming.batches"] = len(batches)
    m["streaming.input_rows"] = sum(b["rows"] for b in batches)
    m["streaming.replay_build_s"] = sum(dur("streaming.replay_build"))
    for short, key in PROGRESS_KEYS.items():
        vals = [b["ms"][key] for b in batches if key in b["ms"]]
        m[f"streaming.{short}_ms_p50"] = median(vals) if vals else 0.0
    # the upsert's copy-on-write state table as the drain left it, plus
    # any state-store operator's rows and memory
    files = [f.removeprefix("file:") for f in p.state_files]
    m["streaming.state_rows"] = sum(pq.ParquetFile(f).metadata.num_rows for f in files) \
        + max((b["state_rows"] for b in batches), default=0)
    m["streaming.state_bytes"] = sum(os.path.getsize(f) for f in files) \
        + max((b["state_bytes"] for b in batches), default=0)
    if set(m) != set(UNITS):
        raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: {set(m) ^ set(UNITS)}")
    return {k: float(m[k]) for k in UNITS}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _iteration_windows(spans: list[dict], ops) -> dict[str, list[tuple[float, float]]]:
    """Each fit iteration as (start, end) epoch seconds: it starts when
    its main kernel is called and lasts the ``iter_ms`` / ``gen_ms`` the
    fit's metrics sink reports for it."""
    windows = {}
    for op in ops:
        if not (op.name.startswith("fit.") and op.ok):
            continue
        algo = op.name.split(".", 1)[1]
        kernel, skip = ITER_KERNEL[algo]
        fit = next(s for s in spans if s["name"] == f"ml.fit.{algo}")
        anchors = sorted((s for s in spans if s["name"] == f"ml.kernels.{kernel}"
                          and fit["start"] <= s["start"] <= fit["end"]),
                         key=lambda s: s["start"])[skip:]
        steps = op.output["steps_ms"]
        if len(anchors) != len(steps):
            raise RuntimeError(f"{algo}: {len(anchors)} {kernel} calls for {len(steps)} iterations")
        windows[algo] = [(a["start"], a["start"] + ms / 1e3) for a, ms in zip(anchors, steps)]
    return windows


def _kernel_calls_ms(att: Attribution, spans: list[dict], fit_jobs: list[dict]) -> dict[str, list[float]]:
    """The time of every kernel call: its own span, plus, for a kernel
    that returned a lazy DataFrame, the wall time of the kernel stages
    of the later jobs that ran it (a job under no kernel span runs the
    most recent lazy kernel its fit called before it)."""
    kspans = sorted((s for s in spans if s["name"].startswith("ml.kernels.")),
                    key=lambda s: s["start"])
    exec_s: dict[str, float] = {}
    for j in fit_jobs:
        if not j["py_intervals"] or att.ancestor(j, "ml.kernels.") is not None:
            continue
        fit = att.ancestor(j, "ml.fit.")
        lazy = [s for s in kspans
                if s.get("lazy") and fit["start"] <= s["start"] and s["end"] <= j["submit"]]
        if lazy:
            sid = lazy[-1]["id"]
            exec_s[sid] = exec_s.get(sid, 0.0) + _covered(j["py_intervals"], -math.inf, math.inf)
    calls: dict[str, list[float]] = {k: [] for k in KERNELS}
    for s in kspans:
        calls[s["name"].removeprefix("ml.kernels.")].append(
            1e3 * (s["end"] - s["start"] + exec_s.get(s["id"], 0.0)))
    return calls
