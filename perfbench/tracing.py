"""Benchmark-side tracing: spans around the program's public functions,
Spark job attribution through job groups, and event-log parsing.

Spans are recorded only here, never inside the program: ``Tracer.wrap``
replaces a function on the module that the *caller* looks it up from
(``ml.kmeans.lloyd_iteration_multi``, not only ``ml.kernels``), and the
original is put back by ``Tracer.unwrap_all``. Each span sets the
Spark job group of the calling thread to its own id, so the event log
ties every job to the innermost span that submitted it. Jobs submitted
from threads the span does not own (a plain ``ThreadPoolExecutor``)
carry no group and are counted as unattributed. Streaming micro-batch
jobs carry their query's run id as group; the listener maps that run id
to the span that started the query.

A task that fed a Python worker (the ``mapInPandas`` kernels of
``ml/kernels.py``) is told apart by its "data sent to Python workers"
metric, so kernel task time is counted where the kernel runs, also when
the kernel only returned a lazy DataFrame and a later job executes it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener

GROUP_KEY = "spark.jobGroup.id"
PY_SENT = "data sent to Python workers"


class Tracer:
    """Spans kept in memory: (id, name, start, end, parent, pass)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[str] = []
        self.pass_id: str | None = None
        self.stream_runs: dict[str, str] = {}
        self._patches: list[tuple] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        self._n += 1
        sid = f"pb{self._n}"
        parent = self.stack[-1] if self.stack else None
        rec = {"id": sid, "name": name, "parent": parent, "pass": self.pass_id,
               "start": time.time()}
        self.stack.append(sid)
        self.sc.setLocalProperty(GROUP_KEY, sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, parent)
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                # a lazy result runs in a later job, outside this span
                rec["lazy"] = isinstance(out, DataFrame)
                return out

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress; maps query run ids to the span and
    the operation (``loop``) active when the query started
    (``onQueryStarted`` runs synchronously inside
    ``DataStreamWriter.start``)."""

    def __init__(self):
        self.tracer: Tracer | None = None
        self.pass_id: str | None = None
        self.loop: str | None = None
        self.progress: list[dict] = []
        self._run_loop: dict[str, str | None] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        self._run_loop[str(event.runId)] = self.loop
        tr = self.tracer
        if tr is not None and tr.stack:
            tr.stream_runs[str(event.runId)] = tr.stack[-1]

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "pass": self.pass_id,
            "loop": self._run_loop.get(str(p.runId)),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryTerminated(self, event):
        pass

    def batches(self, pass_id: str) -> list[dict]:
        """Progress of the micro-batches that read input in ``pass_id``."""
        with self._lock:
            return [p for p in self.progress if p["pass"] == pass_id and p["rows"] > 0]


def flush_listeners(spark) -> None:
    """Block until every queued listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _fed_python(task_info: dict) -> bool:
    return any(a["Name"] == PY_SENT and int(a.get("Update") or 0) > 0
               for a in task_info.get("Accumulables", ()))


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job from the (uncompressed) event log:
    group, submit/complete epoch seconds, summed task metrics (``py_*``
    over the tasks that fed a Python worker) and the (submit, complete)
    interval of every stage whose tasks fed a Python worker."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": set(),
                    "py_stages": set(),
                    "m": defaultdict(float),
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stage_span[si["Stage ID"]] = (si["Submission Time"] / 1e3,
                                              si["Completion Time"] / 1e3)
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                job["stages"].add(ev["Stage ID"])
                m = job["m"]
                m["tasks"] += 1
                m["run_s"] += tm["Executor Run Time"] / 1e3
                m["cpu_s"] += tm["Executor CPU Time"] / 1e9
                m["gc_s"] += tm["JVM GC Time"] / 1e3
                m["result_bytes"] += tm["Result Size"]
                m["spill_bytes"] += tm["Disk Bytes Spilled"]
                m["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                m["input_rows"] += tm["Input Metrics"]["Records Read"]
                m["output_bytes"] += tm["Output Metrics"]["Bytes Written"]
                sr = tm["Shuffle Read Metrics"]
                m["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                m["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                if _fed_python(ev["Task Info"]):
                    job["py_stages"].add(ev["Stage ID"])
                    m["py_run_s"] += tm["Executor Run Time"] / 1e3
                    m["py_cpu_s"] += tm["Executor CPU Time"] / 1e9
    for job in jobs.values():
        job["py_intervals"] = [stage_span[s] for s in sorted(job["py_stages"]) if s in stage_span]
    return list(jobs.values())


class Attribution:
    """Jobs of one pass, each tied to the span (and its ancestors) whose
    group it carries; jobs with no known group are unattributed."""

    def __init__(self, tracer: Tracer, jobs: list[dict], pass_id: str, t0: float, t1: float):
        self.spans = {s["id"]: s for s in tracer.spans}
        self.jobs = [j for j in jobs if t0 <= j["submit"] <= t1]
        self.by_span: dict[str, list[dict]] = defaultdict(list)
        self.owner: dict[int, str] = {}
        self.unattributed = 0
        for j in self.jobs:
            sid = j["group"] if j["group"] in self.spans else tracer.stream_runs.get(j["group"])
            if sid is None or self.spans[sid]["pass"] != pass_id:
                self.unattributed += 1
                continue
            self.owner[j["id"]] = sid
            while sid is not None:
                self.by_span[sid].append(j)
                sid = self.spans[sid]["parent"]

    def total(self, key: str, jobs: list[dict] | None = None) -> float:
        return sum(j["m"][key] for j in (self.jobs if jobs is None else jobs))

    def ancestor(self, job: dict, name_prefix: str) -> dict | None:
        """The innermost span named with ``name_prefix`` that the job
        was submitted under."""
        sid = self.owner.get(job["id"])
        while sid is not None and not self.spans[sid]["name"].startswith(name_prefix):
            sid = self.spans[sid]["parent"]
        return None if sid is None else self.spans[sid]

    def under(self, name_prefix: str, pass_id: str) -> list[dict]:
        """Jobs under any span of ``pass_id`` named with ``name_prefix``
        (each job once, even when such spans nest)."""
        seen: dict[int, dict] = {}
        for sid, s in self.spans.items():
            if s["pass"] == pass_id and s["name"].startswith(name_prefix):
                for j in self.by_span.get(sid, ()):
                    seen[j["id"]] = j
        return list(seen.values())
