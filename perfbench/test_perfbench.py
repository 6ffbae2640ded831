"""Self-tests of the benchmark (not of the program):

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start a real SparkSession on tiny inputs, one process
each, and take about a minute apiece.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import layers
import stats
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _bench_json()[kind]}


def _reported_units(res: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in res["metrics"].items()}


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _bench_json()["workloads"]] == list(WORKLOADS)


def test_covered_counts_the_union_of_intervals_inside_the_window():
    assert layers._covered([], 0.0, 1.0) == 0.0
    assert layers._covered([(0.2, 0.5), (0.4, 0.7), (0.9, 2.0)], 0.0, 1.0) == pytest.approx(0.6)
    assert layers._covered([(-1.0, 0.1), (0.5, 0.5)], 0.0, 1.0) == pytest.approx(0.1)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert stats.tail(list(range(19))) is None
    assert stats.tail(list(range(20))) == (50, stats.quantile(list(range(20)), 0.5))
    p, v = stats.tail([float(x) for x in range(100)])
    assert p == 90 and v == pytest.approx(89.1)
    p, _ = stats.tail([1.0] * 1000)
    assert p == 99
    for n in (20, 37, 100, 999):
        p, _ = stats.tail([0.0] * n)
        assert n - n * p / 100 >= stats.TAIL_MIN_BEYOND
        assert n - n * (p + 1) / 100 < stats.TAIL_MIN_BEYOND


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_traced_smoke_run(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", "1", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = _last_json(out.stdout)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert _reported_units(res) == _units("per_layer")
    assert "check: " in out.stdout and "FAIL" not in out.stdout
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))
    spans_file = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-3.json")
    with open(spans_file) as f:
        spans = json.load(f)
    assert spans and {"name", "start", "end", "parent", "pass"} <= set(spans[0])


def test_injected_failure_counts_in_fail_frac():
    # break one registry key before the run loads the registry (a no-op
    # on modules already imported), then run the workload in-process
    code = (
        "import json, sys, run; sys.path.insert(0, run.ROOT)\n"
        "from spark_clustering_spark import registry\n"
        "registry.load_all_queries()\n"
        "def broken(spark, sf_dir): raise RuntimeError('injected failure')\n"
        "registry.QUERIES['q_dedup_exact'] = broken\n"
        "print(json.dumps(run.run('pipeline_stream', 3, 0, False, tiny=True)))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=HERE, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = _last_json(out.stdout)
    # the key fails on both passes, and so does the write that reads it
    assert not res["correct"] and res["failed"] == 4
    assert f"{4 / res['attempted']:.4f}" in out.stdout
    assert _reported_units(res) == _units("end_to_end")


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fit_ref", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
