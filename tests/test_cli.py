"""Reference-parity CLI (R22 + R20 sink) + golden traces (SURVEY.md
§5.5): seeded runs on the committed csv_tiny fixture must reproduce
the committed objective traces."""

from __future__ import annotations

import os

import pytest

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark_clustering_spark",
    "fixtures",
    "csv_tiny.csv",
)

# golden best_objectvalue traces, seed=42 (captured from a verified run;
# compared with tolerance to allow BLAS ulp differences across builds)
GOLDEN_KMEANS = [57.9642, 15.3904, 5.6081, 5.6081, 5.6081]
GOLDEN_GKA = [64.1237, 26.3083, 19.3791]
GOLDEN_PSO = [51.8231, 51.8231, 51.8231, 51.8231]


def _read_trace(path: str) -> tuple[list[float], str]:
    lines = open(path).read().strip().splitlines()
    assert lines[-1].endswith("ms"), "missing trailing total-ms line (R20)"
    vals = [float(ln.split(",")[1]) for ln in lines[:-1]]
    return vals, lines[-1]


def _run(args: list[str]) -> int:
    from spark_clustering_spark.cli import main

    return main(args)


def test_cli_kmeans_golden_trace(spark, tmp_path):
    out = str(tmp_path / "km.txt")
    assert _run(["kmeans", FIXTURE, "5", "3", out, "1"]) == 0
    vals, _ = _read_trace(out)
    assert len(vals) == 5
    for got, want in zip(vals, GOLDEN_KMEANS):
        assert abs(got - want) < 1e-2, (vals, GOLDEN_KMEANS)


def test_cli_gka_golden_trace(spark, tmp_path):
    out = str(tmp_path / "gka.txt")
    assert _run(["gka", FIXTURE, "3", "3", out, "1", "6", "0.6", "0.9"]) == 0
    vals, _ = _read_trace(out)
    for got, want in zip(vals, GOLDEN_GKA):
        assert abs(got - want) < 1e-2, (vals, GOLDEN_GKA)


def test_cli_pso_golden_trace(spark, tmp_path):
    out = str(tmp_path / "pso.txt")
    assert _run(
        ["pso", FIXTURE, "4", "3", out, "1", "6", "2", "2", "0.9", "0.4"]
    ) == 0
    vals, _ = _read_trace(out)
    for got, want in zip(vals, GOLDEN_PSO):
        assert abs(got - want) < 1e-2, (vals, GOLDEN_PSO)


IRIS = "/root/reference/dataset/iris.txt"  # reference's own 150×4 dataset

# seed=42 traces on the real reference dataset (reference run shape:
# README.md:63 `spark-submit ... kmeans <csv> 10 3 <out> 1`); objective
# is the unsquared distance sum (SURVEY.md Q4)
GOLDEN_IRIS_KMEANS = [
    208.4279, 128.5255, 111.4545, 101.061, 98.9757,
    98.2778, 98.0678, 97.6344, 97.4504, 97.3272,
]
GOLDEN_IRIS_GKA = [248.5752, 105.7221, 98.9757, 98.2778, 98.0672]
GOLDEN_IRIS_PSO = [198.6808, 198.4517, 196.4468, 195.3663, 194.8605]


@pytest.mark.skipif(not os.path.exists(IRIS), reason="reference dataset absent")
def test_cli_kmeans_iris_golden_trace(spark, tmp_path):
    out = str(tmp_path / "iris_km.txt")
    assert _run(["kmeans", IRIS, "10", "3", out, "1"]) == 0
    vals, total = _read_trace(out)
    assert total.endswith("ms")
    for got, want in zip(vals, GOLDEN_IRIS_KMEANS):
        assert abs(got - want) < 1e-2, (vals, GOLDEN_IRIS_KMEANS)


@pytest.mark.skipif(not os.path.exists(IRIS), reason="reference dataset absent")
def test_cli_gka_iris_golden_trace(spark, tmp_path):
    out = str(tmp_path / "iris_gka.txt")
    assert _run(["gka", IRIS, "5", "3", out, "1", "10", "0.6", "0.9"]) == 0
    vals, _ = _read_trace(out)
    for got, want in zip(vals, GOLDEN_IRIS_GKA):
        assert abs(got - want) < 1e-2, (vals, GOLDEN_IRIS_GKA)


@pytest.mark.skipif(not os.path.exists(IRIS), reason="reference dataset absent")
def test_cli_pso_iris_golden_trace(spark, tmp_path):
    out = str(tmp_path / "iris_pso.txt")
    assert _run(
        ["pso", IRIS, "5", "3", out, "1", "10", "2", "2", "0.9", "0.4"]
    ) == 0
    vals, _ = _read_trace(out)
    for got, want in zip(vals, GOLDEN_IRIS_PSO):
        assert abs(got - want) < 1e-2, (vals, GOLDEN_IRIS_PSO)


WINE = "/root/reference/dataset/wine.txt"        # 178×13
FINLAND = "/root/reference/dataset/User-locations-Finland_N13467-D2.txt"  # 13467×2

GOLDEN_WINE_KMEANS = [
    26402.8001, 18849.5321, 18849.5321, 18844.6138,
    18755.6651, 18609.2221, 18515.8679, 18489.7968,
]
GOLDEN_FINLAND_KMEANS = [
    72676631.2358, 71108187.8779, 65009199.6159,
    58585196.936, 57364273.9731, 57256782.947,
]


@pytest.mark.skipif(not os.path.exists(WINE), reason="reference dataset absent")
def test_cli_kmeans_wine_golden_trace(spark, tmp_path):
    out = str(tmp_path / "wine_km.txt")
    assert _run(["kmeans", WINE, "8", "3", out, "1"]) == 0
    vals, _ = _read_trace(out)
    for got, want in zip(vals, GOLDEN_WINE_KMEANS):
        # wide-magnitude features (proline ~1000s): relative tolerance
        assert abs(got - want) / want < 1e-4, (vals, GOLDEN_WINE_KMEANS)


@pytest.mark.skipif(not os.path.exists(FINLAND), reason="reference dataset absent")
def test_cli_kmeans_finland_golden_trace(spark, tmp_path):
    """The reference repo's headline dataset (13467×2 user locations)."""
    out = str(tmp_path / "fin_km.txt")
    assert _run(["kmeans", FINLAND, "6", "4", out, "1"]) == 0
    vals, _ = _read_trace(out)
    for got, want in zip(vals, GOLDEN_FINLAND_KMEANS):
        assert abs(got - want) / want < 1e-6, (vals, GOLDEN_FINLAND_KMEANS)


def test_cli_reference_compat_flag(spark, tmp_path):
    """Q2: --reference-compat (inertia-overwrite PSO) is accepted and
    produces a well-formed R20 trace. (That the flag changes the swarm
    trajectory is asserted on richer data in test_clustering.py —
    best-objective traces can legitimately coincide on 12 points.)"""
    out_b = str(tmp_path / "b.txt")
    assert _run(
        ["pso", FIXTURE, "3", "3", out_b, "1", "4", "2", "2", "0.9", "0.4",
         "--reference-compat"]
    ) == 0
    vb, total = _read_trace(out_b)
    assert len(vb) == 3 and total.endswith("ms")


def test_cli_leaves_caller_session_conf_unchanged(spark, tmp_path):
    """cli.main runs in the caller's session: it must not rewrite that
    session's runtime conf (it used to reset spark.sql.shuffle.partitions
    to the engine default, breaking later tests that relied on it)."""
    before = dict(spark.conf.getAll)
    out = str(tmp_path / "km.txt")
    assert _run(["kmeans", FIXTURE, "2", "3", out, "1"]) == 0
    assert dict(spark.conf.getAll) == before


def test_get_spark_restores_result_conf_on_running_session(spark):
    """The settings results depend on are applied to a running session
    too; its performance settings are left alone."""
    from spark_clustering_spark.session import RESULT_CONF, get_spark

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        assert get_spark() is spark
        for key, value in RESULT_CONF.items():
            assert spark.conf.get(key) == value
        assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    finally:
        for key, value in RESULT_CONF.items():
            spark.conf.set(key, value)
