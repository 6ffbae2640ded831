"""The fits' shared cached layout (ml/kernels.fit_layout): partition
count from the row count, every kernel fit goes through it, objectives
agree with the ingest's 8-slice layout, caller-owned caches survive,
and below ROWS_PER_PARTITION rows the MLlib fits do not depend on the
input's partitioning."""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_clustering_spark.ml import gka, gmm, kernels, kmeans, pso
from spark_clustering_spark.ml.kernels import layout_partitions

FIT_MODULES = {"kmeans": kmeans, "pso": pso, "gmm": gmm, "gka": gka}


def _points(spark, n: int = 4_000, parts: int = 8):
    """Deterministic 3-d points, ``parts`` contiguous id slices."""
    i = F.col("id")
    return spark.range(0, n, numPartitions=parts).select(
        i.alias("vec_id"),
        F.array(
            F.sin(i) * 5.0, F.cos(i * 0.7) * 3.0, (i % 13).cast("double")
        ).alias("vec"),
    )


def _fit(spark, name: str, points):
    if name == "kmeans":
        return kmeans.fit_kmeans(spark, points, k=3, num_iter=3, num_run=2)
    if name == "pso":
        return pso.fit_pso(spark, points, k=3, num_particles=4, num_iter=2)
    if name == "gmm":
        return gmm.fit_gmm(spark, points, k=3, num_iter=2, sigma2=4.0)
    return gka.fit_gka(spark, points, k=3, pop=4, num_gen=2)


def test_partition_count_follows_row_count(spark):
    par = spark.sparkContext.defaultParallelism
    assert layout_partitions(0, par) == 1
    assert layout_partitions(1, par) == 1
    assert layout_partitions(20_000, par) == 1
    assert layout_partitions(20_001, max(par, 2)) == 2
    assert layout_partitions(10**12, par) == par


def _spy_layout(monkeypatch, module) -> list:
    """Route ``module``'s fit_layout through a recorder of the yielded
    ``(laid_out_points, n)`` pairs."""
    seen = []

    @contextmanager
    def spy(points, key=None):
        with kernels.fit_layout(points, key) as (laid, n):
            seen.append((laid, n))
            yield laid, n

    monkeypatch.setattr(module, "fit_layout", spy)
    return seen


@pytest.mark.parametrize("name", sorted(FIT_MODULES))
def test_fit_goes_through_layout_and_keeps_caller_cache(spark, monkeypatch, name):
    """Each kernel fit runs over fit_layout's data-sized copy; an input
    the caller persisted is still cached afterwards."""
    seen = _spy_layout(monkeypatch, FIT_MODULES[name])
    points = _points(spark, n=400).persist()
    try:
        points.count()
        _fit(spark, name, points)
        assert len(seen) == 1 and seen[0][1] == 400
        assert seen[0][0].rdd.getNumPartitions() == 1
        assert points.storageLevel.useMemory, "caller's cache was dropped"
    finally:
        points.unpersist()


@pytest.mark.parametrize("name", sorted(FIT_MODULES))
def test_fit_releases_its_own_caches(spark, monkeypatch, name):
    seen = _spy_layout(monkeypatch, FIT_MODULES[name])
    points = _points(spark, n=400)
    _fit(spark, name, points)
    assert not points.storageLevel.useMemory
    assert not seen[0][0].storageLevel.useMemory


@contextmanager
def _ingest_layout(points, key=None):
    """The pre-sizing layout: the input cached as it arrives."""
    points = points.persist()
    try:
        yield points, points.count()
    finally:
        points.unpersist()


def test_kmeans_objectives_match_eight_slice_layout(spark, monkeypatch):
    points = _points(spark)
    sized = kmeans.fit_kmeans(spark, points, k=4, num_iter=4, num_run=2)
    monkeypatch.setattr(kmeans, "fit_layout", _ingest_layout)
    sliced = kmeans.fit_kmeans(spark, points, k=4, num_iter=4, num_run=2)
    assert len(sized.history) == len(sliced.history) == 8
    for a, b in zip(sized.history, sliced.history):
        for key in ("objective", "objective_sq"):
            np.testing.assert_allclose(a[key], b[key], rtol=1e-9)
    np.testing.assert_allclose(sized.best_objective, sliced.best_objective, rtol=1e-9)


def test_pso_objectives_match_eight_slice_layout(spark, monkeypatch):
    points = _points(spark)
    sized = pso.fit_pso(spark, points, k=3, num_particles=5, num_iter=3)
    monkeypatch.setattr(pso, "fit_layout", _ingest_layout)
    sliced = pso.fit_pso(spark, points, k=3, num_particles=5, num_iter=3)
    assert len(sized.history) == len(sliced.history) == 3
    for a, b in zip(sized.history, sliced.history):
        np.testing.assert_allclose(a["objs"], b["objs"], rtol=1e-9)
    np.testing.assert_allclose(sized.best_objective, sliced.best_objective, rtol=1e-9)


def test_mllib_fits_do_not_depend_on_input_partitioning(spark):
    """MLlib's seeded inits sample per partition; up to
    ROWS_PER_PARTITION rows the layout is one partition, so the same
    rows and seed give the same model however the caller partitioned
    them."""
    from spark_clustering_spark.ml.gmm import fit_gmm_mllib
    from spark_clustering_spark.ml.kmeans import fit_kmeans_mllib

    a, b = _points(spark, n=600, parts=8), _points(spark, n=600, parts=3)
    km_a, _ = fit_kmeans_mllib(spark, a, k=3, num_iter=5, seed=7)
    km_b, _ = fit_kmeans_mllib(spark, b, k=3, num_iter=5, seed=7)
    assert [list(c) for c in km_a.clusterCenters()] == [
        list(c) for c in km_b.clusterCenters()
    ]
    gm_a, _ = fit_gmm_mllib(spark, a, k=3, num_iter=5, seed=7)
    gm_b, _ = fit_gmm_mllib(spark, b, k=3, num_iter=5, seed=7)
    assert list(gm_a.weights) == list(gm_b.weights)
