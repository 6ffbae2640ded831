"""GKA over several vec_id range slices: the carry-in roulette scan,
the per-slice partials and the lazy final labels agree with the
one-slice run and with an independent numpy replay; a generation is
two jobs (one when no member mutates); the pick pass refuses a layout
that changed under it; the 8-dp objective sum is exact at any size."""

from __future__ import annotations

import math
import uuid

import numpy as np
import pytest

from spark_clustering_spark.ml import gka, kernels
from tests.test_fit_layout import _points

K, POP, GENS, PM, CM, SEED = 4, 6, 3, 0.6, 0.9, 3


def _dm(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    sq = (V * V).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (V @ C.T)
    np.maximum(sq, 0.0, out=sq)
    return np.sqrt(sq)


def _replay(ids: np.ndarray, mat: np.ndarray):
    """Whole-array numpy GKA: per generation the objectives, the running
    best and the picked genes {member: (vec_id, old label)}; then the
    final population's labels (pop × n, vec_id order)."""
    from spark_clustering_spark.functions.rng import py_lcg_uniform

    n = len(ids)
    labels = np.stack(
        [
            np.floor(
                ((m * 1_000_003 + ids) * 1103515245 + 12345 + SEED) % 2**31
                / float(2**31) * K
            ).astype(np.int64)
            for m in range(POP)
        ]
    )
    best, gens = math.inf, []
    for gen in range(GENS):
        u1 = {m: py_lcg_uniform(m * 7919 + gen, SEED + 1) for m in range(POP)}
        mutating = [m for m in range(POP) if u1[m] < PM]
        u2 = {m: py_lcg_uniform(m * 104729 + gen, SEED + 2) for m in mutating}
        u3 = {m: py_lcg_uniform(m * 1299709 + gen, SEED + 3) for m in mutating}
        objs, picks = {}, {}
        for m in range(POP):
            cids = np.unique(labels[m])
            C = np.stack([mat[labels[m] == c].mean(axis=0) for c in cids])
            D = _dm(mat, C)
            idx = D.argmin(axis=1)
            new_lab = cids[idx]
            dist = D[np.arange(n), idx]
            objs[m] = float(np.round(dist, 8).sum())
            if m in u2:
                t = int(u3[m] * K)
                tpos = int(np.searchsorted(cids, t))
                has_target = tpos < len(cids) and cids[tpos] == t
                hi = np.cumsum(CM * dist.max() - dist)
                hi = hi / hi[-1]
                lo = np.concatenate(([0.0], hi[:-1]))
                q = np.nonzero((u2[m] >= lo) & (u2[m] < hi))[0]
                if len(q):
                    i = int(q[0])
                    picks[m] = (int(ids[i]), int(new_lab[i]))
                    objs[m] += (D[i, tpos] if has_target else dist[i]) - dist[i]
                    new_lab = new_lab.copy()
                    new_lab[i] = t
            labels[m] = new_lab
        best = min(best, min(objs.values()))
        gens.append((objs, best, picks))
        fits = [(m, 1.0 / objs[m]) for m in sorted(objs)]
        total = sum(f for _, f in fits)
        cdf, acc = [], 0.0
        for m, f in fits:
            acc += f / total
            cdf.append((m, acc))
        chosen = [
            next(
                (m for m, hi_ in cdf if py_lcg_uniform(s * 15485863 + gen, SEED + 4) <= hi_),
                cdf[-1][0],
            )
            for s in range(POP)
        ]
        labels = labels[np.array(chosen)]
    return gens, labels


def _fit(spark, monkeypatch, points, rows_per_partition: int):
    """fit_gka with the layout's slice size set, recording the slice
    count and every generation's picked genes."""
    monkeypatch.setattr(kernels, "ROWS_PER_PARTITION", rows_per_partition)
    picks, slices = [], []

    def record_picks(laid, *args):
        genes = kernels.gka_mutation_picks(laid, *args)
        picks.append(genes)
        slices.append(laid.rdd.getNumPartitions())
        return genes

    monkeypatch.setattr(gka, "gka_mutation_picks", record_picks)
    res = gka.fit_gka(
        spark, points, k=K, pop=POP, num_gen=GENS, pm=PM, cm=CM, seed=SEED
    )
    return res, picks, set(slices)


def test_multi_slice_generations_match_one_slice_and_replay(spark, monkeypatch):
    if spark.sparkContext.defaultParallelism < 3:
        pytest.skip("needs 3 cores for 3 range slices")
    points = _points(spark)
    one, one_picks, one_slices = _fit(spark, monkeypatch, points, 20_000)
    multi, multi_picks, multi_slices = _fit(spark, monkeypatch, points, 1_000)
    assert one_slices == {1} and min(multi_slices) >= 3

    rows = sorted(points.collect())
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([list(r.vec) for r in rows], dtype=np.float64)
    replay, final = _replay(ids, mat)

    assert len(one.history) == len(multi.history) == GENS
    for h1, hm, (objs, best, picks), g1, gm in zip(
        one.history, multi.history, replay, one_picks, multi_picks
    ):
        for m in range(POP):
            np.testing.assert_allclose(hm["objs"][m], h1["objs"][m], rtol=1e-9)
            np.testing.assert_allclose(hm["objs"][m], objs[m], rtol=1e-9)
        np.testing.assert_allclose(hm["best"], h1["best"], rtol=1e-9)
        np.testing.assert_allclose(hm["best"], best, rtol=1e-9)
        for genes in (g1, gm):
            assert {m: (g["vec_id"], g["label"]) for m, g in genes.items()} == picks
    # the carry-in path ran: some gene came from a slice after the first
    assert any(g["slice"] > 0 for genes in multi_picks for g in genes.values())

    got = np.zeros_like(final)
    for r in multi.labels.collect():
        got[r.member_id, r.vec_id] = r.label
    np.testing.assert_array_equal(got, final)
    assert multi.best_member == one.best_member


def _fit_jobs(spark, points, num_gen: int, pm: float) -> int:
    sc = spark.sparkContext
    group = f"gka-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "GKA job count")
    try:
        gka.fit_gka(spark, points, k=3, pop=4, num_gen=num_gen, pm=pm, seed=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_generation_is_two_jobs(spark):
    """A generation is the reassign pass plus, when a member mutates,
    the pick pass — counted as the jobs a second generation adds."""
    points = _points(spark, n=600)
    assert _fit_jobs(spark, points, 2, 1.0) - _fit_jobs(spark, points, 1, 1.0) == 2
    assert _fit_jobs(spark, points, 2, 0.0) - _fit_jobs(spark, points, 1, 0.0) == 1


def test_pick_pass_refuses_a_changed_layout(spark, monkeypatch):
    monkeypatch.setattr(kernels, "ROWS_PER_PARTITION", 1_000)
    with kernels.fit_layout(_points(spark), key="vec_id") as (laid, _):
        centers = kernels.gka_member_centers(laid, 1, 3, SEED)
        _, _, wheels, slices = gka._combine_slices(
            kernels.gka_reassign(laid, centers), CM
        )
        args = (laid, centers, {0: (1, 0.999, *wheels[0])})
        assert set(kernels.gka_mutation_picks(*args, slices)) == {0}
        first, rows = slices[0]
        for changed in ((first + 1, rows), (first, rows - 1)):
            with pytest.raises(Exception, match="range layout changed"):
                kernels.gka_mutation_picks(*args, {**slices, 0: changed})


def test_objective_units_exact_at_any_size():
    d = np.full(1_000_000, 9.0e7 - 0.123456785)
    assert kernels._units_8dp(d) == 1_000_000 * round(float(d[0]) * 1e8)
    big = np.array([1e12, 2.5e12])
    assert kernels._units_8dp(big) == 35 * 10**19
    assert kernels._units_8dp(np.array([0.123456785, 1.0])) == int(
        round(np.round(0.123456785, 8) * 1e8)
    ) + 10**8
