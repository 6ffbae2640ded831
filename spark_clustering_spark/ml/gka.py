"""Genetic k-means (GKA) — reference gka.java, R10-R13.

Krishna-Murty-style GKA: selection + K-means-operator (KMO) + mutation;
there is NO crossover (reference README mislabels the params — SURVEY.md
Q3): ``mutation_prob`` (Pm) and ``mutation_cm`` (Cm) follow gka.java:56-57.

Scale inversion (SURVEY.md §4.3): the reference parallelizes over ≤20
chromosomes with the dataset broadcast (gka.java:303,313); here the
*data* stays partitioned and the population is never materialized.
``fit_layout`` caches the points once as contiguous ``vec_id`` range
slices, each sorted by ``vec_id``. A member's labels are a function of
its centers (argmin, ties to the lowest label) plus at most one
mutated gene, so the per-generation state is tiny (≤ P·k·d centers and
≤ P patches) and crosses the driver as broadcast literals.

One generation = two narrow kernel jobs, no shuffle, no sort:

1. ``gka_reassign`` (KMO): per (slice, member) the row count, the exact
   8-dp distance sum (fitness, R13), the max and float sum of the
   distances, and the (member, label) center partials.
2. The driver sums the slices: objectives, each member's max distance
   and total roulette weight, and each slice's carry-in — the weight of
   every earlier slice (with w = Cm·max(d) − d, a prefix in ``vec_id``
   order is Cm·max·count − Σd, the ``global_running_agg`` scheme).
3. ``gka_mutation_picks`` (mutating members only, R12): each slice
   recomputes those members' distances, scans its rows from the
   carry-in and returns the first qualifying gene with its vector.
4. The driver patches the objective and the center sums with the gene,
   runs roulette selection (R10, Q8 — the wheel is P rows) and derives
   the next centers from the remapped sums; nothing is re-aggregated.

Gen-0 centers come from one ``gka_member_centers`` pass that draws the
initial labels in the kernel. ``GKAResult.labels`` is a lazy kernel
over the source that recomputes the final population on demand.

Determinism (Q5): every draw is the shared integer LCG keyed by
(member, generation, purpose). Q7 (GKA flavor): the mutated gene's
objective contribution is measured against the *pre-mutation* centroid
of its new label (gka.java:242-243). Q9: a label with zero members has
no center; reassignment only considers existing centers and the
mutation patch keeps the old distance if the target center is missing
— no 0/0 NaN can appear.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from spark_clustering_spark.functions.rng import py_lcg_uniform
from spark_clustering_spark.ml.kernels import (
    fit_layout,
    gka_member_centers,
    gka_mutation_picks,
    gka_population_labels,
    gka_reassign,
)

GKA_METRICS_SCHEMA = "gen INT, best_objectvalue DOUBLE, gen_ms BIGINT"


@dataclass
class GKAResult:
    best_member: int
    best_objective: float
    metrics: DataFrame
    labels: DataFrame  # (member_id, vec_id, label) of final population
    history: list[dict]


def _combine_slices(
    rows: list, cm: float
) -> tuple[dict[int, float], dict[tuple[int, int], list], dict, dict]:
    """Driver combine of ``gka_reassign``'s per-(slice, member) rows, in
    slice order. Returns:

    - objectives {member: Σ round(dist, 8)}, exact before the one
      division to float;
    - center sums {(member, label): [n, Σvec]};
    - roulette terms {member: (Cm·max d, total weight, {slice: carry})};
    - slices {slice: (first vec_id, rows)}."""
    units: dict[int, int] = {}
    dmax: dict[int, float] = {}
    sums: dict[tuple[int, int], list] = {}
    slices: dict[int, tuple[int, int]] = {}
    for r in rows:
        m = int(r["member_id"])
        slices[int(r["slice"])] = (int(r["first_id"]), int(r["n_rows"]))
        units[m] = units.get(m, 0) + int(r["dist_units"])
        dmax[m] = max(dmax.get(m, -math.inf), r["max_dist"])
        for lab, n, s in zip(r["labels"], r["n_points"], r["sum_vec"]):
            e = sums.get((m, int(lab)))
            if e is None:
                sums[(m, int(lab))] = [int(n), np.array(s)]
            else:
                e[0] += int(n)
                e[1] = e[1] + np.array(s)
    wheels = {}
    for m in dmax:
        offset, acc, carries = cm * dmax[m], 0.0, {}
        for r in rows:
            if r["member_id"] == m:
                carries[int(r["slice"])] = acc
                acc += offset * r["n_rows"] - r["sum_dist"]
        wheels[m] = (offset, acc, carries)
    objs = {m: u / 10**8 for m, u in units.items()}
    return objs, sums, wheels, slices


def fit_gka(
    spark: SparkSession,
    points: DataFrame,
    k: int = 8,
    pop: int = 10,
    num_gen: int = 5,
    pm: float = 0.6,
    cm: float = 0.9,
    seed: int = 42,
    tol: float = 0.0,
) -> GKAResult:
    """GKA loop. ``points``: (vec_id, vec array<double>).

    ``tol`` > 0 adds convergence stopping (the reference runs a fixed
    generation count, gka.java — a production fit wants tol): stop when
    a generation improves the running best objective by less than tol.
    tol=0 reproduces the fixed-generation history exactly."""
    best = float("inf")
    best_member = -1
    metrics_rows: list[tuple] = []
    history: list[dict] = []
    # (centers, patches, chosen) of the last selected population; the
    # returned labels recompute from it (and the source) when consumed
    last = None
    with fit_layout(points, key="vec_id") as (laid, _):
        centers_map = gka_member_centers(laid, pop, k, seed)

        for gen in range(num_gen):
            t0 = time.time()
            u1 = {m: py_lcg_uniform(m * 7919 + gen, seed + 1) for m in range(pop)}
            mutating = [m for m in range(pop) if u1[m] < pm]
            u2 = {m: py_lcg_uniform(m * 104729 + gen, seed + 2) for m in mutating}
            u3 = {m: py_lcg_uniform(m * 1299709 + gen, seed + 3) for m in mutating}
            targets = {m: int(u3[m] * k) for m in mutating}

            # ---- KMO + fitness: pass 1 ------------------------------------
            objs, sums, wheels, slices = _combine_slices(
                gka_reassign(laid, centers_map), cm
            )

            # ---- mutation gene picks: pass 2 ------------------------------
            genes = {}
            if mutating:
                genes = gka_mutation_picks(
                    laid,
                    {m: centers_map[m] for m in mutating},
                    {m: (targets[m], u2[m], *wheels[m]) for m in mutating},
                    slices,
                )

            patches: dict[int, tuple[int, int]] = {}
            for m, g in sorted(genes.items()):
                new_label = targets[m]
                md = g["mdist"]
                # Q9 guard: NaN mdist = target label has no center → keep
                # the old distance (reference keeps the old contribution)
                new_dist = g["dist"] if md is None or math.isnan(md) else md
                patches[m] = (int(g["vec_id"]), new_label)
                # patch the objective arithmetically (Q7: new distance is
                # against the pre-mutation centroid) — no re-aggregation
                objs[m] = objs[m] - g["dist"] + new_dist
                # patch the center sums the same way: membership sums are
                # linear, so moving one point is two O(d) updates
                v = np.array(g["vec"], dtype=np.float64)
                old_key = (m, int(g["label"]))
                n_old, s_old = sums[old_key]
                if n_old <= 1:
                    del sums[old_key]
                else:
                    sums[old_key] = [n_old - 1, s_old - v]
                e = sums.get((m, new_label))
                if e is None:
                    sums[(m, new_label)] = [1, v.copy()]
                else:
                    sums[(m, new_label)] = [e[0] + 1, e[1] + v]

            prev_best = best
            gen_best_m = min(objs, key=lambda m: (objs[m], m))
            if objs[gen_best_m] < best:
                best, best_member = objs[gen_best_m], gen_best_m
            metrics_rows.append((gen, round(best, 4), int((time.time() - t0) * 1000)))
            history.append({"gen": gen, "objs": objs, "best": best})
            if tol > 0 and gen > 0 and prev_best - best < tol:
                break  # converged: best improved by less than tol

            # ---- selection (R10, driver-side per Q8) ----------------------
            fits = [(m, 1.0 / objs[m]) for m in sorted(objs)]
            total = sum(f for _, f in fits)
            cdf, acc = [], 0.0
            for m, f in fits:
                acc += f / total
                cdf.append((m, acc))
            chosen = []
            for slot in range(pop):
                u = py_lcg_uniform(slot * 15485863 + gen, seed + 4)
                chosen.append(next((m for m, hi in cdf if u <= hi), cdf[-1][0]))
            last = (centers_map, patches, chosen)
            # next generation's KMO centers, derived arithmetically: the
            # selection remap copies the chosen member's patched sums into
            # each slot (sums are linear in membership — no re-aggregation
            # job; a label with zero members has no entry, preserving Q9)
            centers_map = {
                slot: {
                    lab: (s / n).tolist()
                    for (m, lab), (n, s) in sums.items()
                    if m == old
                }
                for slot, old in enumerate(chosen)
            }
    metrics = spark.createDataFrame(metrics_rows, GKA_METRICS_SCHEMA)
    return GKAResult(
        best_member=best_member,
        best_objective=best,
        metrics=metrics,
        labels=gka_population_labels(points, pop, k, seed, last),
        history=history,
    )
