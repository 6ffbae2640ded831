"""Vectorized per-partition kernels for the iterative fit loops.

The oracle-checked operators (operators/clustering.py) use pure
DataFrame expressions — the right parity surface. The fit loops' hot
path uses these Arrow-batched kernels instead, because:

- assignment + centroid-update as DataFrame ops costs a broadcast join,
  interpreted array-HOF folds, a posexplode to n·d rows, and a shuffle
  keyed on (cluster, dim) — the exploded shuffle grows linearly with
  data size;
- the kernel computes assignment (BLAS distance matrix) AND the partial
  per-cluster statistics inside each partition, emitting exactly k rows
  per partition. The only shuffle is k·num_partitions tiny stat rows →
  final combine. This is how a 100 TB Lloyd iteration must look: one
  narrow pass, constant-size shuffle.

Layout: every fit (the MLlib ones in ml/kmeans.py and ml/gmm.py too)
runs over ``fit_layout``'s cached copy of the input, whose partition
count follows from the row count alone (``layout_partitions``: one
partition per ``ROWS_PER_PARTITION`` rows, capped at the cluster's
parallelism). At small n a kernel job's cost is
Python-worker round-trips, so a tiny input runs as one fat task; a
large input still saturates the cluster.

Determinism: the layout is a function of n (and the cluster's
parallelism), so the same input gives the same float partial-sum order
⇒ bitwise-reproducible runs (asserted in tests). One exception: GKA's
range layout with more than one slice (n > ROWS_PER_PARTITION) takes
its slice bounds from Spark's sampled range partitioner, which draws a
new sample per fit, so runs agree to float tolerance only. Cross-layout
runs agree to float tolerance — the hash-matched surface remains the
expression path.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

import numpy as np

from pyspark.sql import DataFrame

from spark_clustering_spark.functions.rng import np_lcg_uniform

# rows per kernel partition: small enough that one BLAS batch stays
# cache-friendly, large enough that a tiny input is not split into
# Python-worker round-trips (measured against the input's own layout
# and against 5,000 at 5k-60k rows x 10-64 dims: PERF.md "Fit layout")
ROWS_PER_PARTITION = 20_000


def layout_partitions(n: int, parallelism: int) -> int:
    """Kernel partition count for ``n`` rows:
    clamp(ceil(n / ROWS_PER_PARTITION), 1, parallelism)."""
    return max(1, min(parallelism, -(-n // ROWS_PER_PARTITION)))


@contextmanager
def fit_layout(
    points: DataFrame, key: str | None = None
) -> Iterator[tuple[DataFrame, int]]:
    """Cache a fit's input once and yield ``(laid_out_points, n)``.

    The input is persisted and counted at its incoming parallelism, so
    the upstream scan and ingest stages keep their task count. The
    cached copy is then narrowed to ``layout_partitions(n)``:

    - ``key=None``: ``coalesce`` over the cache — no shuffle, no second
      copy; it only merges partitions, never splits one;
    - ``key="vec_id"`` (GKA): range-partitioned on the key, sorted
      within each slice and cached, so partition i is the i-th
      contiguous ``vec_id`` range and a kernel scans it in ``vec_id``
      order — a prefix in ``vec_id`` order is then a per-slice carry-in
      plus a local running sum. The pre-shuffle cache is released as
      soon as the new one is materialized.

    Only caches created here are released on exit: an input the caller
    already persisted stays cached."""
    owned: list[DataFrame] = []
    if not points.storageLevel.useMemory and not points.storageLevel.useDisk:
        points = points.persist()
        owned.append(points)
    try:
        n = points.count()
        parts = layout_partitions(
            n, points.sparkSession.sparkContext.defaultParallelism
        )
        if key is None:
            laid = points.coalesce(parts)
        else:
            laid = (
                points.repartitionByRange(parts, key)
                .sortWithinPartitions(key)
                .persist()
            )
            owned.append(laid)
            laid.count()
            # the shuffled copy is materialized: free the source cache now
            for df in owned[:-1]:
                df.unpersist()
            del owned[:-1]
        yield laid, n
    finally:
        for df in owned:
            df.unpersist()


LLOYD_STATS_SCHEMA = (
    "cluster_id INT, n_points BIGINT, sum_dist DOUBLE, sum_sq DOUBLE, "
    "sum_vec ARRAY<DOUBLE>"
)


def _dist_matrix(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Pairwise L2 distances |V_i - C_j| via the expanded dot-product
    identity (one GEMM instead of a per-pair loop)."""
    sq = (V * V).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (V @ C.T)
    np.maximum(sq, 0.0, out=sq)
    return np.sqrt(sq)


def _driver_combine(
    partial: DataFrame,
    key_fields: tuple[str, ...],
    scalar_fields: tuple[str, ...],
    vec_field: str | None = None,
) -> dict[tuple, list]:
    """Final combine of map-side partial stats on the driver.

    The alternative — groupBy().agg() with one F.sum per vector dim —
    costs a shuffle stage plus whole-stage codegen of a d-wide
    aggregate on EVERY call (~0.5s warm, ~2s on first compile). The
    partial pass already reduced data-sized input to at most
    keys × num_partitions tiny rows, so collecting those and summing in
    numpy is cheaper at any data scale. Accumulation follows collect
    order (partition order) — deterministic for a fixed layout, the
    same guarantee the kernel tests assert."""
    acc: dict[tuple, list] = {}
    for r in partial.collect():
        key = tuple(int(r[k]) for k in key_fields)
        e = acc.get(key)
        if e is None:
            e = acc[key] = [0] * len(scalar_fields) + (
                [np.zeros(len(r[vec_field]))] if vec_field else []
            )
        for i, s in enumerate(scalar_fields):
            e[i] += r[s]
        if vec_field:
            e[-1] += np.asarray(r[vec_field], dtype=np.float64)
    return acc


def lloyd_partial_stats(points: DataFrame, centers: np.ndarray) -> DataFrame:
    """One Lloyd half-iteration, map-side: per partition, assign every
    vector to its nearest center (ties → lower cluster id, matching the
    expression path) and emit k partial-stat rows. ``points``:
    (vec_id, vec array<double>); ``centers``: (k, d) ndarray."""
    k, d = centers.shape
    bc = points.sparkSession.sparkContext.broadcast(centers)

    def kernel(batches) -> Iterator:
        import pandas as pd

        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            D = _dist_matrix(V, C)
            lab = D.argmin(axis=1)  # argmin returns FIRST min → lower cid on ties
            md = D[np.arange(len(V)), lab]
            out = {
                "cluster_id": [],
                "n_points": [],
                "sum_dist": [],
                "sum_sq": [],
                "sum_vec": [],
            }
            for c in range(k):
                m = lab == c
                n = int(m.sum())
                if not n:
                    continue
                out["cluster_id"].append(c)
                out["n_points"].append(n)
                out["sum_dist"].append(float(md[m].sum()))
                out["sum_sq"].append(float((md[m] * md[m]).sum()))
                out["sum_vec"].append(V[m].sum(axis=0).tolist())
            yield pd.DataFrame(out)

    return points.mapInPandas(kernel, LLOYD_STATS_SCHEMA)


def lloyd_iteration(
    points: DataFrame, centers: np.ndarray
) -> list[dict]:
    """Full Lloyd iteration: map-side partials + k-row final combine.
    Returns one dict per non-empty cluster:
    {cluster_id, n_points, sum_dist, sum_sq, mean(list)}."""
    partial = lloyd_partial_stats(points, centers)
    acc = _driver_combine(
        partial, ("cluster_id",), ("n_points", "sum_dist", "sum_sq"), "sum_vec"
    )
    out = []
    for (cid,), (n, sd, ss, sv) in sorted(acc.items()):
        out.append(
            {
                "cluster_id": cid,
                "n_points": int(n),
                "sum_dist": float(sd),
                "sum_sq": float(ss),
                "mean": [s / n for s in sv],
            }
        )
    return out


LLOYD_MULTI_SCHEMA = (
    "run INT, cluster_id INT, n_points BIGINT, sum_dist DOUBLE, "
    "sum_sq DOUBLE, sum_vec ARRAY<DOUBLE>"
)


def lloyd_iteration_multi(
    points: DataFrame, centers_stack: dict[int, np.ndarray]
) -> dict[int, list[dict]]:
    """Lloyd iteration for SEVERAL independent restarts in ONE pass:
    the kernel assigns each partition's block against every run's
    centroid set (R small GEMMs) and emits R·k partial-stat rows per
    partition — multi-restart costs one job per iteration instead of
    one per (run, iteration). Results are identical to running each
    restart alone (per-run math is independent).

    ``centers_stack``: {run_id: (k, d) ndarray}. Returns
    {run_id: [stats dicts as in lloyd_iteration]}."""
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(
        {int(r): np.asarray(c, dtype=np.float64) for r, c in centers_stack.items()}
    )

    def kernel(batches) -> Iterator:
        import pandas as pd

        stacks = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            out = {
                "run": [], "cluster_id": [], "n_points": [],
                "sum_dist": [], "sum_sq": [], "sum_vec": [],
            }
            for run, C in stacks.items():
                D = _dist_matrix(V, C)
                lab = D.argmin(axis=1)
                md = D[np.arange(len(V)), lab]
                for c in range(C.shape[0]):
                    m = lab == c
                    n = int(m.sum())
                    if not n:
                        continue
                    out["run"].append(run)
                    out["cluster_id"].append(c)
                    out["n_points"].append(n)
                    out["sum_dist"].append(float(md[m].sum()))
                    out["sum_sq"].append(float((md[m] * md[m]).sum()))
                    out["sum_vec"].append(V[m].sum(axis=0).tolist())
            yield pd.DataFrame(out)

    partial = points.mapInPandas(kernel, LLOYD_MULTI_SCHEMA)
    acc = _driver_combine(
        partial,
        ("run", "cluster_id"),
        ("n_points", "sum_dist", "sum_sq"),
        "sum_vec",
    )
    out: dict[int, list[dict]] = {int(r): [] for r in centers_stack}
    for (run, cid), (n, sd, ss, sv) in sorted(acc.items()):
        out[run].append(
            {
                "cluster_id": cid,
                "n_points": int(n),
                "sum_dist": float(sd),
                "sum_sq": float(ss),
                "mean": [s / n for s in sv],
            }
        )
    return out


PARTICLE_OBJ_SCHEMA = "pid INT, partial_obj DOUBLE"


def pso_objectives(points: DataFrame, X: np.ndarray) -> np.ndarray:
    """All-particle objective evaluation in one narrow pass: per
    partition, a (batch × k) distance matrix per particle (BLAS),
    partial Σ min-dist per particle; final combine is P tiny rows.
    ``X``: (P, k, d). Returns (P,) objectives (Q4: unsquared sums)."""
    P = X.shape[0]
    bc = points.sparkSession.sparkContext.broadcast(X)

    def kernel(batches) -> Iterator:
        import pandas as pd

        Xl = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            objs = [
                float(_dist_matrix(V, Xl[p]).min(axis=1).sum())
                for p in range(Xl.shape[0])
            ]
            yield pd.DataFrame({"pid": list(range(Xl.shape[0])), "partial_obj": objs})

    partial = points.mapInPandas(kernel, PARTICLE_OBJ_SCHEMA)
    acc = _driver_combine(partial, ("pid",), ("partial_obj",))
    out = np.zeros(P)
    for (pid,), (obj,) in acc.items():
        out[pid] = obj
    return out


GKA_CENTER_STATS_SCHEMA = (
    "member_id INT, label INT, n_points BIGINT, sum_vec ARRAY<DOUBLE>"
)


def _init_labels(ids: np.ndarray, member: int, k: int, seed: int) -> np.ndarray:
    """Gen-0 label of every point for ``member`` (reference create_sol,
    gka.java:380-386), seeded: floor(k · u(member·1,000,003 + vec_id))."""
    u = np_lcg_uniform(member * 1_000_003 + ids, seed)
    return np.floor(u * k).astype(np.int32)


def _prepare_centers(
    centers_by_member: dict[int, dict[int, list]],
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """{member: {cid: center}} → {member: (sorted cids, (k_m, d) centers)}."""
    return {
        m: (
            np.array(sorted(cs)),
            np.array([cs[c] for c in sorted(cs)], dtype=np.float64),
        )
        for m, cs in centers_by_member.items()
    }


def _assign(V: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """KMO reassignment of a batch against one member's centers:
    (distance matrix, argmin position — first min, so the lowest existing
    label on ties —, distance to the assigned center)."""
    D = _dist_matrix(V, C)
    idx = D.argmin(axis=1)
    return D, idx, D[np.arange(len(V)), idx]


def _units_8dp(d: np.ndarray) -> int:
    """Σ round(d, 8) as an exact integer count of 1e-8 units: each
    distance is rounded to 8 dp (``np.round``'s rule) and the scaled
    integers are summed as Python ints, so the objective cannot
    overflow or drop a digit at any n. Below 2^53 units (distances
    under ≈9e7) each value splits into 31-bit halves whose int64 sums
    are exact for any batch size."""
    q = np.rint(d * 1e8)
    if not q.size:
        return 0
    if q.max() < 2.0**53:
        qi = q.astype(np.int64)
        return (int((qi >> 31).sum()) << 31) + int((qi & (2**31 - 1)).sum())
    return sum(int(x) for x in q.tolist())


def gka_member_centers(
    points: DataFrame, pop: int, k: int, seed: int
) -> dict[int, dict[int, list[float]]]:
    """Gen-0 KMO centers of every member in one narrow pass: the kernel
    draws each member's initial labels itself (``_init_labels``, the
    seeded LCG of (member, vec_id)) and emits per-(member, label)
    partial sums; the driver combines ≤ P·k·num_partitions tiny rows.
    Returns {member: {label: mean}}."""

    def kernel(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            frames = []
            for m in range(pop):
                uniq, counts, sums = _segmented_sums(_init_labels(ids, m, k, seed), V)
                frames.append(
                    pd.DataFrame(
                        {
                            "member_id": np.full(len(uniq), m, dtype=np.int32),
                            "label": uniq,
                            "n_points": counts,
                            "sum_vec": [s.tolist() for s in sums],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    partial = points.mapInPandas(kernel, GKA_CENTER_STATS_SCHEMA)
    acc = _driver_combine(partial, ("member_id", "label"), ("n_points",), "sum_vec")
    out: dict[int, dict[int, list[float]]] = {}
    for (m, lab), (n, sv) in sorted(acc.items()):
        out.setdefault(m, {})[lab] = [s / n for s in sv]
    return out


def _segmented_sums(
    keys: np.ndarray, V: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-key (count, vector-sum) segmented reduction over small
    non-negative integer keys — the shared partial-stats kernel for the
    center-update passes. One weighted ``bincount`` per dimension adds
    the rows in row order, as ``np.add.at`` would, at a fraction of its
    cost. Returns (present keys, counts int64, sums float64[len, d])."""
    counts = np.bincount(keys)
    uniq = np.flatnonzero(counts)
    sums = np.empty((len(uniq), V.shape[1]))
    for j in range(V.shape[1]):
        sums[:, j] = np.bincount(keys, weights=V[:, j], minlength=len(counts))[uniq]
    return uniq, counts[uniq].astype(np.int64), sums


GKA_SLICE_SCHEMA = (
    "slice INT, first_id BIGINT, n_rows BIGINT, member_id INT, "
    "dist_units STRING, sum_dist DOUBLE, max_dist DOUBLE, labels ARRAY<INT>, "
    "n_points ARRAY<BIGINT>, sum_vec ARRAY<ARRAY<DOUBLE>>"
)
GKA_SLICE_COLUMNS = [f.split()[0] for f in GKA_SLICE_SCHEMA.split(", ")]


def gka_reassign(
    points: DataFrame, centers_by_member: dict[int, dict[int, list]]
) -> list:
    """Pass 1 of a GKA generation: KMO reassignment of every member in
    one narrow pass over ``fit_layout``'s ``vec_id`` range slices. Per
    slice, one distance matrix per member against its own centers; the
    assignment itself is never materialized. Returns one row per
    (slice, member), ordered by (slice, member), holding:

    - ``first_id`` / ``n_rows``: the slice's first ``vec_id`` and row
      count (``gka_mutation_picks`` checks its slices against them);
    - ``dist_units``: Σ round(dist, 8) as an exact integer of 1e-8
      units (a decimal string) — the objective, 8-dp exact;
    - ``sum_dist`` / ``max_dist``: the float sum and the max of the
      distances — the roulette wheel's per-slice terms;
    - ``labels`` / ``n_points`` / ``sum_vec``: the (member, label)
      center partials of the fresh assignment, which the fit loop
      patches and remaps arithmetically into the next centers.

    ``centers_by_member``: {member_id: {cid: center_list}}."""
    bc = points.sparkSession.sparkContext.broadcast(_prepare_centers(centers_by_member))

    def kernel(batches) -> Iterator:
        import pandas as pd
        from pyspark import TaskContext

        prep = bc.value
        first, n_rows = None, 0
        # member → [units, Σd, max d, {label: [n, Σvec]}]
        acc = {m: [0, 0.0, -np.inf, {}] for m in prep}
        for pdf in batches:
            if not len(pdf):
                continue
            if first is None:
                first = int(pdf["vec_id"].iloc[0])
            n_rows += len(pdf)
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            for m, (cids, C) in prep.items():
                _, idx, dist = _assign(V, C)
                a = acc[m]
                a[0] += _units_8dp(dist)
                a[1] += float(dist.sum())
                a[2] = max(a[2], float(dist.max()))
                for pos, n, s in zip(*_segmented_sums(idx, V)):
                    e = a[3].setdefault(int(cids[pos]), [0, 0.0])
                    e[0] += int(n)
                    e[1] = e[1] + s
        if first is None:
            return
        sid = TaskContext.get().partitionId()
        rows = []
        for m in sorted(acc):
            units, sum_dist, max_dist, parts = acc[m]
            labs = sorted(parts)
            rows.append((
                sid, first, n_rows, m, str(units), sum_dist, max_dist, labs,
                [parts[c][0] for c in labs], [parts[c][1].tolist() for c in labs],
            ))
        yield pd.DataFrame(rows, columns=GKA_SLICE_COLUMNS)

    rows = points.mapInPandas(kernel, GKA_SLICE_SCHEMA).collect()
    return sorted(rows, key=lambda r: (r["slice"], r["member_id"]))


GKA_PICK_SCHEMA = (
    "slice INT, member_id INT, vec_id BIGINT, label INT, dist DOUBLE, "
    "mdist DOUBLE, vec ARRAY<DOUBLE>"
)


def gka_mutation_picks(
    points: DataFrame,
    centers_by_member: dict[int, dict[int, list]],
    wheels: dict[int, tuple],
    slices: dict[int, tuple[int, int]],
) -> dict[int, dict]:
    """Pass 2 of a GKA generation: the roulette gene pick (R12) of the
    mutating members, one narrow pass over the same range slices as
    ``gka_reassign``. The pick is the FIRST point in ``vec_id`` order
    whose interval [lo, hi) of the normalized running weight contains
    u2, with w = Cm·max(d) − d — the reference's scan-and-break
    (gka.java:207-236). With Cm < 1 far points weigh negative, so the
    running sum is non-monotone: several intervals can contain u2 (the
    first wins) or none can (no mutation: the reference's index = -1).

    ``wheels``: {member: (target label, u2, Cm·max d, total weight,
    {slice: carry-in})}, the carry-in being the summed weight of every
    earlier slice; each slice recomputes its members' distances and
    scans its rows from that carry-in, so no window, sort or shuffle is
    needed. ``slices``: {slice: (first vec_id, rows)} as pass 1 saw
    them — a slice that differs (a recomputed range layout) raises
    instead of mis-picking.

    Returns {member: {vec_id, label, dist, mdist, vec}}: the gene, its
    current label and distance, its distance to the target label's
    center (``mdist``; NaN when the target label has no center — the
    Q9 guard) and its vector."""
    bc = points.sparkSession.sparkContext.broadcast(
        (_prepare_centers(centers_by_member), wheels, slices)
    )

    def kernel(batches) -> Iterator:
        import pandas as pd
        from pyspark import TaskContext

        prep, wh, sl = bc.value
        sid = TaskContext.get().partitionId()
        cum = {m: np.float64(w[4].get(sid, 0.0)) for m, w in wh.items()}
        with np.errstate(divide="ignore", invalid="ignore"):
            hi_prev = {m: cum[m] / wh[m][3] for m in wh}
        first, n_rows, picks = None, 0, {}
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            if first is None:
                first = int(ids[0])
            n_rows += len(pdf)
            live = [m for m in wh if m not in picks]
            if not live:
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            for m in live:
                cids, C = prep[m]
                target, u2, offset, total, _ = wh[m]
                D, idx, dist = _assign(V, C)
                run = np.cumsum(np.concatenate(([cum[m]], offset - dist)))[1:]
                with np.errstate(divide="ignore", invalid="ignore"):
                    hi = run / total
                lo = np.concatenate(([hi_prev[m]], hi[:-1]))
                hit = np.flatnonzero((u2 >= lo) & (u2 < hi))
                if len(hit):
                    i = int(hit[0])
                    tpos = int(np.searchsorted(cids, target))
                    has_target = tpos < len(cids) and cids[tpos] == target
                    picks[m] = (
                        int(ids[i]),
                        int(cids[idx[i]]),
                        float(dist[i]),
                        float(D[i, tpos]) if has_target else np.nan,
                        V[i].tolist(),
                    )
                cum[m], hi_prev[m] = run[-1], hi[-1]
        if (first, n_rows) != sl.get(sid, (None, 0)):
            raise RuntimeError(
                f"GKA slice {sid} holds {n_rows} rows from vec_id {first}, "
                f"pass 1 saw {sl.get(sid)}: the range layout changed"
            )
        if picks:
            members = sorted(picks)
            cols = list(zip(*(picks[m] for m in members)))
            yield pd.DataFrame(
                {
                    "slice": np.int32(sid),
                    "member_id": np.array(members, dtype=np.int32),
                    "vec_id": np.array(cols[0], dtype=np.int64),
                    "label": np.array(cols[1], dtype=np.int32),
                    "dist": cols[2],
                    "mdist": cols[3],
                    "vec": list(cols[4]),
                }
            )

    genes: dict[int, dict] = {}
    for r in sorted(
        points.mapInPandas(kernel, GKA_PICK_SCHEMA).collect(),
        key=lambda r: r["slice"],
    ):
        genes.setdefault(int(r["member_id"]), r.asDict())
    return genes


GKA_LABELS_SCHEMA = "member_id INT, vec_id BIGINT, label INT"


def gka_population_labels(
    points: DataFrame, pop: int, k: int, seed: int, last: tuple | None = None
) -> DataFrame:
    """The (member_id, vec_id, label) table of a GKA population, LAZY:
    a narrow kernel over ``points`` recomputes it whenever it is
    consumed, so nothing n·P-sized is cached. ``last`` is None for the
    gen-0 population (``_init_labels``); otherwise it is the last
    selected generation's ``(centers_by_member, patches, chosen)``:
    slot s holds member chosen[s]'s KMO labels (argmin against that
    member's centers) with its mutation patch {member: (vec_id, label)}
    applied."""
    if last is not None:
        centers, patches, chosen = last
        last = (_prepare_centers(centers), patches, chosen)
    bc = points.sparkSession.sparkContext.broadcast(last)

    def kernel(batches) -> Iterator:
        import pandas as pd

        state = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            if state is None:
                labels = {m: _init_labels(ids, m, k, seed) for m in range(pop)}
                slots = list(range(pop))
            else:
                prep, patches, slots = state
                V = np.array(list(pdf["vec"]), dtype=np.float64)
                labels = {}
                for m in set(slots):
                    cids, C = prep[m]
                    lab = cids[_assign(V, C)[1]].astype(np.int32)
                    if m in patches:
                        vid, new_label = patches[m]
                        lab[ids == vid] = new_label
                    labels[m] = lab
            yield pd.DataFrame(
                {
                    "member_id": np.repeat(np.arange(pop, dtype=np.int32), len(ids)),
                    "vec_id": np.tile(ids, pop),
                    "label": np.concatenate([labels[m] for m in slots]),
                }
            )

    return points.mapInPandas(kernel, GKA_LABELS_SCHEMA)


GMM_STATS_SCHEMA = (
    "cid INT, rsum DOUBLE, wx ARRAY<DOUBLE>, llp DOUBLE"
)


def gmm_soft_stats(
    points: DataFrame,
    centers: np.ndarray,
    weights: np.ndarray,
    sigma2: float,
) -> tuple[dict[int, tuple[float, np.ndarray]], float]:
    """One spherical-GMM EM half-iteration, kernel-side: per
    partition, compute likelihoods l_ic = w_c·exp(−|x−μ_c|²/2σ²) in
    one BLAS distance matrix, reduce to k partial rows of
    (Σᵢ r_ic, Σᵢ r_ic·xᵢ) plus the partition's observed-data
    log-likelihood Σᵢ ln Σ_c l_ic (carried on the cid=0 row) — the
    R19 inversion applied to soft assignment: only k·(d+2) floats per
    partition ever shuffle, the points never move.

    Returns ({cid: (rsum, wx_vector)}, loglik) combined driver-side in
    collect (partition) order — same determinism envelope as
    ``lloyd_iteration``. The hash-verified single-step surfaces
    (q_ml_gmm_estep/_mstep/_loglik, operators/clustering.py) keep the
    decimal-exact expression path; this kernel is the production fit
    loop (ml/gmm.py), the SemDeDup-style oracle-path/scale-path
    split."""
    k, d = centers.shape
    sc = points.sparkSession.sparkContext
    bc = sc.broadcast((centers, np.asarray(weights, dtype=np.float64)))

    def kernel(batches) -> Iterator:
        import pandas as pd

        C, W = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            D = _dist_matrix(V, C)
            # log-space with a per-row max shift: for a point far from
            # every center (or tiny sigma2) the unshifted w·exp(−d²/2σ²)
            # underflows to 0 for ALL components, giving z=0 → −inf
            # loglik and 0/0 NaN responsibilities. exp(logL − m) keeps
            # the winning component at exp(0)=1, so z ≥ 1 always.
            with np.errstate(divide="ignore"):  # w=0 → logw=−inf → r=0, the right limit
                logw = np.log(W)
            logL = logw[None, :] - (D * D) / (2.0 * sigma2)
            m = logL.max(axis=1)
            E = np.exp(logL - m[:, None])
            z = E.sum(axis=1)
            ll = float((m + np.log(z)).sum())
            R = E / z[:, None]
            rsum = R.sum(axis=0)
            WX = R.T @ V  # (k, d) responsibility-weighted sums
            yield pd.DataFrame(
                {
                    "cid": np.arange(k, dtype=np.int32),
                    "rsum": rsum,
                    "wx": [row.tolist() for row in WX],
                    "llp": [ll] + [0.0] * (k - 1),
                }
            )

    partial = points.mapInPandas(kernel, GMM_STATS_SCHEMA)
    acc = _driver_combine(partial, ("cid",), ("rsum", "llp"), "wx")
    stats: dict[int, tuple[float, np.ndarray]] = {}
    loglik = 0.0
    for (cid,), (rs, llp, wx) in sorted(acc.items()):
        stats[cid] = (float(rs), wx)
        loglik += float(llp)
    return stats, loglik
