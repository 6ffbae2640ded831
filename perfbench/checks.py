"""Output checks, run outside the timed region.

- ``frame_digest`` / ``oracle_digest``: order-insensitive digests of a
  collected Spark result and of the DuckDB oracle SQL the registry
  declares for the same key, on the same generated files.
- ``lloyd_replay_best``: an independent numpy replay of the seeded
  multi-restart Lloyd loop, giving the best-so-far objective the
  k-means metrics sink reports per (run, iteration).
- ``nonincreasing``: the best objective never rises.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np

# ml/kmeans.py's seeded init draws: u = ((id*A + C + seed) mod M) / M
_A, _C, _M = 1103515245, 12345, 2**31

# Relative tolerance of the k-means replay: the engine sums partials in
# partition order, the replay in whole-array order (~1e-12 apart); the
# sink rounds the objective to 4 decimals, hence the absolute term.
LLOYD_RTOL = 1e-9
LLOYD_ATOL = 2e-4


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, md5) of a table, independent of column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def frame_digest(pdf) -> tuple[int, str]:
    """``digest`` of a pandas DataFrame."""
    return digest(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))


def oracle_digest(sql: str, sf_dir: str, spill_dir: str) -> tuple[int, str]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("PRAGMA memory_limit='2GB'")
        con.execute(f"PRAGMA temp_directory='{spill_dir}'")
        con.execute("PRAGMA threads=2")
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, f)}')"
                )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())
    finally:
        con.close()


def _dist(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    sq = (V * V).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (V @ C.T)
    np.maximum(sq, 0.0, out=sq)
    return np.sqrt(sq)


def lloyd_replay_best(V: np.ndarray, k: int, iters: int, runs: int, seed: int) -> list[float]:
    """Best-so-far unsquared objective per (run, iter), run-major — what
    the k-means sink prints. Point ids are 0-based row order; each run's
    init is the k points with the lowest seeded draw; each iteration's
    objective is measured against its pre-update centers; an empty
    cluster is reseeded from the iteration's own seeded draw."""
    ids = np.arange(len(V), dtype=np.int64)

    def draw_order(s: int) -> np.ndarray:
        u = ((ids * _A + _C + s) % _M) / float(_M)
        return np.lexsort((ids, u))

    centers = {r: V[draw_order(seed + 1000 * r)[:k]].copy() for r in range(runs)}
    objs: dict[tuple[int, int], float] = {}
    for it in range(iters):
        stats = {}
        for r in range(runs):
            D = _dist(V, centers[r])
            lab = D.argmin(axis=1)
            objs[(r, it)] = float(D[np.arange(len(V)), lab].sum())
            stats[r] = lab
        empties = {r: [c for c in range(k) if not (stats[r] == c).any()] for r in range(runs)}
        n_needed = max(len(e) for e in empties.values())
        fresh = V[draw_order(seed + 7000 + it)[:n_needed]] if n_needed else []
        for r in range(runs):
            new = centers[r].copy()
            for c in range(k):
                m = stats[r] == c
                if m.any():
                    new[c] = V[m].mean(axis=0)
            for c, vec in zip(empties[r], fresh):
                new[c] = vec
            centers[r] = new
    best, out = math.inf, []
    for r in range(runs):
        for it in range(iters):
            best = min(best, objs[(r, it)])
            out.append(best)
    return out


def close(a: float, b: float) -> bool:
    return abs(a - b) <= LLOYD_ATOL + LLOYD_RTOL * abs(b)


def nonincreasing(values: list[float]) -> bool:
    return all(b <= a for a, b in zip(values, values[1:]))
