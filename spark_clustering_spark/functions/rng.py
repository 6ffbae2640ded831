"""Deterministic pseudo-randomness reproducible across engines.

The reference uses unseeded ``Math.random()`` everywhere — including
inside executor closures — making runs non-reproducible (SURVEY.md Q5;
reference kmeans.java:252, gka.java:166, pso.java:357). The new engine
replaces every random draw with a seeded, *integer-arithmetic* LCG that
any SQL engine evaluates identically (no float libm differences, no
engine-specific hash functions):

    u(key) = ((key * 1103515245 + 12345 + seed) mod 2^31) / 2^31

Integer products stay far below 2^63 for any key < ~8e9, so the math is
exact in both Spark and DuckDB BIGINT. Use distinct ``seed`` values (or
mix the iteration number into the key) for independent substreams.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

_A = 1103515245
_C = 12345
_M = 2**31


def lcg_uniform(key: Column | str, seed: int = 42) -> Column:
    """Deterministic uniform in [0, 1) keyed by an integer column."""
    k = F.col(key) if isinstance(key, str) else key
    return (
        ((k.cast("bigint") * F.lit(_A) + F.lit(_C + seed)) % F.lit(_M)).cast("double")
        / F.lit(float(_M))
    )


def sql_lcg_uniform(key_expr: str, seed: int = 42) -> str:
    return (
        f"(cast((({key_expr}) * {_A} + {_C + seed}) % {_M} AS DOUBLE) / {float(_M)})"
    )


def py_lcg_uniform(key: int, seed: int = 42) -> float:
    """Same stream, driver-side (for loop hyperparameters)."""
    return ((key * _A + _C + seed) % _M) / float(_M)


def np_lcg_uniform(keys: np.ndarray, seed: int = 42) -> np.ndarray:
    """Same stream over an int64 key array (inside a kernel)."""
    k = np.asarray(keys, dtype=np.int64)
    return ((k * _A + _C + seed) % _M) / float(_M)
