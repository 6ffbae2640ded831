"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
workload seed, so the same seed gives byte-identical inputs. The program
under test only ever sees the files written here.

- ``shuttle_csv``: a headerless numeric CSV shaped like the reference's
  largest shipped dataset (shuttle: 10 integer-valued columns, seven
  classes with ~78 % in one class, the class column kept as a feature),
  with the row count the caller asks for.
- ``documents`` and ``events``: the corpus shard and the events
  changelog with the schemas, vocabulary, weights and exact-duplicate
  rate that ``tools/gen_testdata.py`` profiled from the shipped test
  trees (its constants are imported, not copied), seeded and sized by
  the workload instead of fixed per scale factor. Events are
  time-sorted, so a replay by ``event_id`` is an arrival-order stream.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)
from gen_testdata import DAY_US, EVENT_TYPES, LANG_W, LANGS, VOCAB  # noqa: E402

# shuttle's class shares (34108/37/132/6748/2458/6/11 of 43,500)
SHUTTLE_CLASS_W = np.array([34108, 37, 132, 6748, 2458, 6, 11], dtype=np.float64)
SHUTTLE_CLASS_W /= SHUTTLE_CLASS_W.sum()


def shuttle_csv(rng: np.random.Generator, path: str, n: int) -> np.ndarray:
    """Write a shuttle-shaped CSV (n x 10) and return the matrix written."""
    k, d = len(SHUTTLE_CLASS_W), 9
    centers = rng.integers(-60, 120, size=(k, d)).astype(np.float64)
    spread = rng.uniform(2.0, 12.0, size=(k, d))
    labels = rng.choice(k, size=n, p=SHUTTLE_CLASS_W)
    feats = np.rint(centers[labels] + rng.normal(size=(n, d)) * spread[labels])
    mat = np.column_stack([feats, labels + 1.0])
    with open(path, "w") as f:
        for row in mat.astype(np.int64):
            f.write(",".join(map(str, row)) + "\n")
    return mat


def documents(rng: np.random.Generator, out: str, n_doc: int) -> None:
    """Write ``documents.parquet`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    vocab = np.array(VOCAB)
    nwords = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), m)]) for m in nwords]
    # the profiled exact-duplicate rate: one pair per 625 documents
    n_dup = max(1, n_doc // 625)
    for s, t in zip(rng.integers(0, n_doc, n_dup), rng.integers(0, n_doc, n_dup)):
        if s != t:
            texts[t] = texts[s]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_doc), type=pa.int64()),
                "text": texts,
                "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_W)]),
                "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )


def events(rng: np.random.Generator, out: str, n_evt: int) -> None:
    """Write ``events.parquet`` under ``out``: 30 days of Jan-2024 events
    from the profiled 15 users per 1,000 events."""
    os.makedirs(out, exist_ok=True)
    n_user = max(1, n_evt * 15 // 1000)
    epoch_us = int((np.datetime64("2024-01-01") - np.datetime64("1970-01-01")).astype(int)) * DAY_US
    ts_us = np.sort(rng.integers(0, 30 * DAY_US, n_evt)) + epoch_us
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_evt), type=pa.int64()),
                "ts": pa.array(ts_us, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_user, n_evt), type=pa.int64()),
                "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
                "value": np.round(rng.exponential(50.0, n_evt), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
            }
        ),
        os.path.join(out, "events.parquet"),
    )
