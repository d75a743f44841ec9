"""Seeded synthetic inputs for the benchmark workloads.

The batch queries read the engine's table contract (see
``flink_ad_analytics_spark/schemas.py``): the same column names and
physical types as the committed test data, with value domains that
mimic it (a 30-day ``events`` stream with two-decimal values, a 31-word
document vocabulary with planted exact and near duplicates, 64-d unit
embeddings).  Every table is a pure function of ``seed`` and its row
count, so a run is reproducible from its command line.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = np.array(
    (
        "a agg batch big column customer data filter fast group hash join "
        "key line merge order part query row scan slow small sort spark "
        "stream table the value vector window"
    ).split()
)
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])

_US_PER_DAY = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def events(rng: np.random.Generator, n: int) -> pa.Table:
    users = max(n // 66, 10)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; ~5% are near copies of an earlier
    document (a few words replaced) and ~0.2% exact copies, so the
    dedup queries find real candidate pairs."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and roll < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = list(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors drawn around ten label centroids."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)), flat
            ),
            "label": pa.array(labels),
        }
    )


#: table -> (stream id, generator); the id keys the table's own random
#: stream, so a table's content depends only on the seed and its size
TABLES = {
    "events": (0, events),
    "documents": (4, documents),
    "embeddings": (5, embeddings),
}


def write_tables(directory: str, seed: int, rows: dict[str, int]) -> None:
    """Write the tables named in ``rows`` (table -> row count) under
    ``directory`` as ``<table>.parquet``."""
    os.makedirs(directory, exist_ok=True)
    for name, n in rows.items():
        stream, make = TABLES[name]
        table = make(np.random.default_rng([seed, stream]), n)
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
