"""Seeded inputs for the ``dedup_leaves`` workload.

Writes ``documents``, ``embeddings`` and ``events`` parquet files with the
column names and types of the repository's fixture tables, so the registry
queries in ``apt_bron_re_spark.queries`` and their DuckDB oracles read them
unchanged.  The same seed always gives the same bytes.

Documents draw 10-100 words from the fixture's 31-word vocabulary, so word
sets of long documents overlap heavily (the near-dup funnel has candidates
to verify); in addition every 20th document is a light edit of an earlier
one from the same source, a planted near duplicate.  Embeddings are
random unit vectors with planted near duplicates in the same way.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
N_SOURCES = 20
EMBED_DIM = 64


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts, sources = [], []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            j = int(rng.integers(0, i))
            words = texts[j].split()
            for k in rng.integers(0, len(words), size=2):
                words[k] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            sources.append(sources[j])
            continue
        n_words = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[k] for k in
                              rng.integers(0, len(VOCAB), size=n_words)))
        sources.append(f"src{int(rng.integers(0, N_SOURCES))}")
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in
                          rng.integers(0, len(LANGS), size=n)], pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    # every 10th vector is a slightly perturbed copy of an earlier one
    # (cosine ~0.9), so the near-dup and top-k queries return pairs
    for i in range(10, n, 10):
        vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(
            EMBED_DIM).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = dt.datetime(2024, 1, 1)
    offsets_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array([start + dt.timedelta(microseconds=int(o))
                        for o in offsets_us], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[k] for k in
                                rng.integers(0, len(EVENT_TYPES), size=n)],
                               pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in
                           rng.integers(0, 100, size=n)], pa.string()),
    })


def write_tables(out_dir: Path, seed: int, n_docs: int, n_vecs: int,
                 n_events: int, n_users: int) -> None:
    """Write the three tables as single-file parquet under ``out_dir``."""
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
        "events": _events(rng, n_events, n_users),
    }
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, str(out_dir / f"{name}.parquet"))
