"""Seeded corpus tables for the corpus-curation queries.

Writes ``documents``, ``embeddings`` and ``events`` parquet files with the
schema and value shape of the repository's test tables (sf0.01, with a
smaller ``documents`` table so its brute-force DuckDB oracles stay short):

- documents: 10-99 words from a 30-word vocabulary, 5 % near-duplicates
  (a copy of another document plus the token ``dup``), ``lang`` and a
  20-way ``source``;
- embeddings: unit-norm 64-dim float vectors with a 10-way ``label``;
- events: a 30-day January 2024 stream of 5 event types with a
  ``{"k": n}`` JSON payload.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def write_tables(out_dir: str, seed: int, n_docs: int = 160,
                 n_vecs: int = 500, n_events: int = 10_000) -> dict:
    """Write the three tables under ``out_dir``; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    texts = [" ".join(rng.choice(VOCAB, size=rng.integers(10, 100)))
             for _ in range(n_docs)]
    # near-duplicates; a third of them on doc_id % 10 == 0, the documents
    # the incremental-dedup query treats as the new batch
    tens = rng.choice(np.arange(0, n_docs, 10), size=n_docs // 60,
                      replace=False)
    rest = rng.choice(np.setdiff1d(np.arange(n_docs), tens),
                      size=n_docs // 20 - len(tens), replace=False)
    for i in np.concatenate([tens, rest]):
        j = int(rng.integers(n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    pq.write_table(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
    }), os.path.join(out_dir, "embeddings.parquet"))

    start = dt.datetime(2024, 1, 1)
    offsets = np.sort(rng.uniform(0, 30 * 86400e6, size=n_events)).astype(
        np.int64)
    pq.write_table(pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64(start, "us") + offsets.astype(
            "timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, size=n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n_events).tolist(),
        "value": np.round(rng.exponential(60.0, size=n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), os.path.join(out_dir, "events.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs, "events": n_events}
