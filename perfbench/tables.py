"""Seeded input tables for the `surface` workload.

Writes documents, events and embeddings Parquet tables with the column
names and types of the engine's query contract (`SparkEntry.queries`):
documents drawn from the 30-word vocabulary its queries are written
against, about 5% of them near-duplicates (an earlier text plus " dup"),
an event stream over 30 days and 64-dimensional unit embeddings clustered
by label. The same seed gives the same tables.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

DOCS, EVENTS, EMBEDDINGS, USERS, DIM, LABELS = 300, 1000, 300, 100, 64, 10


def documents(rng):
    texts = []
    for i in range(DOCS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, size=n)))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=DOCS, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, size=DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng):
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 24 * 3600 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, size=EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": pa.array([start + datetime.timedelta(microseconds=int(o)) for o in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, size=EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=EVENTS).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=EVENTS), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=EVENTS)],
                          pa.string()),
    })


def embeddings(rng):
    centroids = rng.normal(0.0, 1.0, size=(LABELS, DIM))
    labels = rng.integers(0, LABELS, size=EMBEDDINGS)
    vecs = centroids[labels] + rng.normal(0.0, 1.0, size=(EMBEDDINGS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(seed, out_dir):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, make in (("documents", documents), ("events", events),
                       ("embeddings", embeddings)):
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
