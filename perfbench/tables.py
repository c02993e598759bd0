"""Seeded ``documents`` and ``events`` parquet tables for the registry workloads.

The registry queries read their inputs through ``tables.load(spark, dir,
name)``; this module writes a directory they can read, with the schema
and value distributions of the repository's synthetic test tables:

- documents: 30-word vocabulary, 10-100 words each, ``lang`` weighted
  towards ``en``, ``source`` = ``src{doc_id % 20}``, and about one
  document in 20 a copy of another's text plus `` dup`` (near-duplicates
  the dedup queries find);
- events: ids in time order over 30 days, 15 users per 1000 events,
  five event types, exponential values with two decimals,
  ``{"k": n}`` props.

The row counts are fixed; the seed decides every value.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
DUP_SHARE = 0.05
DAY_US = 86_400 * 1_000_000


def make_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    n_words = rng.integers(10, 101, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in n_words]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(n))] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    offsets = np.sort(rng.integers(0, 30 * DAY_US, size=n))
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(offsets, unit="us")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(1, n * 15 // 1000), size=n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, size=n),
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def write_tables(directory: str, seed: int, n_docs: int, n_events: int) -> int:
    """Write ``documents.parquet`` and ``events.parquet``; returns bytes written."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    total = 0
    for name, df in (
        ("documents", make_documents(rng, n_docs)),
        ("events", make_events(rng, n_events)),
    ):
        path = os.path.join(directory, f"{name}.parquet")
        df.to_parquet(path, index=False)
        total += os.path.getsize(path)
    return total
