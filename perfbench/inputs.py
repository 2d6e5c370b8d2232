"""Seeded input generators. The same seed gives the same tables, byte for
byte; the engine sees only the files written here.

The shapes follow the repository's sf0.1 test tables (TESTDATA.md):
``events`` is 100k rows over 30 days with ~1,500 ``user_id`` keys and five
``event_type`` keys; ``documents`` is 5,000 word-sequence texts with 250
near-duplicates (original + " dup") and a few exact copies; ``embeddings``
is 2,000 unit vectors of dimension 64 around ten label centroids.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def events(seed: int, n: int = 100_000, users: int = 1500, days: int = 30) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(rng.integers(0, days * DAY_US, n)) + EPOCH_US
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us").astype("datetime64[us]"),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n, p=[0.35, 0.3, 0.15, 0.1, 0.1]),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents(seed: int, n: int = 5000, near_dups: int = 250, exact_dups: int = 8) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    n_base = n - near_dups - exact_dups
    vocab = np.array(VOCAB)
    texts = [" ".join(rng.choice(vocab, int(k))) for k in rng.integers(8, 96, n_base)]
    picks = rng.choice(n_base, near_dups + exact_dups, replace=False)
    texts += [texts[i] + " dup" for i in picks[:near_dups]]
    texts += [texts[i] for i in picks[near_dups:]]
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, n: int = 2000, dim: int = 64, labels: int = 10) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 3])
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vec = centroids[label] + rng.normal(scale=1.5, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vec),
            "label": label.astype(np.int32),
        }
    )


def write_table(pdf: pd.DataFrame, root: str, name: str) -> str:
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{name}.parquet")
    pdf.to_parquet(path, index=False)
    return path
