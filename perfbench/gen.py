"""Seeded synthesis of the benchmark's input tables.

The benchmark carries its own inputs: the same ``seed`` and scale give
byte-identical parquet files. The three tables mirror the column
layout of the engine's ``events``, ``documents`` and ``embeddings``
tables, which is all the benchmarked queries read:

- ``events``: one row per event at a steady ~26 s cadence over 30
  days, users and the five event types drawn uniformly, so every
  seed yields the same row count and the same mix up to sampling
  noise;
- ``documents``: 10-100 words from a 30-word vocabulary, with ~5% of
  documents repeating an earlier one (exact copies or one appended
  word), so the dedup and near-dup queries find real pairs;
- ``embeddings``: unit-norm 64-d float vectors, ten labels.

Sizes scale with ``sf`` the way the engine's own test tables do:
``sf`` 0.1 gives 100,000 events, 5,000 documents and 2,000 vectors.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("error", "click", "view", "signup", "purchase")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMBED_DIM = 64
START = dt.datetime(2024, 1, 1)


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "events": max(int(round(1_000_000 * sf)), 100),
        "users": max(int(round(15_000 * sf)), 10),
        "documents": max(int(round(50_000 * sf)), 50),
        "embeddings": max(int(round(20_000 * sf)), 50),
    }


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    gaps = rng.uniform(0.0, 52.0, n)  # seconds; mean 26 s
    ts = np.datetime64(START, "us") + np.cumsum(gaps * 1e6).astype("timedelta64[us]")
    kinds = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(kinds.tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.2 else src + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
                flat,
            ),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write events/documents/embeddings parquet under ``out_dir``;
    return the tables so callers can derive expected outputs."""
    n = sizes(sf)
    rng = np.random.default_rng(seed)
    tables = {
        "events": events(rng, n["events"], n["users"]),
        "documents": documents(rng, n["documents"]),
        "embeddings": embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables


def expected_sink_counts(events_table: pa.Table) -> dict[str, int]:
    """Per-sink row counts the flagship router must produce, derived
    from the generated events alone (no Spark): access lines (error,
    view) with a 5xx status go to sink_errors, the rest of them to
    sink_rest; clicks, signups and purchases each have their own sink.
    The status code is ``200 + (event_id % 4) * 100 + event_id % 25``,
    so 5xx means ``event_id % 4 == 3``."""
    ids = events_table.column("event_id").to_numpy()
    kinds = np.array(events_table.column("event_type").to_pylist())
    access = (kinds == "error") | (kinds == "view")
    five_xx = access & (ids % 4 == 3)
    return {
        "sink_errors": int(five_xx.sum()),
        "sink_ui": int((kinds == "click").sum()),
        "sink_growth": int((kinds == "signup").sum()),
        "sink_billing": int((kinds == "purchase").sum()),
        "sink_rest": int((access & ~five_xx).sum()),
    }
