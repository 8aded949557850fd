"""Seeded synthetic tables in the shape of the engine's star schema.

The benchmark never reads data from outside its checkout, so every input
is generated here from ``--seed``: the same seed writes the same rows.
Column names and value shapes follow the ``events`` and ``documents``
tables that ``rapids_and_rivers_spark.sources.load_table`` reads, so
catalog helpers and DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("purchase", "signup", "click", "view", "error")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
#: share of documents that repeat an earlier document plus a marker word,
#: so entity resolution has true duplicate pairs to find
DUP_SHARE = 0.05


def events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64(datetime(2024, 1, 1), "us")
    gaps = rng.integers(1, 260_000_000, size=n)  # up to ~4 min apart
    value = np.maximum(np.round(rng.exponential(50.0, size=n), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(start + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, size=n, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), size=n)]
            ),
            "value": pa.array(value),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
            ),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 100)))
        texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in langs]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


_STREAMS = ("events", "documents")


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write the tables named in ``sizes`` (name -> rows) under ``out_dir``.
    Each table draws from its own stream of the seed, so adding a table
    leaves the others unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    for name, n in sizes.items():
        if name not in _STREAMS:
            raise ValueError(f"unknown table {name!r}")
        rng = np.random.default_rng([seed, _STREAMS.index(name)])
        table = events(rng, n) if name == "events" else documents(rng, n)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
