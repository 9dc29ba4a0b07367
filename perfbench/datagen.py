"""Seeded synthetic input tables for the benchmark.

The benchmark may read nothing outside its checkout, so it writes its own
``events`` / ``documents`` / ``embeddings`` parquet files, with the column
names, types and value ranges of the repo's testdata tables. Everything is
drawn from one ``numpy.random.Generator`` seeded by ``--seed``: the same
seed and sizes give byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
N_USERS = 150               # user_id doubles as the sketch item (< 256)
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EMB_DIM = 64
EMB_LABELS = 10


def events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents; about one in eight is a near copy of an
    earlier one (a few words changed) and one in forty an exact copy, so
    the dedup operators have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.025:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 0 and r < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS),
                                                             k)]))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS, dtype=object)[
            rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Unit vectors around EMB_LABELS centres; every tenth vector is a
    perturbed copy of an earlier one (near-duplicate pairs)."""
    centres = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    m = centres[labels] * 0.35 + rng.normal(size=(n, EMB_DIM))
    for i in range(10, n, 10):
        j = int(rng.integers(0, i))
        m[i] = m[j] + rng.normal(scale=0.3, size=EMB_DIM)
        labels[i] = labels[j]
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(m),
        "label": labels.astype(np.int32),
    })


PARTS = 4


def write_tables(out_dir: str, seed: int, n_events: int, n_docs: int = 0,
                 n_emb: int = 0) -> str:
    """Write the tables the workload needs under ``out_dir``; returns it.
    A size of 0 skips that table. Each table is a directory of
    ``PARTS`` part files, the layout Spark itself writes."""
    rng = np.random.default_rng(seed)
    for name, fn, n in (("events", events, n_events),
                        ("documents", documents, n_docs),
                        ("embeddings", embeddings, n_emb)):
        if not n:
            continue
        table = f"{out_dir}/{name}.parquet"
        os.makedirs(table, exist_ok=True)
        df = fn(rng, n)
        bounds = np.linspace(0, n, PARTS + 1).astype(int)
        for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
            df.iloc[a:b].to_parquet(f"{table}/part-{i:05d}.parquet",
                                    index=False)
    return out_dir
