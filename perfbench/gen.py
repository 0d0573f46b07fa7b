"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet. The shapes follow the program's table contract
(`events`, `documents`, `embeddings`; see TESTDATA.md and FIXTURES.md):
the same columns and types, the same 31-word vocabulary and 20 sources,
and 64-dimensional unit embeddings clustered by label.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20
DIM = 64
N_LABELS = 10


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def events(seed: int, n: int, path: str) -> None:
    """`n` events over 30 days, 1500 users, five event types."""
    r = _rng(seed, 1)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + r.integers(0, span, n))
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(r.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })
    _write(table, path)


def _text(r: np.random.Generator) -> str:
    return " ".join(np.array(VOCAB)[r.integers(0, len(VOCAB),
                                                int(r.integers(8, 100)))])


def _write_docs(r: np.random.Generator, first_id: int, texts: list,
                path: str) -> None:
    n = len(texts)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    _write(pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), path)


def _with_reposts(r: np.random.Generator, n: int, repost_frac: float,
                  earlier: list) -> list:
    """`n` texts; a `repost_frac` share repeats a text of `earlier` or of
    this list exactly."""
    texts = []
    for _ in range(n):
        pool = len(earlier) + len(texts)
        if pool and r.random() < repost_frac:
            j = int(r.integers(0, pool))
            texts.append(earlier[j] if j < len(earlier)
                         else texts[j - len(earlier)])
        else:
            texts.append(_text(r))
    return texts


def documents(seed: int, n: int, repost_frac: float, path: str) -> None:
    """`n` documents, a `repost_frac` share of them exact re-posts."""
    r = _rng(seed, 2)
    _write_docs(r, 0, _with_reposts(r, n, repost_frac, []), path)


def crawl(seed: int, n_base: int, n_batches: int, batch: int,
          repost_frac: float, out_dir: str) -> None:
    """Base corpus plus `n_batches` crawl batches. A `repost_frac` share of
    every batch re-posts a text already crawled (base, an earlier batch or
    the same batch), so the fingerprint screen has real work to reject."""
    r = _rng(seed, 3)
    seen = _with_reposts(r, n_base, repost_frac, [])
    _write_docs(r, 0, seen, f"{out_dir}/base.parquet")
    for b in range(n_batches):
        texts = _with_reposts(r, batch, repost_frac, seen)
        _write_docs(r, n_base + b * batch, texts,
                    f"{out_dir}/batch-{b:03d}.parquet")
        seen = seen + texts


def embeddings(seed: int, n: int, repost_frac: float, path: str) -> None:
    """`n` unit vectors around one random centre per label; a
    `repost_frac` share repeats an earlier vector exactly."""
    r = _rng(seed, 5)
    centres = r.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = r.integers(0, N_LABELS, n)
    v = centres[labels] + r.normal(0.0, 0.8, (n, DIM))
    for i in range(1, n):
        if r.random() < repost_frac:
            j = int(r.integers(0, i))
            v[i], labels[i] = v[j], labels[j]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), path)
