"""Deterministic inputs for the query workload.

Writes ``documents.parquet`` and ``embeddings.parquet`` at the row counts,
schema and value distributions of the sf0.1 ``documents`` and
``embeddings`` tables that ``bench.py`` reads. The benchmark must make its
inputs inside the checkout, so it generates them; README.md lists the
statistics measured on the sf0.1 tables that these constants follow:

- documents: 5000 rows; words drawn uniformly from a 30-word vocabulary,
  10-99 words per text; exactly 5% of the rows, at random positions, are a
  copy of another row's text with `` dup`` appended, which is what the
  dedup queries find; 20 sources assigned round-robin; languages ``en``
  about 41%, the other four about 15% each;
- embeddings: 2000 rows of 64-dimensional unit-norm float32 vectors
  (normalised Gaussians) with a uniform label in 0..9.

The data seed is fixed, so the pinned expected answers in
``expected.json`` hold for every run; the workload seed only reorders the
queries. ``content_digest`` hashes the values (not the parquet bytes), and
the benchmark refuses to run against inputs whose digest differs from the
pinned one.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
N_DOCUMENTS = 5000
N_EMBEDDINGS = 2000
DIM = 64
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DUP_RATE = 0.05

TABLES = ("documents", "embeddings")


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    # a copy may itself be copied later (`` dup dup``), as in the sf0.1 table
    for i in rng.choice(n, size=round(n * DUP_RATE), replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    return {
        "documents": documents(rng, N_DOCUMENTS),
        "embeddings": embeddings(rng, N_EMBEDDINGS),
    }


def content_digest(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for col in tables[name].columns:
            h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()[:16]


def ensure(data_dir: str) -> str:
    """Write the inputs under ``data_dir`` unless a complete copy made by
    this version of the generator is there; return their content digest."""
    stamp = os.path.join(data_dir, "DIGEST")
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:16]
    if os.path.exists(stamp) and all(
        os.path.exists(os.path.join(data_dir, f"{t}.parquet")) for t in TABLES
    ):
        with open(stamp) as fh:
            made_by, _, digest = fh.read().strip().partition(" ")
        if made_by == version:
            return digest
    tables = build_tables()
    os.makedirs(data_dir, exist_ok=True)
    for name, table in tables.items():
        tmp = os.path.join(data_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, os.path.join(data_dir, f"{name}.parquet"))
    digest = content_digest(tables)
    with open(stamp, "w") as fh:
        fh.write(f"{version} {digest}\n")
    return digest
