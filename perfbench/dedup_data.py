"""Seeded stand-in for the ``documents`` / ``embeddings`` test tables.

The dedup operators read ``{dir}/documents.parquet`` and
``{dir}/embeddings.parquet``. These are generated here from the run's
seed with the shape of the shipped test tables: 31-word vocabulary,
10-100 words per document, 5 % near-duplicates (an earlier document
plus the token ``dup``), 64-dim unit embeddings with 10 labels. The
embedding operators add their own planted exact copies
(``dedup.PLANT_N``) on top.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_SHARE = 0.05
DIM = 64


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(n_vecs: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    e = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(e),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })


def write_tables(out_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(documents(n_docs, seed), preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))
    emb = embeddings(n_vecs, seed)
    table = pa.table({
        "vec_id": pa.array(emb["vec_id"]),
        "embedding": pa.array([v.tolist() for v in emb["embedding"]], type=pa.list_(pa.float32())),
        "label": pa.array(emb["label"]),
    })
    pq.write_table(table, os.path.join(out_dir, "embeddings.parquet"))
