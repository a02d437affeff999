"""Fixed document and embedding corpus for the curation lanes.

The lanes read ``documents.parquet`` and ``embeddings.parquet`` from one
directory, in the layout of the engine's test data.  The corpus does not
depend on the benchmark seed, so each lane's output hash can be pinned
(``pinned_hashes.json``) instead of replaying the DuckDB oracles on every
run.  Near-duplicate copies are planted at a fixed rate within the
(source, lang) blocks the dedup lanes compare.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20210101
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "fr", "es", "de", "zh")
LANG_P = (0.39, 0.16, 0.16, 0.14, 0.15)
N_SOURCES = 20
NEAR_DUP_RATE = 0.08
MUTATE_RATE = 0.05
DIM = 64
N_LABELS = 10


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts, langs, sources = [], [], []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_RATE:
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            for k in np.flatnonzero(rng.random(len(words)) < MUTATE_RATE):
                words[k] = VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(words))
            langs.append(langs[j])
            sources.append(sources[j])
            continue
        length = int(rng.integers(8, 90))
        texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), length)))
        langs.append(LANGS[rng.choice(len(LANGS), p=LANG_P)])
        sources.append(f"src{i % N_SOURCES}")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(0.0, 0.15, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n, DIM))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_corpus(out_dir: str, n_docs: int, n_vectors: int) -> str:
    """Write the corpus into ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    pq.write_table(documents(n_docs, rng), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(n_vectors, rng), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
