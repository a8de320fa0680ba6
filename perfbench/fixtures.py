"""Seeded input generators: the `trades` metrics table for the tsdb
workloads and the `documents` / `embeddings` corpus for pipeline_batch.

The same seed always yields the same inputs. The corpus mirrors the
shape of the repository's sf0.01 fixtures (500 documents of 10-99
tokens over a 30-word vocabulary, every 20th document a near-duplicate
of an earlier one; 500 unit vectors of dimension 64 drawn weakly around
10 cluster centres), so the suite's oracle SQL and its stated corpus
assumptions (shingle doc-frequency caps, banding recall) hold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

NANOS_PER_SEC = 10**9
NANOS_PER_DAY = 86_400 * NANOS_PER_SEC
# 2024-01-01T00:00:00Z: every generated timestamp lies after it
EPOCH_START = 1_704_067_200 * NANOS_PER_SEC

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window column order join small customer query big "
    "data filter stream group vector"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
N_DOCS = 500
N_SOURCES = 20
N_VECTORS = 500
EMB_DIM = 64
N_CLUSTERS = 10


def trades_day(rng: np.random.Generator, day: int, rows: int) -> pd.DataFrame:
    """One UTC day of `trades` (ts long nanos, f0 bool, f1 f64, f2 f64),
    ts-ascending. About one row in ten repeats its predecessor's
    timestamp, so distinct-ts limits see ties."""
    start = EPOCH_START + day * NANOS_PER_DAY
    ts = np.sort(rng.integers(start, start + NANOS_PER_DAY, rows, dtype=np.int64))
    dup = rng.random(rows) < 0.1
    dup[0] = False
    ts[dup] = ts[np.flatnonzero(dup) - 1]
    ts = np.maximum.accumulate(ts)
    return pd.DataFrame(
        {
            "ts": ts,
            "f0": rng.random(rows) < 0.5,
            "f1": np.round(30_000 + rng.standard_normal(rows).cumsum(), 2),
            "f2": np.round(rng.exponential(0.5, rows), 4),
        }
    )


def documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i % 20 == 8 and i > 0:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    lang = rng.choice(LANGS, N_DOCS, p=LANG_WEIGHTS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": lang.tolist(),
            "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator) -> pa.Table:
    centres = rng.standard_normal((N_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, N_CLUSTERS, N_VECTORS)
    v = 0.15 * centres[label] + rng.standard_normal((N_VECTORS, EMB_DIM)) / 8
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECTORS), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_corpus(seed: int, out_dir: str) -> None:
    """Write documents.parquet and embeddings.parquet for `seed`."""
    rng = np.random.default_rng([seed, 2])
    pq.write_table(documents(rng), f"{out_dir}/documents.parquet")
    pq.write_table(embeddings(rng), f"{out_dir}/embeddings.parquet")
