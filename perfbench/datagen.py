"""Seeded generator for the ``pipeline`` workload's input table.

Writes ``documents`` (the one table ``stream_dedup_minhash`` reads) as a
parquet file with the column names and types of the test table of
TESTDATA.md, at sf0.001 shape. The same seed gives a byte-identical
table; no file outside the target directory is read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window order sort join stream data column filter group query "
    "line customer small big vector dup"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
N_DOCS = 500


def documents(seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    # exactly a fifth of the documents (never among the first 20) are
    # near-duplicates, so the dedup work does not swing with the seed
    dups = set(rng.choice(np.arange(20, N_DOCS), N_DOCS // 5, replace=False).tolist())
    texts = []
    for i in range(N_DOCS):
        if i in dups:
            # near-duplicate of an earlier document: a few words edited
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 1 + len(words) // 25):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            n = int(rng.integers(8, 90))
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), n)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(seed: int, out_dir: str) -> str:
    """Write the table for ``seed`` under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(seed), os.path.join(out_dir, "documents.parquet"))
    return out_dir
