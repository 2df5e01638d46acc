"""Seeded generator for the benchmark's documents table.

The table follows the schema and value ranges of graft's `documents`
test table, so `Tables.documents`, the dedup operators and the DuckDB
oracle of `dedup_apply_cc` run on it unchanged. The same seed always
gives the same bytes.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = 2_400
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def documents(rng):
    """Random-word documents over a 31-word vocabulary, with 5% near
    duplicates (another document plus " dup") and a few exact copies —
    the shape that gives md5-minhash many candidates to verify."""
    n = DOCUMENTS
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, seed):
    """Write `<out_dir>/documents.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, ".documents.parquet.tmp")
    pq.write_table(documents(np.random.default_rng(seed)), tmp)
    os.replace(tmp, os.path.join(out_dir, "documents.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
