"""Seeded generator for the ``documents`` and ``embeddings`` tables the
LLM-data-pipeline operators read.

The shape follows the engine's sf0.1 test corpus: 10-100 tokens per
document drawn uniformly from a 30-word vocabulary, 5% near duplicates
(an earlier document plus the token ``dup``), about 0.2% exact
duplicates, and unit-norm 64-d embeddings with 10 labels. At 5,000
documents this gives ~200k-235k pairs with token-set Jaccard >= 0.95
(the sf0.1 test corpus has 191k); ``selftest.py --reference`` compares
a generated corpus with the test tables. The same seed gives
byte-identical files.

    python3 perfbench/gen_corpus.py OUT_DIR --seed 42 [--scale 0.1]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
TABLES = ("documents", "embeddings")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for _ in range(n):
        words = vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]
        texts.append(" ".join(words))
    ids = np.arange(n)
    near = rng.choice(ids[n // 10 :], n // 20, replace=False)
    for i in sorted(near):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    exact = rng.choice(np.setdiff1d(ids[n // 10 :], near), max(n // 600, 1), replace=False)
    for i in sorted(exact):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate(out: str, seed: int, scale: float = 0.1) -> dict[str, int]:
    """Write both tables as ``<out>/<table>.parquet``; returns row counts.
    ``scale`` is the fraction of sf1 (50,000 documents, 20,000 vectors)."""
    os.makedirs(out, exist_ok=True)
    tables = {
        "documents": _documents(np.random.default_rng(seed), max(int(50_000 * scale), 40)),
        "embeddings": _embeddings(np.random.default_rng(seed + 1), max(int(20_000 * scale), 20)),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="snappy")
    return {name: table.num_rows for name, table in tables.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=0.1)
    args = ap.parse_args()
    print(generate(args.out, args.seed, args.scale))


if __name__ == "__main__":
    main()
