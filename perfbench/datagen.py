"""Seeded generator for the benchmark's `documents` table.

The shape is that of the engine's sf0.1 `documents` table (`doc_id, text,
lang, source, n_chars`), measured from it: 5000 documents, 250 per source
over 20 sources; texts of 10-99 words, lengths uniform; 30 distinct words
plus the token ``dup``; one document in 20 is a near-duplicate, an earlier
text plus `` dup``; 41% `en`, the rest `de`, `es`, `fr`, `zh` (here 3 in 7
`en`).
The benchmark generates a quarter of its documents (see run.py).

The seed changes the content, not the amount of work: every seed gives the
same multiset of text lengths and the same number of duplicate pairs, each
copying a distinct original, so the near-dup clusters always have the same
shape. The same seed gives byte-identical parquet.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
N_SOURCES = 20
WORDS = (10, 99)
DUP_EVERY = 20  # one document in 20 is a near-duplicate


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = random.Random(seed)
    lo, hi = WORDS
    lengths = [lo + i % (hi - lo + 1) for i in range(n_docs)]
    rng.shuffle(lengths)
    n_dups = n_docs // DUP_EVERY
    n_orig = n_docs - n_dups
    texts = [" ".join(rng.choices(VOCAB, k=k)) for k in lengths[:n_orig]]
    texts += [texts[i] + " dup" for i in rng.sample(range(n_orig), n_dups)]
    order = list(range(n_docs))
    rng.shuffle(order)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i % len(LANGS)] for i in range(n_docs)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(seed: int, sf_dir: str, n_docs: int) -> str:
    """Write the seeded tables under ``sf_dir``; return the documents path."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(documents(seed, n_docs), path)
    return path
