"""Seeded input generation for the benchmark.

Every workload reads one table, ``documents.parquet``, with the schema of
the repository's synthetic testdata (TESTDATA.md): ``doc_id, text, lang,
source, n_chars``.
The pages, the dedup corpus and the link graph are all derived from it by
the program itself (``sources/pages.py``, ``sources/corpus.py``).

The generator draws from the same vocabulary and distributions as that
testdata: 30 query-engine words, 10..100 words per document, ``en`` twice
as often as each other language, 20 round-robin sources, and a ``dup``
marker word on one document in twenty.  The seed changes which text each
``doc_id`` carries, never how many documents there are, so two seeds give
inputs of the same size and the same shape.

``doc_id`` is contiguous ``0..n_docs-1``, which ``sources/pages.py``
requires for its uid arithmetic.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "de", "es", "fr", "zh")
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100
DUP_EVERY = 20


def documents_table(seed: int, n_docs: int) -> pa.Table:
    rng = random.Random(seed)
    texts = []
    for _ in range(n_docs):
        words = rng.choices(VOCAB, k=rng.randint(MIN_WORDS, MAX_WORDS))
        if rng.randrange(DUP_EVERY) == 0:
            words.append("dup")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_inputs(out_dir: str, seed: int, n_docs: int) -> str:
    """Write ``documents.parquet`` for ``seed`` under ``out_dir``; return the dir."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents_table(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
    return out_dir


def input_bytes(sf_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
