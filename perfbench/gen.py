"""Seeded input generator for the benchmark workloads.

Every workload reads only what this module writes: a fresh ``sf_dir``
holding ``documents.parquet``, with the schema of the engine's review
corpus (doc_id, text, lang, source, n_chars). The same seed gives the
same table; a different seed gives different rows of the same shape
(word-count ladder, language counts, copy count), so timings are
comparable across seeds.

The shape is the one measured on the 5 000-row sf0.1 ``documents``
table of the repository's test data (perfbench/README.md lists the
measurements): lowercase letters and single spaces only, 10 to 100
words drawn uniformly from a 30-word vocabulary, and 5% of the rows a
copy of another row with `` dup`` appended. A copy may copy a copy, and
two copies of one row are exact duplicates of each other.

Each call writes a NEW directory. The engine keys its landing cache on
``(kind, sf_dir)``, so a reused path would serve landings built from an
older corpus.
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 100
COPY_RATE = 0.05
COPY_MARK = "dup"
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARE = (0.412, 0.151, 0.149, 0.148, 0.140)
N_SOURCES = 20


@dataclass(frozen=True)
class Corpus:
    sf_dir: str
    input_bytes: int


def texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    """``n_docs`` review texts: originals with one fixed ladder of word
    counts, then COPY_RATE copies, each of an earlier text (original or
    copy) plus COPY_MARK, in seeded order."""
    n_copy = round(n_docs * COPY_RATE)
    n_orig = n_docs - n_copy
    lengths = np.linspace(MIN_WORDS, MAX_WORDS, n_orig).round().astype(int)
    out = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(k)))
        for k in rng.permutation(lengths)
    ]
    for _ in range(n_copy):
        out.append(out[int(rng.integers(0, len(out)))] + " " + COPY_MARK)
    return [out[k] for k in rng.permutation(n_docs)]


def documents(rng: np.random.Generator, n_docs: int) -> dict[str, pa.Array]:
    """The ``documents`` columns: texts, fixed language counts in seeded
    order, sources round-robin by row, doc ids a seeded permutation at a
    seeded offset."""
    body = texts(rng, n_docs)
    counts = [round(n_docs * p) for p in LANG_SHARE[1:]]
    langs = np.array(
        [LANGS[0]] * (n_docs - sum(counts))
        + [lang for lang, c in zip(LANGS[1:], counts) for _ in range(c)]
    )
    ids = rng.permutation(n_docs).astype("int64") + int(rng.integers(0, 10**6))
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(body),
        "lang": pa.array(rng.permutation(langs)),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in body], pa.int64()),
    }


_serial = itertools.count()


def make_inputs(root: str, seed: int, n_docs: int) -> Corpus:
    """Write one fresh ``sf_dir`` under ``root`` holding an ``n_docs``
    corpus. The directory name embeds a per-process serial number, so
    no path repeats within a process."""
    sf_dir = os.path.join(root, f"docs_{seed}_{n_docs}_{next(_serial)}")
    os.makedirs(sf_dir)
    path = os.path.join(sf_dir, "documents.parquet")
    table = pa.table(documents(np.random.default_rng([seed, n_docs]), n_docs))
    pq.write_table(table, path, compression="snappy")
    return Corpus(sf_dir, os.path.getsize(path))
