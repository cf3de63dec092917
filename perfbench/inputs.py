"""Seeded input generation for the benchmark.

The program reads a parquet table shaped like the ``documents`` test
table (TESTDATA.md). The benchmark writes its own copy, so that a run needs nothing outside its checkout:

- A fixed *pool* plays the part of the sf0.1 corpus: 5,000 documents
  whose text is 10-100 words drawn from the corpus' 30-word vocabulary
  (plus a rare ``dup`` token and a few exact duplicate texts). The pool
  never depends on the run seed.
- The run *seed* decides the copy the program receives: which pool
  document is re-keyed into which ``doc_id`` and, for amplified inputs,
  which are replicated.

``doc_id`` is not drawn by the seed because ``sources/pages.derive_pages``
derives the log-line mix, host skew and timestamps from it; the route
mix is therefore the same for every seed while the text payload moves.
It is dense (0..n-1) unless a shape confines the pages to fewer hours.

Generation uses numpy and pyarrow only, so it starts no JVM and is kept
out of every timed figure.
"""

from __future__ import annotations

import functools
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
POOL_SEED = 20240101
POOL_DOCS = 5000


@dataclass(frozen=True)
class Shape:
    """Sizes of one generated input copy."""

    docs: int
    row_groups: int = 1
    hours: int = 24


def doc_ids(n: int, hours: int) -> np.ndarray:
    """The first ``n`` doc_ids whose page lands in the first ``hours``
    hours of the day. ``derive_pages`` stamps doc ``d`` at
    ``(d * 97) % 86400`` seconds, so hours=24 is simply 0..n-1."""
    if hours >= 24:
        return np.arange(n, dtype=np.int64)
    d = np.arange(n * 30, dtype=np.int64)
    keep = d[(d * 97) % 86400 < hours * 3600][:n]
    if len(keep) < n:
        raise ValueError(f"cannot place {n} docs in {hours} hours")
    return keep


def _pool():
    """The seed-independent corpus every copy is drawn from."""
    rng = np.random.default_rng(POOL_SEED)
    n_words = rng.integers(10, 101, POOL_DOCS)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    texts, pos = [], 0
    for i, n in enumerate(n_words):
        toks = [VOCAB[w] for w in words[pos:pos + n]]
        pos += n
        if i % 20 == 11:
            toks.append("dup")
        texts.append(" ".join(toks))
    # a handful of exact duplicate texts, as in the sf0.1 corpus
    for a, b in rng.integers(0, POOL_DOCS, (8, 2)):
        texts[b] = texts[a]
    langs = rng.choice(len(LANGS), POOL_DOCS, p=LANG_WEIGHTS)
    return texts, langs


@functools.cache
def pool():
    """The pool, built once per process."""
    return _pool()


def documents_table(shape: Shape, seed: int) -> pa.Table:
    """``documents`` for one copy: dense doc_ids, pool rows chosen by seed.

    Up to the pool size every pool document is used at most once (a
    seeded permutation); beyond it rows are replicated by a seeded draw
    with replacement."""
    texts, langs = pool()
    rng = np.random.default_rng([seed, 1])
    if shape.docs <= POOL_DOCS:
        pick = rng.permutation(POOL_DOCS)[: shape.docs]
    else:
        pick = rng.integers(0, POOL_DOCS, shape.docs)
    pool_text = pa.array(texts, pa.string())
    text = pool_text.take(pa.array(pick))
    doc_id = doc_ids(shape.docs, shape.hours)
    lang = pa.array(LANGS, pa.string()).take(pa.array(langs[pick]))
    source = pa.array([f"src{i}" for i in range(20)], pa.string()).take(
        pa.array(doc_id % 20)
    )
    n_chars = pc.utf8_length(text).cast(pa.int64())
    return pa.table({
        "doc_id": doc_id, "text": text, "lang": lang,
        "source": source, "n_chars": n_chars,
    })


def _write(table: pa.Table, path: str, row_groups: int) -> None:
    """One parquet file in ``row_groups`` row groups: Spark splits a file
    at row-group boundaries, so this sets how many scan tasks can run."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        table, os.path.join(path, "part-00000.parquet"),
        row_group_size=-(-table.num_rows // row_groups),
    )


def fingerprint(table: pa.Table) -> str:
    """Content hash of a table's values, independent of how it is laid
    out in memory or on disk."""
    h = hashlib.sha256()
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        h.update(name.encode())
        if pa.types.is_string(col.type):
            h.update("\0".join(col.to_pylist()).encode())
        else:
            h.update(col.to_numpy().tobytes())
    return h.hexdigest()[:16]


def generate(shape: Shape, seed: int, out_dir: str) -> str:
    """Write the copy under ``out_dir`` (``documents.parquet``, a directory
    holding one parquet file) and return its fingerprint."""
    docs = documents_table(shape, seed)
    _write(docs, os.path.join(out_dir, "documents.parquet"), shape.row_groups)
    return fingerprint(docs)


if __name__ == "__main__":
    import json
    import sys

    shape_json, seed, out = sys.argv[1:4]
    print(generate(Shape(**json.loads(shape_json)), int(seed), out))
