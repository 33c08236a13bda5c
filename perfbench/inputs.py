"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow, no Spark: the program under test only
ever sees the files these functions write. The same seed gives
byte-identical files; a different seed gives different ones.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz ", dtype=np.uint8)


def _strings(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    """n strings of uniform length lo..hi over ``[a-z ]``."""
    lens = rng.integers(lo, hi + 1, n, dtype=np.int64)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    data = _LETTERS[rng.integers(0, len(_LETTERS), int(offsets[-1]))]
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())
    )


def _rows(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    return pa.table(
        {
            "id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "i": pa.array(rng.integers(0, 1_000_000, n, dtype=np.int64)),
            "f": pa.array(np.round(rng.random(n) * 1_000_000, 3)),
            "s": _strings(rng, n, 10, 100),
        }
    )


def write_versions(
    seed: int, out_dir: str, rows: int, versions: int, edit_rows: int
) -> list[str]:
    """Dataset versions of one table: version v+1 is version v with one
    seeded block of ``edit_rows`` rows deleted and one fresh block of
    ``edit_rows`` rows inserted elsewhere. Even versions are written
    uncompressed, odd ones snappy. Returns the file paths in order."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    table = _rows(rng, 0, rows)
    next_id = rows
    paths = []
    for v in range(versions):
        if v:
            cut = int(rng.integers(0, table.num_rows - edit_rows))
            table = pa.concat_tables(
                [table.slice(0, cut), table.slice(cut + edit_rows)]
            )
            at = int(rng.integers(0, table.num_rows))
            fresh = _rows(rng, next_id, edit_rows)
            next_id += edit_rows
            table = pa.concat_tables(
                [table.slice(0, at), fresh, table.slice(at)]
            ).combine_chunks()
        path = os.path.join(out_dir, f"v{v:02d}.parquet")
        pq.write_table(table, path, compression="snappy" if v % 2 else "none")
        paths.append(path)
    return paths


# corpus shape: Zipf words from a VOCAB-word vocabulary, MIN_WORDS to
# MAX_WORDS per doc; COPY_SHARE of docs are near-copies of an earlier doc
# with REPLACE_SHARE of their words redrawn
VOCAB = 5000
MIN_WORDS, MAX_WORDS = 40, 120
COPY_SHARE = 0.10
REPLACE_SHARE = 0.05


def corpus_docs(seed: int, n_docs: int) -> list[str]:
    """``n_docs`` texts of Zipf-drawn words, with near-copies (see the
    corpus constants above)."""
    rng = np.random.default_rng([seed, 2])
    words = [
        "".join(chr(97 + c) for c in rng.integers(0, 26, int(k)))
        for k in rng.integers(3, 11, VOCAB)
    ]
    p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    cdf = np.cumsum(p / p.sum())

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k)), VOCAB - 1)

    docs: list[np.ndarray] = []
    for i in range(n_docs):
        if i and rng.random() < COPY_SHARE:
            doc = docs[int(rng.integers(0, i))].copy()
            hit = rng.random(len(doc)) < REPLACE_SHARE
            doc[hit] = draw(int(hit.sum()))
        else:
            doc = draw(int(rng.integers(MIN_WORDS, MAX_WORDS + 1)))
        docs.append(doc)
    return [" ".join(words[w] for w in doc) for doc in docs]


def write_corpus(
    seed: int, out_dir: str, base_docs: int, batches: int, batch_docs: int
) -> tuple[str, list[str]]:
    """Base corpus plus admission batches as (doc_id, text) parquet files;
    doc ids run 0.. across base then batches in order."""
    os.makedirs(out_dir, exist_ok=True)
    texts = corpus_docs(seed, base_docs + batches * batch_docs)

    def write(name: str, lo: int, hi: int) -> str:
        path = os.path.join(out_dir, name)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                    "text": pa.array(texts[lo:hi], type=pa.string()),
                }
            ),
            path,
        )
        return path

    base = write("base.parquet", 0, base_docs)
    batch_paths = [
        write(
            f"batch_{b}.parquet",
            base_docs + b * batch_docs,
            base_docs + (b + 1) * batch_docs,
        )
        for b in range(batches)
    ]
    return base, batch_paths


def files_digest(paths: list[str]) -> str:
    """sha256 over the files' names and bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode() + b"\0")
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()
