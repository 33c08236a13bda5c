"""The whole-doc MinHash kernel (_minhash_sig_fn) must be value-identical
to the declarative shingle-explode plan it replaced — same doc set
(short/NULL docs absent), same 16 minima, edge for edge — on every path:
the Spark plan (minhash_sig_of, native in the workers when it builds),
and the kernel function itself with the C loop and with the forced
Python fallback."""
import hashlib
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators import native
from dataset_dedupe_estimator_spark.queries import dedupe_text
from dataset_dedupe_estimator_spark.queries.dedupe_text import (
    MH_A,
    MH_B,
    MH_P,
    N_MINHASH,
    minhash_sig_of,
    shingles_of,
)

# tokenization edges: consecutive/leading/trailing spaces (empty tokens
# kept by the literal-space split), exactly-3-token docs, sub-threshold
# docs and NULL text (both absent from the output), unicode shingles
# (UTF-8 md5), shingles across md5's padding and block boundaries
# (55/56/64 bytes and two blocks)
EDGE_ROWS = [
    (1, "a b c d"),
    (2, "a  b c"),          # empty token inside
    (3, " a b"),            # leading space -> 3 tokens incl empty
    (4, "ab"),              # 1 token: absent
    (5, ""),                # [''] -> absent
    (6, None),              # NULL -> absent
    (7, "é ü 漢 x"),        # unicode
    (8, "a b c "),          # trailing empty token -> 2 shingles
    (9, "a b c d a b c d"), # repeated shingles (distinct)
    (10, "a b"),            # 2 tokens: absent
    (11, "   "),            # 4 empty tokens -> 2 shingles "  "
    (12, "x" * 51 + " y z"),   # 55-byte shingle
    (13, "x" * 52 + " y z"),   # 56-byte shingle
    (14, "x" * 60 + " y z"),   # 64-byte shingle
    (15, "é" * 60 + " y z"),   # 124-byte shingle, two blocks
]
EDGE_PRESENT = {1, 2, 3, 7, 8, 9, 11, 12, 13, 14, 15}


def _declarative_sig(docs):
    """The pre-r14 plan, verbatim: shingles -> md5 base -> 16 affine
    columns -> min-aggregate (kept here as the parity reference)."""
    sh = shingles_of(docs)
    base = (
        F.conv(F.substring(F.md5(F.col("shingle").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % MH_P
    )
    based = sh.select("doc_id", base.alias("base"))
    hashed = based.select(
        "doc_id",
        *[
            ((F.lit(MH_A[i]) * F.col("base") + F.lit(MH_B[i])) % MH_P).alias(f"h{i}")
            for i in range(N_MINHASH)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(N_MINHASH)]
    )


def _spark_rows(docs):
    return {tuple(r) for r in minhash_sig_of(docs).collect()}


def test_minhash_kernel_matches_declarative_on_fixture(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {tuple(r) for r in _declarative_sig(docs).collect()}
    assert want and _spark_rows(docs) == want


def test_minhash_kernel_edge_docs(spark):
    docs = spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")
    want = {tuple(r) for r in _declarative_sig(docs).collect()}
    got = _spark_rows(docs)
    assert got == want
    assert {t[0] for t in got} == EDGE_PRESENT


@pytest.mark.parametrize("path", ["native", "python"])
def test_kernel_paths_match_declarative(spark, sf_dir, path, monkeypatch):
    """The kernel function on the driver, with the C loop and with the
    native library forced off, on the fixture's documents and the edge
    docs."""
    if path == "native" and not native.available():
        pytest.skip("no native library on this host")
    if path == "python":
        monkeypatch.setattr(native, "_get", lambda: None)
    fixture = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    edges = spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")
    for docs in (fixture, edges):
        want = {tuple(r) for r in _declarative_sig(docs).collect()}
        out = dedupe_text._minhash_sig_fn(iter(docs.toArrow().to_batches()))
        got = {tuple(r.values()) for b in out for r in b.to_pylist()}
        assert want and got == want
    assert {t[0] for t in got} == EDGE_PRESENT


def test_native_and_python_kernels_agree_on_random_docs(monkeypatch):
    """The C loop and the Python fallback give identical batches on 3,000
    random docs (random spacing, ASCII and multi-byte words), in
    batches with a sliced (offset) array and a large_string column."""
    if not native.available():
        pytest.skip("no native library on this host")
    rng = random.Random(20261019)
    words = ["a", "bb", "ccc", "dé", "漢字", "x" * 30, ""]
    texts = [
        None
        if rng.random() < 0.01
        else " ".join(rng.choice(words) for _ in range(rng.randint(0, 60)))
        for _ in range(3000)
    ]
    t = pa.table(
        {"doc_id": pa.array(range(len(texts)), pa.int64()), "text": pa.array(texts)}
    )
    batches = t.to_batches(max_chunksize=700) + [t.slice(5, 200).to_batches()[0]]
    batches.append(
        t.slice(0, 300).cast(
            pa.schema([("doc_id", pa.int64()), ("text", pa.large_string())])
        ).to_batches()[0]
    )
    nat = list(dedupe_text._minhash_sig_fn(iter(batches)))
    monkeypatch.setattr(native, "_get", lambda: None)
    py = list(dedupe_text._minhash_sig_fn(iter(batches)))
    assert len(nat) == len(py) == len(batches)
    assert all(a.equals(b) for a, b in zip(nat, py))
    assert sum(b.num_rows for b in nat) > 2000


def test_native_md5_matches_hashlib():
    """The kernel's C md5 equals hashlib on 0-130 byte inputs (55/56,
    63/64 and 119/120 cross the padding and block boundaries), random
    bytes and UTF-8 shingles alike."""
    if not native.available():
        pytest.skip("no native library on this host")
    rng = random.Random(7)
    for n in range(131):
        for data in (
            bytes(rng.randrange(256) for _ in range(n)),
            ("é" * n).encode()[:n],
            b" " * n,
        ):
            assert native.md5_bytes(data) == hashlib.md5(data).digest(), n
