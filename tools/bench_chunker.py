"""Single-core chunker throughput microbenchmark.

Measures each stage of the CDC hot path in isolation, then end-to-end,
on a synthetic 48 MiB mixed blob (random + duplicated blocks — random
bytes are the worst case for the compressibility probe). This is the
source of the per-core MB/s figures in SCALING.md §1 and of the
native-vs-numpy comparison in operators/native.py.

Usage: python tools/bench_chunker.py [MiB]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dataset_dedupe_estimator_spark.operators import native  # noqa: E402
from dataset_dedupe_estimator_spark.operators.chunker import (  # noqa: E402
    ChunkerParams,
    _boundary_candidates,
    _compressed_size,
    _hash64,
    file_chunk_arrays,
)


def _mixed_blob(mib: int) -> bytes:
    rng = np.random.default_rng(1)
    parts = []
    for i in range(mib):
        blk = rng.integers(0, 256, 1024 * 1024 // 4 * 3, dtype=np.uint8).tobytes()
        parts.append(blk)
        if i % 3 == 0:
            parts.append(blk)  # duplicate ~1/3 of blocks
    return b"".join(parts)


def _rate(nbytes: int, fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return nbytes / best / 1e6


def main() -> None:
    mib = int(sys.argv[1]) if len(sys.argv) > 1 else 48
    data = _mixed_blob(mib)
    n = len(data)
    buf = np.frombuffer(data, dtype=np.uint8)
    print(f"blob: {n >> 20} MiB; native kernels: {native.available()}")

    for label, p in (
        ("window", ChunkerParams()),
        ("gear", ChunkerParams(scheme="gear")),
    ):
        print(f"boundary scan [{label}]: "
              f"{_rate(n, lambda: _boundary_candidates(buf, p)):.0f} MB/s")

    from dataset_dedupe_estimator_spark.operators.chunker import chunk_bytes

    chunks = [data[o: o + s] for o, s in chunk_bytes(data)]
    print(f"chunks: {len(chunks)} (avg {n / len(chunks) / 1024:.0f} KiB)")
    print(f"identity hash (sha1-64): "
          f"{_rate(n, lambda: [_hash64(c) for c in chunks]):.0f} MB/s")
    for label, scheme in (("lz4", "auto"), ("zlib1", "zlib1")):
        print(f"compress probe [{label}]: "
              f"{_rate(n, lambda: [_compressed_size(c, None, scheme) for c in chunks], reps=1):.0f} MB/s")

    # native emit stages (the executor hot path; the per-chunk stages
    # above are the fallback pipeline)
    if native.available():
        from dataset_dedupe_estimator_spark.operators.chunker import (
            _cuts_from_candidates,
        )

        p0 = ChunkerParams()
        cand = _boundary_candidates(buf, p0)
        print(
            f"cut selection [window]: "
            f"{_rate(n, lambda: _cuts_from_candidates(n, cand, 0, p0)):.0f} MB/s"
        )
        cuts = np.asarray(
            _cuts_from_candidates(n, cand, 0, p0), dtype=np.int64
        )
        rel = np.empty(len(cuts), dtype=np.int64)
        rel[0] = 0
        rel[1:] = cuts[:-1]
        sizes = cuts - rel
        idx = np.arange(len(cuts), dtype=np.int64)
        print(f"hash scan (xxh64): "
              f"{_rate(n, lambda: native.chunk_hashes(buf, cuts, 0, 42)):.0f} MB/s")
        print(f"probe scan (lz4, full): "
              f"{_rate(n, lambda: native.chunk_probes(buf, rel, sizes, idx, -1)):.0f} MB/s")
        print(f"probe scan (lz4, 16k): "
              f"{_rate(n, lambda: native.chunk_probes(buf, rel, sizes, idx, 16384)):.0f} MB/s")

    with tempfile.NamedTemporaryFile(delete=False) as f:
        f.write(data)
        path = f.name
    try:
        for label, p in (
            ("window/full-probe", ChunkerParams()),
            ("window/probe16k", ChunkerParams(compress_probe_bytes=16 * 1024)),
            ("gear/full-probe", ChunkerParams(scheme="gear")),
        ):
            print(
                f"end-to-end [{label}]: "
                f"{_rate(n, lambda p=p: file_chunk_arrays(path, p), reps=3):.0f} MB/s/core"
            )
    finally:
        os.unlink(path)


if __name__ == "__main__":
    main()
