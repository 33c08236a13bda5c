"""Chunker invariants mirroring the reference's implicit contracts
(src/store.rs:11-13,65-95): determinism, size bounds, coverage,
content-definedness (shared content → shared chunks)."""

import hashlib
import os
import tempfile

import numpy as np
import pytest

from dataset_dedupe_estimator_spark.operators.chunker import (
    ChunkerParams,
    _hash64,
    chunk_bytes,
    chunk_files,
    file_chunk_arrays,
)

RNG = np.random.default_rng(7)
DATA = RNG.integers(0, 256, 4_000_000, dtype=np.uint8).tobytes()
P = ChunkerParams()


def test_deterministic():
    assert chunk_bytes(DATA) == chunk_bytes(DATA)


def test_coverage_and_bounds():
    chunks = chunk_bytes(DATA)
    offsets = [o for o, _ in chunks]
    sizes = [s for _, s in chunks]
    assert offsets[0] == 0
    assert sum(sizes) == len(DATA)
    # contiguous
    for (o1, s1), (o2, _) in zip(chunks, chunks[1:]):
        assert o1 + s1 == o2
    assert all(s <= P.max_size for s in sizes)
    # all but the final tail respect min size
    assert all(s >= P.min_size for s in sizes[:-1])
    # average in the right ballpark (~64 KiB target, random data)
    avg = sum(sizes) / len(sizes)
    assert 16 * 1024 < avg < 128 * 1024


def test_content_defined_resync():
    """Inserting bytes near the start must not re-chunk the whole stream."""
    edited = DATA[:100_000] + os.urandom(50) + DATA[100_000:]
    orig = {_hash64(DATA[o : o + s]) for o, s in chunk_bytes(DATA)}
    edit = {_hash64(edited[o : o + s]) for o, s in chunk_bytes(edited)}
    shared = len(orig & edit)
    # Most chunks after the edit point re-align (content-defined, not fixed).
    assert shared / len(orig) > 0.8


def _streamed(path, params):
    """(offset, size) per chunk from the streaming file pipeline."""
    offs, sizes, _, _ = file_chunk_arrays(str(path), params)
    return list(zip(offs.tolist(), sizes.tolist()))


def test_streaming_matches_in_memory(tmp_path):
    path = tmp_path / "blob.bin"
    path.write_bytes(DATA)
    streamed = _streamed(path, P)
    assert streamed == chunk_bytes(DATA)


def test_streaming_crosses_block_boundaries(tmp_path):
    # file larger than the 8 MiB streaming block
    big = (DATA * 3)[: 10 * 1024 * 1024]
    path = tmp_path / "big.bin"
    path.write_bytes(big)
    streamed = _streamed(path, P)
    assert streamed == chunk_bytes(big)
    assert sum(s for _, s in streamed) == len(big)


GEAR_P = ChunkerParams(scheme="gear")


def serial_gearhash_cuts(data: bytes, table, mask_bits=16, min_size=8192):
    """Byte-at-a-time gearhash exactly as the reference's hasher loop
    (src/store.rs:65-95): h = (h << 1) + gear[b]; candidate when the top
    mask_bits bits are zero; a candidate closer than min_size to the last
    cut is absorbed into the next chunk. No max enforcement."""
    mask = ((1 << mask_bits) - 1) << (64 - mask_bits)
    h, cuts, start = 0, [], 0
    tl = [int(x) for x in table]
    for i, b in enumerate(data):
        h = ((h << 1) + tl[b]) & 0xFFFFFFFFFFFFFFFF
        if h & mask == 0 and i + 1 - start >= min_size:
            cuts.append(i + 1)
            start = i + 1
    return cuts


def test_gearhash_bit_identical_to_serial():
    from dataset_dedupe_estimator_spark.operators.chunker import _gear_table

    p = ChunkerParams(scheme="gear", enforce_max=False)
    table = _gear_table(p.seed).view(np.uint64)
    data = DATA[:1_000_000]
    expected = serial_gearhash_cuts(data, table, p.mask_bits, p.min_size)
    got = [o + s for o, s in chunk_bytes(data, p)][:-1]  # drop the tail cut
    assert got == expected


def test_gearhash_user_table():
    # pluggable table (the path a user takes to reproduce the reference's
    # DEFAULT_TABLE boundaries exactly)
    table = tuple(
        int(x) for x in np.random.default_rng(99).integers(0, 2**64, 256, dtype=np.uint64)
    )
    p = ChunkerParams(scheme="gear", enforce_max=False, gear_table=table)
    data = DATA[:500_000]
    expected = serial_gearhash_cuts(data, table, p.mask_bits, p.min_size)
    got = [o + s for o, s in chunk_bytes(data, p)][:-1]
    assert got == expected


def test_gearhash_streaming_matches_in_memory(tmp_path):
    big = (DATA * 3)[: 10 * 1024 * 1024]
    path = tmp_path / "gear.bin"
    path.write_bytes(big)
    streamed = _streamed(path, GEAR_P)
    assert streamed == chunk_bytes(big, GEAR_P)
    assert sum(s for _, s in streamed) == len(big)


def test_parallel_chunking_bit_identical(spark, tmp_path):
    """Intra-file parallel chunking (split scan + global cut selection +
    parallel emit) must reproduce the sequential per-file rows exactly —
    same cuts, hashes, sizes, seq — for both boundary schemes."""
    from dataset_dedupe_estimator_spark.operators.chunker import (
        chunk_file_parallel,
        chunk_files_auto,
    )

    big = (DATA * 7)[: 26 * 1024 * 1024]  # several 4 MiB splits
    path = tmp_path / "big.bin"
    path.write_bytes(big)

    for p in (ChunkerParams(), ChunkerParams(scheme="gear")):
        seq_rows = sorted(
            (r.seq, r.offset, r.hash, r.size, r.compressed)
            for r in chunk_files(spark, [str(path)], params=p).collect()
        )
        par_rows = sorted(
            (r.seq, r.offset, r.hash, r.size, r.compressed)
            for r in chunk_file_parallel(
                spark, str(path), params=p, split_bytes=4 * 1024 * 1024
            ).collect()
        )
        assert par_rows == seq_rows, p.scheme

    # the auto dispatcher routes this file through the parallel path
    auto_rows = sorted(
        (r.seq, r.offset, r.hash, r.size)
        for r in chunk_files_auto(
            spark,
            [str(path)],
            parallel_threshold=8 * 1024 * 1024,
            split_bytes=4 * 1024 * 1024,
        ).collect()
    )
    assert len(auto_rows) > 0
    assert auto_rows == sorted(
        (r.seq, r.offset, r.hash, r.size)
        for r in chunk_files(spark, [str(path)]).collect()
    )


def test_auto_dispatcher_mixed_sizes(spark, tmp_path):
    from dataset_dedupe_estimator_spark.operators.chunker import chunk_files_auto

    small = tmp_path / "small.bin"
    small.write_bytes(DATA[:100_000])
    big = tmp_path / "big.bin"
    big.write_bytes((DATA * 3)[: 9 * 1024 * 1024])
    rows = chunk_files_auto(
        spark,
        [str(small), str(big)],
        parallel_threshold=1024 * 1024,
        split_bytes=4 * 1024 * 1024,
    ).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r.file_idx, 0)
        by_file[r.file_idx] += r.size
    assert by_file == {0: 100_000, 1: 9 * 1024 * 1024}


def test_file_list_frame_one_partition_per_file(spark):
    """Partition i holds entry i, with its file_idx kept (non-contiguous,
    as chunk_files_auto passes)."""
    from dataset_dedupe_estimator_spark.operators import chunker

    files = [(3, "/d/a.parquet"), (7, "/d/it's.parquet"), (9, "/d/c.parquet")]
    parts = chunker._file_list_frame(spark, files).rdd.glom().collect()
    assert [[(r.file_idx, r.path) for r in p] for p in parts] == [[f] for f in files]
    assert chunker._file_list_frame(spark, []).count() == 0


def test_streaming_refuses_unbounded_pending(tmp_path):
    # enforce_max=False would grow the pending buffer to the whole file
    # and rescan it per block — the streaming path must refuse it
    path = tmp_path / "x.bin"
    path.write_bytes(DATA[:100_000])
    p = ChunkerParams(scheme="gear", enforce_max=False)
    with pytest.raises(ValueError, match="enforce_max"):
        file_chunk_arrays(str(path), p)


def test_gearhash_coverage_and_bounds():
    chunks = chunk_bytes(DATA, GEAR_P)
    sizes = [s for _, s in chunks]
    assert sum(sizes) == len(DATA)
    assert all(s <= GEAR_P.max_size for s in sizes)
    assert all(s >= GEAR_P.min_size for s in sizes[:-1])


def test_hash64_range():
    h = _hash64(b"hello world")
    assert -(2**63) <= h < 2**63
    assert _hash64(b"hello world") == h
    assert _hash64(b"hello worlde") != h


def test_chunk_files_dataframe(spark, tmp_path):
    p1 = tmp_path / "a.bin"
    p2 = tmp_path / "b.bin"
    p1.write_bytes(DATA)
    p2.write_bytes(DATA)  # identical file → full dedup
    df = chunk_files(spark, [str(p1), str(p2)])
    rows = df.collect()
    assert {r.file_idx for r in rows} == {0, 1}
    total = sum(r.size for r in rows)
    assert total == 2 * len(DATA)
    uniq = df.select("hash").distinct().count()
    assert uniq == len(chunk_bytes(DATA))


class TestNativeKernels:
    """Native C kernels (operators/native.py) must be bit-identical to
    the numpy reference paths for both schemes, and the LZ4-format probe
    must behave like a compressed size."""

    def _numpy_candidates(self, buf, params):
        import importlib
        import os

        import numpy as np

        from dataset_dedupe_estimator_spark.operators import chunker, native

        os.environ["DDES_NO_NATIVE"] = "1"
        # force a fresh module state so _get() re-reads the env var
        native._lib, native._tried = None, False
        try:
            return chunker._boundary_candidates(np.asarray(buf), params)
        finally:
            del os.environ["DDES_NO_NATIVE"]
            native._lib, native._tried = None, False

    def test_boundary_parity_native_vs_numpy(self):
        import numpy as np

        from dataset_dedupe_estimator_spark.operators import native
        from dataset_dedupe_estimator_spark.operators.chunker import (
            ChunkerParams,
            _boundary_candidates,
        )

        if not native.available():
            import pytest

            pytest.skip("no C compiler in environment")
        rng = np.random.default_rng(7)
        cases = [
            np.empty(0, dtype=np.uint8),
            np.zeros(1, dtype=np.uint8),
            np.zeros(64, dtype=np.uint8),
            np.zeros(65, dtype=np.uint8),
            np.zeros(300_000, dtype=np.uint8),  # degenerate constant input
            rng.integers(0, 256, 63, dtype=np.uint8),
            rng.integers(0, 256, 1_000_000, dtype=np.uint8),
            rng.integers(0, 4, 1_000_000, dtype=np.uint8),  # low-entropy
        ]
        for buf in cases:
            for p in (ChunkerParams(), ChunkerParams(scheme="gear"), ChunkerParams(mask_bits=12)):
                got = _boundary_candidates(buf, p)
                ref = self._numpy_candidates(buf, p)
                assert np.array_equal(np.sort(got), np.sort(ref)), (len(buf), p.scheme)

    def test_lz4_probe_size_sane(self):
        import numpy as np

        from dataset_dedupe_estimator_spark.operators import native

        if not native.available():
            import pytest

            pytest.skip("no C compiler in environment")
        rng = np.random.default_rng(11)
        rand = rng.integers(0, 256, 100_000, dtype=np.uint8).tobytes()
        assert native.lz4_probe_size(b"") == 1
        # repetitive input compresses hard; format worst case bounds expansion
        assert native.lz4_probe_size(b"ab" * 50_000) < 1000
        assert native.lz4_probe_size(rand) <= len(rand) + len(rand) // 255 + 16
        # deterministic
        assert native.lz4_probe_size(rand) == native.lz4_probe_size(rand)

    def test_compress_scheme_dispatch(self):
        import zlib

        from dataset_dedupe_estimator_spark.operators import native
        from dataset_dedupe_estimator_spark.operators.chunker import _compressed_size

        data = b"hello world, hello world, hello world" * 1000
        assert _compressed_size(data, None, "zlib1") == len(zlib.compress(data, 1))
        assert _compressed_size(data, 0, "auto") == len(data)
        if native.available():
            assert _compressed_size(data, None, "lz4") == native.lz4_probe_size(data)
            # sampled probe scales
            capped = _compressed_size(data, 1024, "lz4")
            assert 0 < capped < len(data)


def test_xxh64_known_vectors_and_jvm_parity(spark):
    """The native XXH64 must match the PUBLISHED test vectors and —
    independently — Spark's own JVM xxhash64 expression (seed 42) on
    binary input, so a transcription error in the C cannot hide."""
    from pyspark.sql import functions as F

    from dataset_dedupe_estimator_spark.operators import native

    if not native.available():
        pytest.skip("no C compiler")
    assert native.xxh64_bytes(b"", 0) == 0xEF46DB3751D8E999
    assert native.xxh64_bytes(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert native.xxh64_bytes(b"abc", 0) == 0x44BC2CF5AD770999
    # every tail path: 0/partial-word/word/4-byte/stripe boundaries
    datas = [os.urandom(n) for n in (0, 1, 3, 4, 7, 8, 15, 31, 32, 33, 1000)]
    jvm = [
        r.h
        for r in spark.createDataFrame(
            [(d,) for d in datas], "b: binary"
        ).select(F.xxhash64("b").alias("h")).collect()
    ]
    for d, want in zip(datas, jvm):
        u = native.xxh64_bytes(d, 42)
        assert (u - (1 << 64) if u >= (1 << 63) else u) == want


def test_identity_hash_scheme_guard():
    """An executor that cannot honor the driver's xxh64 choice must
    fail loudly, never silently mix hash schemes in one table."""
    from dataset_dedupe_estimator_spark.operators import chunker, native

    if native.available():
        assert chunker.IDENTITY_HASH == "xxh3-64"  # reference parity (r12)
        for scheme in ("xxh3-64", "xxh64"):
            h = chunker._hash64_fn(scheme)(b"hello")
            assert -(1 << 63) <= h < (1 << 63)
        assert chunker._hash64_fn("xxh3-64")(b"hello") != chunker._hash64_fn(
            "xxh64"
        )(b"hello")
    # sha1-64 resolves everywhere
    h2 = chunker._hash64_fn("sha1-64")(b"hello")
    assert h2 == int.from_bytes(
        hashlib.sha1(b"hello").digest()[:8], "little"
    ) - ((1 << 64) if hashlib.sha1(b"hello").digest()[7] >= 0x80 else 0)
    with pytest.raises(ValueError, match="unknown identity hash"):
        chunker._hash64_fn("nope")


def _native_available() -> bool:
    from dataset_dedupe_estimator_spark.operators import native

    return native.available()


class TestFusedArrayPipeline:
    """The streaming pipeline (`file_chunk_arrays`: the block iterator
    and the emitter's native hash and lz4 probe passes) must be BIT-IDENTICAL to
    the in-memory reference (`chunk_bytes` over the file's bytes +
    `_hash64` + `_compressed_size` per chunk) — offsets, sizes, hashes,
    compressed sizes, in order."""

    def _slow(self, path, p, scheme=None):
        from dataset_dedupe_estimator_spark.operators.chunker import (
            IDENTITY_HASH,
            _compressed_size,
            _hash64_fn,
        )

        hash64 = _hash64_fn(scheme or IDENTITY_HASH)
        with open(path, "rb") as f:
            data = f.read()
        return [
            (off, size, hash64(data[off : off + size]),
             _compressed_size(
                 data[off : off + size], p.compress_probe_bytes,
                 p.compress_scheme,
             ))
            for off, size in chunk_bytes(data, p)
        ]

    def _fast(self, path, p):
        from dataset_dedupe_estimator_spark.operators.chunker import (
            file_chunk_arrays,
        )

        offs, sizes, hashes, comps = file_chunk_arrays(path, p)
        return list(zip(
            offs.tolist(), sizes.tolist(), hashes.tolist(), comps.tolist()
        ))

    @pytest.mark.skipif(not _native_available(), reason="no C compiler")
    def test_bit_parity_param_matrix(self, tmp_path):
        import numpy as np

        from dataset_dedupe_estimator_spark.operators.chunker import (
            XET_PARAMS,
            ChunkerParams,
        )

        rng = np.random.default_rng(7)
        blk = rng.integers(0, 256, 1 << 20, dtype=np.uint8).tobytes()
        blob = (
            blk + b"abcdef" * 100_000 + blk
            + rng.integers(0, 256, 3 << 20, dtype=np.uint8).tobytes() + blk
        )
        f = tmp_path / "blob.bin"
        f.write_bytes(blob)
        cases = [
            ChunkerParams(),
            ChunkerParams(compress_probe_bytes=16 * 1024),
            ChunkerParams(compress_probe_bytes=0),
            ChunkerParams(scheme="gear"),
            ChunkerParams(scheme="gear", min_size=16 * 1024,
                          max_size=64 * 1024, mask_bits=14),
            XET_PARAMS,
            # min_size <= window: still exact
            ChunkerParams(min_size=60, max_size=1000, mask_bits=8),
            ChunkerParams(min_size=100, max_size=1000, mask_bits=8),
        ]
        for p in cases:
            assert self._slow(str(f), p) == self._fast(str(f), p), p

    @pytest.mark.skipif(not _native_available(), reason="no C compiler")
    def test_bit_parity_hypothesis(self, tmp_path):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from dataset_dedupe_estimator_spark.operators.chunker import (
            ChunkerParams,
        )

        @settings(max_examples=20, deadline=None)
        @given(
            seed=st.integers(0, 2**16),
            nblocks=st.integers(1, 40),
            mask_bits=st.sampled_from([6, 8, 10]),
            min_size=st.sampled_from([65, 128, 400]),
            max_mult=st.integers(2, 6),
            scheme=st.sampled_from(["window", "gear"]),
            probe=st.sampled_from([None, 0, 128]),
        )
        def check(seed, nblocks, mask_bits, min_size, max_mult, scheme,
                  probe):
            rng = np.random.default_rng(seed)
            parts = []
            for i in range(nblocks):
                b = rng.integers(
                    0, rng.integers(2, 256), rng.integers(1, 4096),
                    dtype=np.uint8,
                ).tobytes()
                parts.append(b)
                if i % 3 == 0:
                    parts.append(b)  # repeats exercise the probe cache
            f = tmp_path / f"h{seed}.bin"
            f.write_bytes(b"".join(parts))
            p = ChunkerParams(
                min_size=min_size, max_size=min_size * max_mult,
                mask_bits=mask_bits, scheme=scheme,
                compress_probe_bytes=probe,
            )
            assert self._slow(str(f), p) == self._fast(str(f), p)

        check()

    def test_zlib1_probe(self, tmp_path):
        """compress_scheme="zlib1" takes the emitter's per-chunk loop."""
        f = tmp_path / "big.bin"
        f.write_bytes((DATA * 3)[: 10 * 1024 * 1024])
        for probe in (None, 16 * 1024):
            p = ChunkerParams(compress_scheme="zlib1", compress_probe_bytes=probe)
            assert self._slow(str(f), p) == self._fast(str(f), p), probe

    @pytest.mark.parametrize("scheme", ["sha1-64", "xxh64", "xxh3-64"])
    def test_emitter_hash_schemes(self, tmp_path, scheme):
        """Every identity-hash scheme the driver can pick gives the same
        values through the emitter as the per-chunk hash callable, across
        the block iterator's 8 MiB blocks."""
        from dataset_dedupe_estimator_spark.operators.chunker import (
            _emit_chunk_cols,
            _iter_block_cuts,
        )

        if scheme != "sha1-64" and not _native_available():
            pytest.skip("no C compiler")
        f = tmp_path / "big.bin"
        f.write_bytes((DATA * 3)[: 10 * 1024 * 1024])
        p = ChunkerParams(compress_probe_bytes=16 * 1024)
        got, cache = [], {}
        for _, buf, start0, cuts, base in _iter_block_cuts(str(f), [p]):
            offs, sizes, hashes, comps, _ = _emit_chunk_cols(
                buf, start0, cuts, base, p, scheme, cache, False
            )
            got.extend(zip(
                offs.tolist(), sizes.tolist(), hashes.tolist(), comps.tolist()
            ))
        assert got == self._slow(str(f), p, scheme)

    @pytest.mark.skipif(not _native_available(), reason="no C compiler")
    def test_chunk_files_uses_fast_path_same_rows(self, spark, tmp_path):
        """End-to-end through Spark: chunk_files (fast path) equals a
        store_data=True run (slow path) row-for-row."""
        import numpy as np

        from dataset_dedupe_estimator_spark.operators.chunker import (
            ChunkerParams,
            chunk_files,
        )

        rng = np.random.default_rng(3)
        pths = []
        for i in range(3):
            f = tmp_path / f"f{i}.bin"
            f.write_bytes(
                rng.integers(0, 256, 200_000 + i, dtype=np.uint8).tobytes()
            )
            pths.append(str(f))
        p = ChunkerParams(min_size=1000, max_size=8000, mask_bits=10)
        fast = chunk_files(spark, pths, params=p).orderBy(
            "file_idx", "seq"
        ).collect()
        slow = chunk_files(spark, pths, params=p, store_data=True).drop(
            "data"
        ).orderBy("file_idx", "seq").collect()
        assert fast == slow


def _cuts_reference(n, candidates, start, params):
    """Cut selection candidate by candidate: the definition that
    ``_cuts_from_candidates`` must reproduce."""
    cuts = []
    for c in candidates.tolist():
        if params.enforce_max:
            while c - start > params.max_size:
                start += params.max_size
                cuts.append(start)
        if c - start < params.min_size:
            continue
        cuts.append(c)
        start = c
    if params.enforce_max:
        while n - start > params.max_size:
            start += params.max_size
            cuts.append(start)
    return cuts


def test_cut_selection_matches_candidate_loop():
    """Random lengths, candidate densities (up to every byte), starts,
    min/max (min above max included) and both enforce_max modes."""
    from dataset_dedupe_estimator_spark.operators.chunker import (
        _cuts_from_candidates,
    )

    rng = np.random.default_rng(3)
    for _ in range(3000):
        n = int(rng.integers(0, 4000))
        k = int(rng.integers(0, n + 1))
        cand = np.unique(rng.integers(1, n + 1, k)).astype(np.int64)
        start = int(rng.integers(0, n // 2 + 1))
        p = ChunkerParams(
            min_size=int(rng.integers(0, 600)),
            max_size=int(rng.integers(1, 1200)),
            enforce_max=bool(rng.integers(0, 2)),
        )
        assert _cuts_from_candidates(n, cand, start, p) == _cuts_reference(
            n, cand, start, p
        ), (n, start, p)


def test_store_data_rows_carry_chunk_bytes(spark, tmp_path):
    """store_data=True: each row's data is the file's bytes at
    [offset, offset + size), and every other column equals the
    store_data=False row, for one and for two parameterizations."""
    from dataset_dedupe_estimator_spark.operators.chunker import (
        XET_PARAMS,
        chunk_files_multi,
    )

    big = (DATA * 3)[: 10 * 1024 * 1024]
    f = tmp_path / "big.bin"
    f.write_bytes(big)
    cases = [
        lambda sd: chunk_files(spark, [str(f)], store_data=sd),
        lambda sd: chunk_files_multi(
            spark, [str(f)], [P, XET_PARAMS], store_data=sd
        ),
    ]
    for make in cases:
        with_data = make(True).collect()
        assert with_data
        for r in with_data:
            assert r.data == big[r.offset : r.offset + r.size]
        assert sorted(
            tuple(v for c, v in r.asDict().items() if c != "data")
            for r in with_data
        ) == sorted(tuple(r) for r in make(False).collect())


def test_split_path_rows_equal_per_file_rows(spark, tmp_path):
    """The split path's work units go through the same emitter as the
    per-file path (native hash and probe passes where available): its
    rows equal chunk_files' rows, compressed sizes included."""
    from dataset_dedupe_estimator_spark.operators.chunker import (
        chunk_file_parallel,
    )

    f = tmp_path / "big.bin"
    f.write_bytes((DATA * 3)[: 10 * 1024 * 1024])
    p = ChunkerParams(compress_probe_bytes=16 * 1024)
    want = chunk_files(spark, [str(f)], params=p).orderBy("seq").collect()
    got = chunk_file_parallel(
        spark, str(f), params=p, split_bytes=4 * 1024 * 1024
    ).orderBy("seq").collect()
    assert len(want) > 100
    assert got == want
