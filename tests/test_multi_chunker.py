"""Shared-scan multi-parameterization chunking: one read must produce
bit-identical chunks to independent per-param passes (the basis for
estimate()'s single-job default+xet path), including across streaming
block boundaries and for content that forces max-size cuts."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from dataset_dedupe_estimator_spark.operators.chunker import (
    XET_PARAMS,
    ChunkerParams,
    _iter_block_cuts,
    boundary_compatible,
    chunk_bytes,
    chunk_files_multi,
)
from dataset_dedupe_estimator_spark.plans.estimate import (
    ESTIMATE_PARAMS,
    chunk_stats,
    estimate,
)


@pytest.fixture(scope="module")
def blob_file(tmp_path_factory):
    """~20 MiB mixed blob (crosses two 8 MiB streaming blocks): random
    segments (boundary-rich), a long zero run (candidate-free, forces max
    cuts), and a repeated section (dedup)."""
    rng = np.random.default_rng(7)
    rand = rng.integers(0, 256, 9 * 1024 * 1024, dtype=np.uint8).tobytes()
    zeros = bytes(2 * 1024 * 1024)
    blob = rand + zeros + rand[: 8 * 1024 * 1024] + rand[::-1][: 1024 * 1024]
    path = tmp_path_factory.mktemp("multi") / "blob.bin"
    path.write_bytes(blob)
    return str(path)


def _collect_single(path, params):
    """(offset, chunk bytes) per chunk from the in-memory reference."""
    with open(path, "rb") as f:
        data = f.read()
    return [(o, data[o : o + s]) for o, s in chunk_bytes(data, params)]


def _collect_multi(path, params_list):
    """(offset, chunk bytes) per chunk and param from the shared scan."""
    per_param = {i: [] for i in range(len(params_list))}
    for pi, buf, start0, cuts, base in _iter_block_cuts(path, params_list):
        prev = start0
        for c in cuts:
            per_param[pi].append((base + prev, buf[prev:c].tobytes()))
            prev = c
    return per_param


def test_multi_matches_singles_bitwise(blob_file):
    params_list = [ESTIMATE_PARAMS, XET_PARAMS]
    per_param = _collect_multi(blob_file, params_list)
    for i, p in enumerate(params_list):
        assert per_param[i] == _collect_single(blob_file, p), f"param {i}"


def test_multi_rejects_incompatible(blob_file):
    with pytest.raises(ValueError, match="boundary-compatible"):
        list(
            _iter_block_cuts(
                blob_file, [ChunkerParams(), ChunkerParams(seed=99)]
            )
        )
    assert not boundary_compatible(ChunkerParams(), ChunkerParams(seed=99))
    assert boundary_compatible(ESTIMATE_PARAMS, XET_PARAMS)


@settings(max_examples=15, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=300_000),
    mins=st.lists(
        st.integers(min_value=128, max_value=8 * 1024), min_size=2, max_size=4
    ),
    max_mult=st.integers(min_value=2, max_value=8),
)
def test_multi_parity_property(data, mins, max_mult):
    """For ANY content and ANY set of boundary-compatible params (random
    min sizes, shared max multiplier), the shared scan must reproduce each
    per-param pass bit-for-bit — the equivalence argument is not specific
    to the default parameterization."""
    import os
    import tempfile

    params_list = [
        ChunkerParams(min_size=m, max_size=m * max_mult, mask_bits=10)
        for m in mins
    ]
    fd, path = tempfile.mkstemp()
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        per_param = _collect_multi(path, params_list)
        for i, p in enumerate(params_list):
            assert per_param[i] == _collect_single(path, p), f"param {i}"
    finally:
        os.unlink(path)


def test_chunk_files_multi_matches_stats(spark, parquet_paths):
    """Spark-side: per-param slices of the multi DataFrame must reproduce
    the single-param chunk_stats exactly."""
    from dataset_dedupe_estimator_spark.operators.chunker import chunk_files

    multi = chunk_files_multi(spark, parquet_paths, [ESTIMATE_PARAMS, XET_PARAMS])
    for i, p in enumerate([ESTIMATE_PARAMS, XET_PARAMS]):
        got = chunk_stats(multi.filter(f"param_idx = {i}").drop("param_idx")).collect()
        want = chunk_stats(chunk_files(spark, parquet_paths, params=p)).collect()
        assert got == want, f"param {i}"


def test_estimate_mixed_corpus_unions_large_files(spark, parquet_paths, monkeypatch):
    """With the parallel threshold lowered so some test files count as
    'large', the shared-scan path must union the per-param large-file
    chunks into the same aggregate and produce identical metrics (hash
    uniqueness is global across the small/large split)."""
    import os

    import dataset_dedupe_estimator_spark.operators.chunker as ch

    baseline = estimate(spark, parquet_paths)
    sizes = sorted(os.path.getsize(p) for p in parquet_paths)
    monkeypatch.setattr(ch, "PARALLEL_THRESHOLD", sizes[len(sizes) // 2] + 1)
    split_calls = []
    parallel_chunks = ch._parallel_chunks

    def spy(spark, files, params, *args):
        split_calls.append([i for i, _ in files])
        return parallel_chunks(spark, files, params, *args)

    monkeypatch.setattr(ch, "_parallel_chunks", spy)
    mixed = estimate(spark, parquet_paths)
    # the large half took the split path, once per parameterization
    large = [
        i for i, p in enumerate(parquet_paths)
        if os.path.getsize(p) > sizes[len(sizes) // 2]
    ]
    assert large and split_calls == [large, large]
    assert mixed == baseline


def test_upload_delta_edit_resync(spark, tmp_path):
    """A small insert into a large file must transfer only the chunks the
    edit touches (CDC resync), not the whole file; an identical file must
    transfer nothing; a brand-new file transfers everything."""
    from dataset_dedupe_estimator_spark.plans.estimate import upload_delta

    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, 8 * 1024 * 1024, dtype=np.uint8).tobytes()
    old = tmp_path / "old.bin"
    old.write_bytes(base)
    edited = tmp_path / "edited.bin"
    edited.write_bytes(base[: 4 * 1024 * 1024] + b"xyz" + base[4 * 1024 * 1024 :])
    same = tmp_path / "same.bin"
    same.write_bytes(base)
    fresh = tmp_path / "fresh.bin"
    fresh.write_bytes(rng.integers(0, 256, 1024 * 1024, dtype=np.uint8).tobytes())

    rows = {r.path.rsplit("/", 1)[-1]: r for r in upload_delta(
        spark, [str(old)], [str(edited), str(same), str(fresh)]
    ).collect()}
    assert rows["same.bin"].novel_bytes == 0
    assert rows["fresh.bin"].novel_bytes == rows["fresh.bin"].file_bytes
    # the edit disturbs at most a few chunks around the insertion point
    assert 0 < rows["edited.bin"].novel_bytes <= 4 * 128 * 1024


def test_estimate_shared_scan_matches_two_pass(spark, parquet_paths):
    shared = estimate(spark, parquet_paths)  # default: shared scan
    # force the two-pass path with a boundary-incompatible xet variant that
    # still produces the same cuts? No — compare against the components:
    single = estimate(spark, parquet_paths, with_xet=False)
    for k in ("total_len", "chunk_bytes", "compressed_chunk_bytes",
              "total_chunks", "unique_chunks", "dedup_ratio"):
        assert shared[k] == single[k], k
    # xet side against an independent single-param pipeline
    from dataset_dedupe_estimator_spark.operators.chunker import chunk_files
    from pyspark.sql import functions as F

    xrow = (
        chunk_files(spark, parquet_paths, params=XET_PARAMS)
        .groupBy("hash").agg(F.first("size").alias("size"))
        .agg(F.sum("size").alias("xet_bytes")).collect()[0]
    )
    assert shared["xet_bytes"] == xrow.xet_bytes


def test_fused_multi_arrays_bit_parity(tmp_path):
    """The shared-scan pipeline (`_iter_block_cuts` + `_emit_chunk_cols`)
    must equal the in-memory reference per param (`chunk_bytes` over the
    file's bytes + `_hash64` + `_compressed_size`) bit-for-bit —
    offsets, sizes, hashes, compressed."""
    from dataclasses import replace

    import numpy as np

    from dataset_dedupe_estimator_spark.operators import native
    from dataset_dedupe_estimator_spark.operators import chunker as C

    if not native.available():
        import pytest

        pytest.skip("no C compiler in environment")
    rng = np.random.default_rng(11)
    blk = rng.integers(0, 256, 1 << 20, dtype=np.uint8).tobytes()
    blob = (
        blk + b"abcdef" * 50_000 + blk
        + rng.integers(0, 256, 2 << 20, dtype=np.uint8).tobytes()
    )
    f = tmp_path / "blob.bin"
    f.write_bytes(blob)
    plist = [
        C.ChunkerParams(),
        replace(C.XET_PARAMS, compress_probe_bytes=0),
    ]
    slow = []
    for pi, p in enumerate(plist):
        for off, size in C.chunk_bytes(blob, p):
            ch = blob[off : off + size]
            comp = C._compressed_size(
                ch, p.compress_probe_bytes, p.compress_scheme
            )
            slow.append((pi, off, size, C._hash64(ch), comp))
    fast, caches = [], [{}, {}]
    for pi, buf, start0, cuts, base in C._iter_block_cuts(str(f), plist):
        offs, sizes, hashes, comps, _ = C._emit_chunk_cols(
            buf, start0, cuts, base, plist[pi], C.IDENTITY_HASH, caches[pi],
            False,
        )
        fast.extend(zip(
            [pi] * len(offs), offs.tolist(), sizes.tolist(),
            hashes.tolist(), comps.tolist(),
        ))
    from collections import defaultdict

    s_by, f_by = defaultdict(list), defaultdict(list)
    for r in slow:
        s_by[r[0]].append(r[1:])
    for r in fast:
        f_by[r[0]].append(r[1:])
    assert s_by == f_by


def test_multi_fast_gate_requires_enforce_max(spark, tmp_path):
    """Reviewed r11 bug: an enforce_max=False param with probe=0 used to
    slip past the shared-scan gate, overflow the bounded carry buffer on
    a candidate-free region and silently truncate the file. The gate
    now requires enforce_max on EVERY param; full byte coverage is the
    regression pin."""
    import numpy as np

    from dataset_dedupe_estimator_spark.operators import chunker as C

    f = tmp_path / "z.bin"
    # 12 MB candidate-free (zero-filled) region: no window-sum boundary
    # fires, so an unbounded pending region grows past max_size + block
    rng = np.random.default_rng(5)
    blob = (
        rng.integers(0, 256, 1 << 20, dtype=np.uint8).tobytes()
        + b"\x00" * (12 << 20)
        + rng.integers(0, 256, 1 << 20, dtype=np.uint8).tobytes()
    )
    f.write_bytes(blob)
    p = C.ChunkerParams(compress_probe_bytes=0, enforce_max=False)
    total = (
        C.chunk_files_multi(spark, [str(f)], [p])
        .groupBy("param_idx")
        .sum("size")
        .collect()
    )
    assert total[0]["sum(size)"] == len(blob)
    # and the block iterator itself refuses the unbounded mode outright
    import pytest

    with pytest.raises(ValueError, match="enforce_max"):
        list(C._iter_block_cuts(str(f), [p]))


def test_dense_candidates_shared_scan_is_exact_and_bounded(tmp_path):
    """A run of a 4-byte pattern whose 64-byte window sum is a boundary
    candidate makes EVERY byte a candidate under ESTIMATE_PARAMS. The
    two-parameterization shared scan must still equal each
    parameterization's own pipeline, and its cut selection must cost
    per cut, not per candidate: on 32 MiB, a selection that walks every
    candidate takes ~10 s, a per-cut one ~0.3 s."""
    import time
    from dataclasses import replace

    from dataset_dedupe_estimator_spark.operators import chunker as C

    f = tmp_path / "dense.bin"
    f.write_bytes(bytes([118, 118, 146, 126]) * (8 << 20))
    head = np.frombuffer(f.read_bytes()[: 1 << 16], dtype=np.uint8)
    assert C._boundary_candidates(head, ESTIMATE_PARAMS).shape[0] > 65_000
    plist = [ESTIMATE_PARAMS, replace(XET_PARAMS, compress_probe_bytes=0)]
    got = {0: [], 1: []}
    caches = [{}, {}]
    t0 = time.perf_counter()
    for pi, buf, start0, cuts, base in _iter_block_cuts(str(f), plist):
        got[pi].append(
            C._emit_chunk_cols(
                buf, start0, cuts, base, plist[pi], C.IDENTITY_HASH,
                caches[pi], False,
            )[:4]
        )
    elapsed = time.perf_counter() - t0
    for pi, p in enumerate(plist):
        cols = [np.concatenate(c) for c in zip(*got[pi])]
        want = C.file_chunk_arrays(str(f), p)
        assert all(np.array_equal(a, b) for a, b in zip(cols, want)), pi
    assert elapsed < 2.0, elapsed


def test_incompatible_params_refused_for_split_path_files(spark, tmp_path, monkeypatch):
    """An incompatible parameterization list is refused on the driver,
    before any frame is built, also when every file would take the
    split path (which chunks one parameterization at a time and so
    never meets the shared-scan iterator's own check)."""
    import dataset_dedupe_estimator_spark.operators.chunker as ch

    f = tmp_path / "big.bin"
    f.write_bytes(np.random.default_rng(3).integers(0, 256, 300_000, dtype=np.uint8).tobytes())
    monkeypatch.setattr(ch, "PARALLEL_THRESHOLD", 1)
    for plist in (
        [ChunkerParams(), ChunkerParams(seed=99)],
        [ChunkerParams(enforce_max=False), ChunkerParams(enforce_max=False)],
    ):
        with pytest.raises(ValueError, match="boundary-compatible"):
            chunk_files_multi(spark, [str(f)], plist)
