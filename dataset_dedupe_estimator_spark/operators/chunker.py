"""Content-defined chunking (CDC) as a Spark operator.

Reference parity: the Rust core splits every file's byte stream into
variable-size chunks with a gearhash rolling hash (boundary when
``hash & 0xffff000000000000 == 0`` → ~64 KiB average, min 8 KiB, max 128 KiB
declared; /root/reference/src/store.rs:11-13,65-95), identifies chunks by a
64-bit content hash (xxh3, src/store.rs:44) and records an lz4-compressed
size per chunk (src/store.rs:45).

Spark-first design decisions (documented deviations):

* **Boundary function**: two schemes, both dispatched to a self-compiled
  C kernel when a system compiler exists (operators/native.py, ~1 GB/s
  per core, GIL released) with a bit-identical numpy fallback:
  ``"window"`` — a 64-byte rolling window of seeded per-byte gear
  values, window-sum mixed by a 64-bit multiplicative constant, boundary
  when the top 16 bits are zero (same 2^-16 boundary probability → same
  ~64 KiB average chunk size as the reference), min 8 KiB / max 128 KiB
  *enforced* (the reference declares but does not enforce max;
  src/store.rs:82 TODO); and ``"gear"`` — the reference's exact gearhash
  recurrence (see ChunkerParams). ``"window"`` boundaries are
  content-defined and shift-invariant like gearhash but not
  bit-identical to the reference's; dedup semantics under edits are
  preserved.
* **Identity hash**: XXH3-64 (native C kernel; BIT-PARITY with the
  reference's ``xxh3_64``, src/store.rs:44 — validated against the
  upstream sanity vectors and an independent pure-Python
  implementation in tests/test_xxh3.py). XXH64 seed 42 stays available
  (same bits as Spark's JVM ``xxhash64`` on binary — cross-checked in
  tests) for artifacts that pinned it; the engine contract is "any
  stable 64-bit content hash" (SURVEY §2 C2). Falls back to sha1-64
  without a C compiler; the scheme is decided on the driver and
  ENFORCED on executors (no silent mixing).
* **Compressed-size probe**: a native LZ4-block-format size counter —
  the reference's codec (src/store.rs:45) re-expressed as a count-only
  greedy compressor with lz4's incompressible-skip acceleration
  (~3.5 GB/s/core on mixed data); ``zlib.compress(chunk, 1)`` is the
  dependency-free fallback (ChunkerParams.compress_scheme).

The operator is embarrassingly parallel per file (one Spark task per file,
mirroring the reference's rayon task-per-file, src/store.rs:103-112). The
UDF *streams* each file in 8 MiB blocks rather than materializing it — this
is the 100 TB scale path: `binaryFile` caps rows at 2 GB and ships whole
file bytes through the scan, while path-based streaming reads only inside
the executor task.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators import native

# Arrow schema of the chunk-occurrence table — the engine's central relation.
# (file_idx, seq) carries what the reference's ChunkStore.order carries
# (src/store.rs:28): the position of every chunk occurrence in stream order.
CHUNK_SCHEMA = pa.schema(
    [
        pa.field("file_idx", pa.int64()),
        pa.field("path", pa.string()),
        pa.field("seq", pa.int64()),
        pa.field("offset", pa.int64()),
        pa.field("hash", pa.int64()),
        pa.field("size", pa.int64()),
        pa.field("compressed", pa.int64()),
        pa.field("data", pa.binary()),
    ]
)

CHUNK_DDL = (
    "file_idx long, path string, seq long, offset long, "
    "hash long, size long, compressed long, data binary"
)


@dataclass(frozen=True)
class ChunkerParams:
    """CDC parameters; defaults mirror /root/reference/src/store.rs:11-13.

    scheme: boundary function (both native-accelerated, ~0.8-1.2 GB/s
    per core with the C kernel; numpy fallback ~40-75 MB/s).
      * ``"window"`` (default): windowed-sum scheme — content-defined,
        same boundary probability as gearhash, not bit-identical to it.
      * ``"gear"``: *exact* gearhash (``h = (h << 1) + gear[b]`` mod 2^64,
        boundary when the top ``mask_bits`` bits are zero — the reference's
        algorithm, src/store.rs:65-95 via the gearhash crate). Cut
        positions are bit-identical to the reference for the same
        256-entry table; the crate's DEFAULT_TABLE constant is not
        vendored in this environment, so the default table is seeded —
        pass the real one via ``ChunkerParams.gear_table`` (a tuple of
        256 ints) to reproduce reference boundaries exactly.

    enforce_max: the reference *declares* MAX_LEN but does not enforce it
    (src/store.rs:82 TODO); True (default) force-cuts at max_size for
    bounded memory, False reproduces reference behavior.

    compress_probe_bytes: optional cap on bytes fed to the
    compressibility probe per chunk; the compressed size is scaled by
    chunk_len/probe_len. The probe is the largest single CPU cost at
    full fidelity — cap it when estimating at 100 TB and exact per-chunk
    compressed sizes don't matter (dedup_ratio is unaffected; only
    compressed_chunk_bytes becomes an estimate).
    """

    min_size: int = 8 * 1024
    max_size: int = 128 * 1024
    mask_bits: int = 16  # boundary probability 2^-mask_bits → ~64 KiB average
    window: int = 64
    seed: int = 0x9E3779B9
    compress_probe_bytes: int | None = None
    scheme: str = "window"
    enforce_max: bool = True
    gear_table: tuple[int, ...] | None = None  # 256 u64s; None → seeded
    # Compressibility-probe codec: "lz4" = native LZ4-block-format size
    # (the reference's codec, src/store.rs:45; ~10x the zlib-1 probe's
    # throughput), "zlib1" = stdlib zlib level 1, "auto" = lz4 when the
    # native library built, else zlib1. Either way `compressed` is a
    # probe, not a storage codec.
    compress_scheme: str = "auto"

    @property
    def avg_size(self) -> int:
        return 1 << self.mask_bits << 2  # not exact; informational


# Production xet-core chunker parameterization (src/xet.rs:10-39 uses
# TARGET_CHUNK_SIZE = 64 KiB with min=target/4, max=target*2).
XET_PARAMS = ChunkerParams(min_size=16 * 1024, max_size=128 * 1024, mask_bits=16)

_GEAR_CACHE: dict[int, np.ndarray] = {}
# int64 arithmetic throughout: this numpy build's uint64 kernels lack SIMD
# paths (8-13x slower); two's-complement int64 wraparound produces the same
# low 64 bits, and the top-16-bits-zero test becomes a sign-safe mask test.
_MIX = np.int64(np.uint64(0x9E3779B97F4A7C15).astype(np.int64))


def _gear_table(seed: int) -> np.ndarray:
    tbl = _GEAR_CACHE.get(seed)
    if tbl is None:
        tbl = (
            np.random.default_rng(seed)
            .integers(0, 2**64, 256, dtype=np.uint64)
            .view(np.int64)
        )
        _GEAR_CACHE[seed] = tbl
    return tbl


_USER_GEAR_CACHE: dict[tuple[int, ...], np.ndarray] = {}


def _user_gear_table(table: tuple[int, ...]) -> np.ndarray:
    # keyed by the tuple itself (dict equality handles hash collisions);
    # kept separate from the seed-keyed cache so an int seed can never
    # alias a user table
    tbl = _USER_GEAR_CACHE.get(table)
    if tbl is None:
        if len(table) != 256:
            raise ValueError("gear_table must have exactly 256 entries")
        tbl = np.array(table, dtype=np.uint64).view(np.int64)
        _USER_GEAR_CACHE[table] = tbl
    return tbl


_DOUBLING_TMP: dict[int, np.ndarray] = {}  # reused scratch, keyed by capacity


def _gearhash_candidates(buf: np.ndarray, params: ChunkerParams) -> np.ndarray:
    """Exact gearhash cut candidates (bit-identical to the serial
    ``h = (h << 1) + gear[b]`` rolling hash for the same table).

    Dispatches to the native kernel (operators/native.py, ~GB/s serial C
    loop, GIL released) when a compiler is available; otherwise the
    numpy log-doubling vectorization below: the serial recurrence over
    the whole stream equals the 64-byte-window hash because
    contributions shifted ≥64 bits vanish mod 2^64, so it vectorizes as
    6 passes of ``T^(2s)[i] = (T^(s)[i-s] << s) + T^(s)[i]``. The two
    paths are bit-identical (tests/test_chunker.py parity).
    """
    n = buf.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    table = (
        _user_gear_table(params.gear_table)
        if params.gear_table is not None
        else _gear_table(params.seed)
    )
    nat = native.gear_candidates(buf, table, params.mask_bits)
    if nat is not None:
        return nat
    t = table[buf]
    cap = max(n, 1 << 20)
    tmp = _DOUBLING_TMP.get(0)
    if tmp is None or tmp.shape[0] < n:
        tmp = np.empty(cap, dtype=np.int64)
        _DOUBLING_TMP[0] = tmp
    with np.errstate(over="ignore"):
        for s in (1, 2, 4, 8, 16, 32):
            if s >= n:
                break
            np.left_shift(t[: n - s], s, out=tmp[: n - s])
            np.add(t[s:], tmp[: n - s], out=t[s:])
        cand = np.nonzero(
            t.view(np.uint64) < np.uint64(1 << (64 - params.mask_bits))
        )[0]
    return (cand + 1).astype(np.int64)  # cut *after* the matching byte


def _boundary_candidates(buf: np.ndarray, params: ChunkerParams) -> np.ndarray:
    """Positions p (exclusive chunk-end offsets) where content says 'cut'.

    Vectorized: gear lookup → windowed sum via cumsum → multiplicative mix →
    top-bit test. Returns candidate cut positions relative to buf start.
    """
    if params.scheme == "gear":
        return _gearhash_candidates(buf, params)
    w = params.window
    n = buf.shape[0]
    if n <= w:
        return np.empty(0, dtype=np.int64)
    nat = native.window_candidates(buf, _gear_table(params.seed), int(_MIX), params.mask_bits, w)
    if nat is not None:
        return nat
    g = _gear_table(params.seed)[buf]
    with np.errstate(over="ignore"):
        s = np.cumsum(g, dtype=np.int64)
        rolled = np.subtract(s[w:], s[:-w])  # window sums ending at w..n-1
        np.multiply(rolled, _MIX, out=rolled)
        # top `mask_bits` bits == 0  <=>  unsigned value < 2^(64-mask_bits):
        # one SIMD comparison pass instead of and+eq (the view is free)
        cand = np.nonzero(
            rolled.view(np.uint64) < np.uint64(1 << (64 - params.mask_bits))
        )[0]
    # candidate i corresponds to a cut *after* byte index i + w (cut position
    # i + w + 1 in exclusive-offset terms)
    return (cand + w + 1).astype(np.int64)


def _cuts_from_candidates(n: int, candidates: np.ndarray, start: int, params: ChunkerParams) -> list[int]:
    """Apply min/max size constraints over sorted candidate cut positions.

    ``start`` is the offset (within the buffer) where the current pending
    chunk begins. Returns final cut positions within [0, n].
    """
    cuts: list[int] = []
    enforce_max = params.enforce_max
    for c in candidates.tolist():
        # No candidate fell in (start+min, start+max] → force cuts at max.
        if enforce_max:
            while c - start > params.max_size:
                start += params.max_size
                cuts.append(start)
        if c - start < params.min_size:
            continue
        cuts.append(int(c))
        start = int(c)
    if enforce_max:
        while n - start > params.max_size:
            start += params.max_size
            cuts.append(start)
    return cuts


def chunk_bytes(data: bytes, params: ChunkerParams = ChunkerParams()) -> list[tuple[int, int]]:
    """Chunk an in-memory byte string → list of (offset, size). Deterministic."""
    buf = np.frombuffer(data, dtype=np.uint8)
    n = buf.shape[0]
    cand = _boundary_candidates(buf, params)
    cuts = _cuts_from_candidates(n, cand, 0, params)
    if not cuts or cuts[-1] != n:
        cuts = [*cuts, n] if n else cuts
    out = []
    prev = 0
    for c in cuts:
        out.append((prev, c - prev))
        prev = c
    return out


_BLOCK = 8 * 1024 * 1024  # streaming read block

# Files at or above this size switch from task-per-file to intra-file
# parallel chunking (chunk_files_auto); estimate()'s shared-scan dispatch
# references the same constant so the two never disagree.
PARALLEL_THRESHOLD = 1024 * 1024 * 1024


def _iter_file_chunks(path: str, params: ChunkerParams) -> Iterator[tuple[int, bytes]]:
    """Stream a file and yield (offset, chunk_bytes) without materializing it.

    Keeps a pending tail across blocks; with max enforcement a chunk never
    exceeds ``params.max_size`` so the pending buffer is bounded by
    max_size + BLOCK and each block's boundary rescan is O(block).

    ``enforce_max=False`` (the reference-parity mode) is refused here: a
    candidate-free stretch would grow ``pending`` to the whole file and
    re-run boundary detection over all of it per block — O(n²) time and
    O(file) memory. Use ``chunk_bytes`` on in-memory data for parity
    studies, or keep max enforcement for streaming scale.
    """
    if not params.enforce_max:
        raise ValueError(
            "streaming chunking requires enforce_max=True (bounded pending "
            "buffer); use chunk_bytes() for enforce_max=False parity analysis"
        )
    pending = b""
    base = 0  # file offset of pending[0]
    with open(path, "rb") as f:
        while True:
            block = f.read(_BLOCK)
            if not block:
                break
            pending += block
            buf = np.frombuffer(pending, dtype=np.uint8)
            cand = _boundary_candidates(buf, params)
            # Only cut up to len(pending) - max_size safety margin? No: cut
            # everything except the final partial chunk, which may still grow.
            cuts = _cuts_from_candidates(len(pending), cand, 0, params)
            prev = 0
            for c in cuts:
                yield base + prev, pending[prev:c]
                prev = c
            pending = pending[prev:]
            base += prev
    if pending:
        yield base, pending


def _fast_arrays_ok(p: ChunkerParams) -> bool:
    """True when the fused native block pipeline can serve this
    parameterization: native kernels present (xxh3-64/xxh64 + lz4
    probe) and an lz4-family probe scheme ('zlib1' stays on the
    per-chunk path)."""
    return (
        native.available()
        and IDENTITY_HASH in _NATIVE_SCHEMES
        and p.compress_scheme in ("auto", "lz4")
        and p.enforce_max
    )


def _emit_chunk_cols(
    buf: np.ndarray,
    start0: int,
    cuts,
    cap: int,
    probe_cache: dict[int, int] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(buf-relative offsets, sizes, hashes, compressed) for a FINAL cut
    list over ``buf`` via the native passes — the single fused-emit
    implementation shared by the per-file, shared-scan and intra-file
    parallel paths (one copy to keep bit-identical to the per-chunk
    reference pipeline). ``cap``: -1 = full probe, 0 = skip (comps =
    sizes), >0 = sampled with linear extrapolation. ``probe_cache``
    (optional, per file): hash -> size reuse across blocks — first
    occurrence wins, capped at 1M entries, identical results either way
    (identical bytes probe to identical sizes)."""
    cuts_a = np.asarray(cuts, dtype=np.int64)
    n = cuts_a.shape[0]
    rel = np.empty(n, dtype=np.int64)
    rel[0] = start0
    rel[1:] = cuts_a[:-1]
    sizes = cuts_a - rel
    # executor-local scheme: callers gate the fused path on the driver's
    # scheme matching this process's IDENTITY_HASH, so this dispatch is
    # always the cluster-wide choice
    if IDENTITY_HASH == "xxh3-64":
        hashes = native.chunk_hashes3(buf, cuts_a, start0)
    else:
        hashes = native.chunk_hashes(buf, cuts_a, start0, 42)
    if cap == 0:
        return rel, sizes, hashes, sizes.copy()
    uniq, first, inv = np.unique(
        hashes, return_index=True, return_inverse=True
    )
    if probe_cache is None:
        probed = native.chunk_probes(
            buf, rel, sizes, first.astype(np.int64), cap
        )
        return rel, sizes, hashes, probed[inv]
    uniq_l = uniq.tolist()
    comps_u = np.empty(uniq.shape[0], dtype=np.int64)
    need: list[int] = []
    for j, h in enumerate(uniq_l):
        c = probe_cache.get(h)
        if c is None:
            need.append(j)
        else:
            comps_u[j] = c
    if need:
        need_a = np.asarray(need, dtype=np.int64)
        idx = first[need_a].astype(np.int64)
        probed = native.chunk_probes(buf, rel, sizes, idx, cap)
        comps_u[need_a] = probed
        if len(probe_cache) < 1_000_000:
            for j, c in zip(need, probed.tolist()):
                probe_cache[uniq_l[j]] = c
    return rel, sizes, hashes, comps_u[inv]


def _iter_block_arrays(
    path: str, p: ChunkerParams
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]]:
    """Stream a file and yield per-block chunk COLUMNS — (absolute
    offsets, sizes, hashes, compressed sizes), all int64 — with zero
    per-chunk Python objects: boundary scan, cut slicing, identity hash
    and compressibility probe all run as native passes over the block
    (operators/native.py ``chunk_hash_scan`` / ``chunk_probe_scan``).

    Bit-identical to ``_iter_file_chunks`` + ``_hash64`` +
    ``_compressed_size`` per chunk (pinned by tests): same cuts (same
    candidate scan and selection), same identity-hash signed values
    (xxh3-64 by default; xxh64 seed-42 when that scheme is pinned),
    same lz4 probe with the same sampled-extrapolation truncation, and
    the same within-file repeat-chunk probe reuse (first occurrence
    wins — here via a per-file hash->size dict over the block's
    np.unique, instead of a per-chunk dict lookup)."""
    if not _fast_arrays_ok(p):
        raise RuntimeError(
            "fused chunk pipeline needs the native kernels and an "
            "lz4-family probe scheme"
        )
    probe = p.compress_probe_bytes
    cap = -1 if probe is None else int(probe)
    probe_cache: dict[int, int] = {}
    # fused boundary-scan + cut-selection kernel with min_size
    # skip-ahead (FastCDC shape): eligible when min_size clears the
    # warm-up window (gear's effective window is 64); identical cuts
    # to candidates + _cuts_from_candidates (hypothesis-pinned)
    eff_w = 64 if p.scheme == "gear" else p.window
    use_fused_cuts = p.min_size > eff_w
    if p.scheme == "gear":
        table = (
            _user_gear_table(p.gear_table)
            if p.gear_table is not None
            else _gear_table(p.seed)
        )
    else:
        table = _gear_table(p.seed)

    def final_cuts(buf: np.ndarray, n: int) -> list[int]:
        if use_fused_cuts:
            fc = native.fused_cuts(
                buf, table, p.mask_bits, p.min_size, p.max_size,
                p.scheme, p.window, int(_MIX),
            )
            if fc is not None:
                return fc.tolist()
        return _cuts_from_candidates(n, _boundary_candidates(buf, p), 0, p)

    def emit(buf: np.ndarray, start0: int, cuts: list[int], base: int):
        rel, sizes, hashes, comps = _emit_chunk_cols(
            buf, start0, cuts, cap, probe_cache
        )
        return rel + base, sizes, hashes, comps

    # preallocated carry buffer: readinto appends after the carried
    # tail — no per-block bytes concatenation. With enforce_max the
    # post-cut remainder is <= max_size, so capacity is bounded.
    cap_bytes = p.max_size + _BLOCK
    ring = bytearray(cap_bytes)
    view = memoryview(ring)
    filled = 0  # valid bytes in ring[0:filled]
    base = 0  # file offset of ring[0]
    with open(path, "rb") as f:
        while True:
            nread = f.readinto(view[filled : filled + _BLOCK])
            if not nread:
                break
            filled += nread
            buf = np.frombuffer(view[:filled], dtype=np.uint8)
            cuts = final_cuts(buf, filled)
            if cuts:
                yield emit(buf, 0, cuts, base)
                prev = cuts[-1]
                rest = filled - prev
                if rest:
                    view[:rest] = bytes(view[prev:filled])
                filled = rest
                base += prev
    if filled:
        buf = np.frombuffer(view[:filled], dtype=np.uint8)
        yield emit(buf, 0, [filled], base)


def file_chunk_arrays(
    path: str, p: ChunkerParams
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Whole-file chunk columns (offsets, sizes, hashes, compressed) via
    the fused native pipeline — the executor hot path as one call (what
    bench.py's chunker metric measures)."""
    offs, sizes, hashes, comps = [], [], [], []
    for o, s, h, c in _iter_block_arrays(path, p):
        offs.append(o)
        sizes.append(s)
        hashes.append(h)
        comps.append(c)
    if not offs:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy(), z.copy()
    return (
        np.concatenate(offs),
        np.concatenate(sizes),
        np.concatenate(hashes),
        np.concatenate(comps),
    )


def boundary_compatible(a: ChunkerParams, b: ChunkerParams) -> bool:
    """True when two parameterizations share the same boundary-candidate
    function (scheme, seed, window, mask, table) and differ only in
    min/max/probe — the condition under which one scan can feed both.

    ``min_size > window`` is part of the contract: the shared buffer can
    retain context before a lagging param's chunk start, exposing
    candidates within ``window`` bytes of the start that a per-param pass
    (whose buffer begins AT the start) cannot see. Those candidates are
    discarded by cut selection only when they fall below ``min_size`` —
    so equivalence to the per-param pass needs every min_size above the
    window length."""
    return (
        a.scheme == b.scheme
        and a.seed == b.seed
        and a.window == b.window
        and a.mask_bits == b.mask_bits
        and a.gear_table == b.gear_table
        and a.enforce_max
        and b.enforce_max
        and a.min_size > a.window
        and b.min_size > b.window
    )


def _iter_file_chunks_multi(
    path: str, params_list: list[ChunkerParams]
) -> Iterator[tuple[int, int, bytes]]:
    """Stream a file ONCE and yield (param_idx, offset, chunk_bytes) for
    every parameterization in ``params_list``.

    The default estimate runs two chunker parameterizations (reference:
    gearhash store + xet-core chunker, src/lib.rs:16-33 + src/xet.rs:10-39)
    — as two sequential passes that read the corpus twice. When the
    parameterizations share the boundary-candidate function
    (``boundary_compatible``: same scheme/seed/window/mask, different
    min/max), the read and the boundary scan — the memory-bandwidth costs —
    are shared, and only the per-param cut selection + hash/probe differ.
    At 100 TB this halves corpus I/O for `estimate(with_xet=True)`.

    Equivalence to per-param ``_iter_file_chunks`` is exact: candidate
    positions within ``min_size`` of a chunk start are discarded by cut
    selection, and ``min_size >> window``, so the per-param context
    differences at buffer edges can never surface in a cut (the same
    argument behind streaming ≡ in-memory parity).
    """
    base_p = params_list[0]
    for p in params_list[1:]:
        if not boundary_compatible(base_p, p):
            raise ValueError(
                "shared-scan chunking requires boundary-compatible params "
                "(same scheme/seed/window/mask_bits/gear_table, enforce_max)"
            )
    n_p = len(params_list)
    pending = b""  # buffer covering [base, base + len(pending)) of the file
    base = 0
    starts = [0] * n_p  # per-param absolute offset of its current chunk start
    with open(path, "rb") as f:
        while True:
            block = f.read(_BLOCK)
            if not block:
                break
            pending += block
            buf = np.frombuffer(pending, dtype=np.uint8)
            cand = _boundary_candidates(buf, base_p)  # ONE scan for all params
            for i, p in enumerate(params_list):
                prev = starts[i] - base
                cuts = _cuts_from_candidates(len(pending), cand, prev, p)
                for c in cuts:
                    yield i, base + prev, pending[prev:c]
                    prev = c
                starts[i] = base + prev
            # drop bytes every param has consumed
            keep_from = min(starts) - base
            if keep_from:
                pending = pending[keep_from:]
                base += keep_from
    if pending:
        for i in range(n_p):
            if starts[i] < base + len(pending):
                yield i, starts[i], pending[starts[i] - base :]


def _iter_block_arrays_multi(
    path: str, params_list: list[ChunkerParams]
) -> Iterator[tuple[int, np.ndarray, np.ndarray, np.ndarray, np.ndarray]]:
    """Shared-scan twin of :func:`_iter_block_arrays`: stream the file
    ONCE, boundary-scan each block ONCE, and yield per-param chunk
    COLUMNS ``(param_idx, offsets, sizes, hashes, comps)`` — the fused
    native emit (hash + probe as single C passes) applied to every
    parameterization of the shared candidate scan. Bit-identical to
    ``_iter_file_chunks_multi`` + per-chunk hash/probe (tests pin it).
    """
    base_p = params_list[0]
    for p in params_list[1:]:
        if not boundary_compatible(base_p, p):
            raise ValueError(
                "shared-scan chunking requires boundary-compatible params "
                "(same scheme/seed/window/mask_bits/gear_table, enforce_max)"
            )
    if not all(p.enforce_max for p in params_list):
        # the carry buffer is sized max_size + block: an unbounded
        # pending region would overflow it and truncate silently
        raise ValueError(
            "fused shared-scan chunking requires enforce_max=True on "
            "every parameterization (bounded carry buffer)"
        )
    n_p = len(params_list)
    caps = [
        -1 if p.compress_probe_bytes is None else int(p.compress_probe_bytes)
        for p in params_list
    ]
    probe_caches: list[dict[int, int]] = [{} for _ in params_list]

    def emit(pi: int, buf: np.ndarray, start0: int, cuts: list[int], base: int):
        rel, sizes, hashes, comps = _emit_chunk_cols(
            buf, start0, cuts, caps[pi], probe_caches[pi]
        )
        return pi, rel + base, sizes, hashes, comps

    cap_bytes = max(p.max_size for p in params_list) + _BLOCK
    ring = bytearray(cap_bytes)
    view = memoryview(ring)
    filled = 0
    base = 0  # file offset of ring[0]
    starts = [0] * n_p  # per-param absolute offset of current chunk start
    with open(path, "rb") as f:
        while True:
            nread = f.readinto(view[filled : filled + _BLOCK])
            if not nread:
                break
            filled += nread
            buf = np.frombuffer(view[:filled], dtype=np.uint8)
            cand = _boundary_candidates(buf, base_p)  # ONE scan, all params
            for i, p in enumerate(params_list):
                prev = starts[i] - base
                cuts = _cuts_from_candidates(filled, cand, prev, p)
                if cuts:
                    yield emit(i, buf, prev, cuts, base)
                    starts[i] = base + cuts[-1]
            keep_from = min(starts) - base
            if keep_from:
                rest = filled - keep_from
                if rest:
                    view[:rest] = bytes(view[keep_from:filled])
                filled = rest
                base += keep_from
    if filled:
        buf = np.frombuffer(view[:filled], dtype=np.uint8)
        for i in range(n_p):
            if starts[i] < base + filled:
                yield emit(i, buf, starts[i] - base, [filled], base)


def _arrays_batch_multi(
    pi: int, file_idx: int, path: str, seq0: int, acc: list[tuple],
    schema: pa.Schema,
) -> pa.RecordBatch:
    offs = np.concatenate([a[0] for a in acc])
    sizes = np.concatenate([a[1] for a in acc])
    hashes = np.concatenate([a[2] for a in acc])
    comps = np.concatenate([a[3] for a in acc])
    n = offs.shape[0]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.full(n, pi, dtype=np.int64)),
            pa.array(np.full(n, file_idx, dtype=np.int64)),
            pa.repeat(path, n),
            pa.array(np.arange(seq0, seq0 + n, dtype=np.int64)),
            pa.array(offs),
            pa.array(hashes),
            pa.array(sizes),
            pa.array(comps),
            pa.nulls(n, pa.binary()),
        ],
        schema=schema,
    )


def make_chunk_partition_fn_multi(params_list: list[ChunkerParams], keep_data: bool):
    """mapInArrow closure emitting CHUNK_SCHEMA rows + ``param_idx`` for
    every parameterization from one shared file scan."""
    schema = pa.schema([pa.field("param_idx", pa.int64()), *CHUNK_SCHEMA])

    hash_scheme = IDENTITY_HASH  # driver's choice, enforced executor-side

    def chunk_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _hash64 = _hash64_fn(hash_scheme)
        # fused native path (see make_chunk_partition_fn): per-param
        # probe schemes must all be lz4-family (probe=0 sides qualify
        # via cap==0 short-circuit, scheme string notwithstanding).
        # EVERY param needs enforce_max — the array iterator's carry
        # buffer is sized max_size + block, so an unbounded pending
        # region would silently truncate (reviewed bug, r11)
        fast = (
            not keep_data
            and hash_scheme == IDENTITY_HASH
            and hash_scheme in _NATIVE_SCHEMES
            and native.available()
            and all(
                p.enforce_max
                and (
                    p.compress_probe_bytes == 0
                    or p.compress_scheme in ("auto", "lz4")
                )
                for p in params_list
            )
        )
        for batch in batches:
            for file_idx, path in zip(
                batch.column("file_idx").to_pylist(), batch.column("path").to_pylist()
            ):
                if fast:
                    seqs = [0] * len(params_list)
                    accs: list[list] = [[] for _ in params_list]
                    naccs = [0] * len(params_list)
                    for pi, offs, sizes, hashes, comps in (
                        _iter_block_arrays_multi(path, params_list)
                    ):
                        accs[pi].append((offs, sizes, hashes, comps))
                        naccs[pi] += offs.shape[0]
                        if naccs[pi] >= 4096:
                            yield _arrays_batch_multi(
                                pi, file_idx, path, seqs[pi], accs[pi], schema
                            )
                            seqs[pi] += naccs[pi]
                            accs[pi], naccs[pi] = [], 0
                    for pi in range(len(params_list)):
                        if naccs[pi]:
                            yield _arrays_batch_multi(
                                pi, file_idx, path, seqs[pi], accs[pi], schema
                            )
                    continue
                rows: dict[str, list] = {k: [] for k in schema.names}
                seqs = [0] * len(params_list)
                probe_caches: list[dict[int, int]] = [{} for _ in params_list]
                for pi, offset, chunk in _iter_file_chunks_multi(path, params_list):
                    p = params_list[pi]
                    h = _hash64(chunk)
                    comp = probe_caches[pi].get(h)
                    if comp is None:
                        comp = _compressed_size(chunk, p.compress_probe_bytes, p.compress_scheme)
                        if len(probe_caches[pi]) < 1_000_000:
                            probe_caches[pi][h] = comp
                    rows["param_idx"].append(pi)
                    rows["file_idx"].append(file_idx)
                    rows["path"].append(path)
                    rows["seq"].append(seqs[pi])
                    rows["offset"].append(offset)
                    rows["hash"].append(h)
                    rows["size"].append(len(chunk))
                    rows["compressed"].append(comp)
                    rows["data"].append(chunk if keep_data else None)
                    seqs[pi] += 1
                    if len(rows["seq"]) >= 4096:
                        yield pa.RecordBatch.from_pydict(rows, schema=schema)
                        rows = {k: [] for k in schema.names}
                if rows["seq"]:
                    yield pa.RecordBatch.from_pydict(rows, schema=schema)

    return chunk_partition


def _file_list_frame(spark: SparkSession, files: list[tuple[int, str]]) -> DataFrame:
    """``(file_idx, path)`` rows, one partition per file.

    ``spark.range`` with one slice per file gives the layout up front: a
    ``repartition`` would add an exchange stage before the chunker, and a
    Python RDD source (``parallelize`` + ``createDataFrame(rdd)``) would add
    a second Python pass to every chunk task. Each slice looks its entry up
    by position in literal arrays, which ride in every task's plan.
    """
    n = len(files)
    idx = F.array(*[F.lit(i) for i, _ in files]).cast("array<long>")
    path = F.array(*[F.lit(p) for _, p in files]).cast("array<string>")
    at = (F.col("id") + 1).cast("int")
    return spark.range(0, n, 1, max(n, 1)).select(
        F.element_at(idx, at).alias("file_idx"), F.element_at(path, at).alias("path")
    )


def chunk_files_multi(
    spark: SparkSession,
    paths: list[str],
    params_list: list[ChunkerParams],
    store_data: bool = False,
) -> DataFrame:
    """files × params → chunk rows with ``param_idx``, ONE read per file
    (see ``_iter_file_chunks_multi``). All parameterizations must be
    ``boundary_compatible``."""
    files = _file_list_frame(spark, list(enumerate(paths)))
    chunks = files.mapInArrow(
        make_chunk_partition_fn_multi(params_list, store_data),
        "param_idx long, " + CHUNK_DDL,
    )
    if not store_data:
        chunks = chunks.drop("data")
    return chunks


def _compressed_size(chunk: bytes, probe: int | None, scheme: str = "auto") -> int:
    """Compressibility probe; optionally sampled (see ChunkerParams).

    ``probe=0`` skips the probe entirely and reports the raw length — for
    pipelines that never consume the ``compressed`` column (e.g. the xet
    side of the shared-scan estimate, which only needs unique bytes)."""
    if probe == 0:
        return len(chunk)
    if scheme in ("auto", "lz4"):
        if probe is None or len(chunk) <= probe:
            sz = native.lz4_probe_size(chunk)
            if sz is not None:
                return sz
        else:
            sz = native.lz4_probe_size(chunk[:probe])
            if sz is not None:
                return int(sz * (len(chunk) / probe))
        if scheme == "lz4":
            raise RuntimeError(
                "compress_scheme='lz4' requires the native library "
                "(no C compiler found); use 'zlib1' or 'auto'"
            )
    if probe is None or len(chunk) <= probe:
        return len(zlib.compress(chunk, 1))
    sampled = len(zlib.compress(chunk[:probe], 1))
    return int(sampled * (len(chunk) / probe))


# Persisted artifacts keyed by chunk hashes (plans/chunk_index.py) pin this
# name in their manifest: changing the identity hash invalidates every such
# artifact, and consumers must be able to detect it instead of silently
# anti-joining incomparable hashes.
#
# The engine contract is "any stable 64-bit content hash" (SURVEY §2.2
# C2). With the native lib the DEFAULT is XXH3-64 (r12) — BIT-PARITY
# with the reference's identity hash (src/store.rs:44,
# xxhash_rust::xxh3::xxh3_64): the C kernel is validated against the
# upstream sanity vectors and an independent pure-Python implementation
# (tests/test_xxh3.py). The XXH64-seed-42 scheme stays available (same
# bits as Spark's JVM `xxhash64`, cross-checked in tests) for indexes
# that pinned it; without a compiler the sha1-64 stand-in remains.
# Persistent artifacts record their scheme and refuse mixed use
# (plans/chunk_index.py manifest pin).
IDENTITY_HASH = "xxh3-64" if native.available() else "sha1-64"

# schemes the fused native array pipeline can compute
_NATIVE_SCHEMES = ("xxh3-64", "xxh64")


def _hash64_fn(scheme: str):
    """Identity-hash callable for ``scheme``, resolved on THIS process.

    Chunking closures capture the DRIVER's scheme string and resolve it
    executor-side through here, so a heterogeneous cluster (an executor
    node without a C compiler) fails LOUDLY instead of silently mixing
    xxh64 and sha1 hashes in one table — which would corrupt every
    dedup count downstream."""
    if scheme in _NATIVE_SCHEMES:
        if not native.available():
            raise RuntimeError(
                f"identity hash {scheme!r} needs the native kernels, "
                "which this node could not build — install a C compiler "
                "or run the whole cluster with DDES_NO_NATIVE=1 (sha1-64)"
            )
        if scheme == "xxh3-64":
            x3 = native.xxh3_bytes

            def h3(data: bytes) -> int:
                v = x3(data)
                return v - (1 << 64) if v >= (1 << 63) else v

            return h3
        xx = native.xxh64_bytes

        def h(data: bytes) -> int:
            v = xx(data, 42)
            return v - (1 << 64) if v >= (1 << 63) else v

        return h
    if scheme == "sha1-64":

        def h(data: bytes) -> int:
            v = int.from_bytes(hashlib.sha1(data).digest()[:8], "little")
            return v - (1 << 64) if v >= (1 << 63) else v

        return h
    raise ValueError(f"unknown identity hash scheme {scheme!r}")


_hash64 = _hash64_fn(IDENTITY_HASH)


def _arrays_batch(
    file_idx: int, path: str, seq0: int, acc: list[tuple]
) -> pa.RecordBatch:
    """CHUNK_SCHEMA RecordBatch straight from accumulated block
    columns — int64 arrays are handed to Arrow zero-copy."""
    offs = np.concatenate([a[0] for a in acc])
    sizes = np.concatenate([a[1] for a in acc])
    hashes = np.concatenate([a[2] for a in acc])
    comps = np.concatenate([a[3] for a in acc])
    n = offs.shape[0]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.full(n, file_idx, dtype=np.int64)),
            pa.repeat(path, n),
            pa.array(np.arange(seq0, seq0 + n, dtype=np.int64)),
            pa.array(offs),
            pa.array(hashes),
            pa.array(sizes),
            pa.array(comps),
            pa.nulls(n, pa.binary()),
        ],
        schema=CHUNK_SCHEMA,
    )


def make_chunk_partition_fn(p: ChunkerParams, keep_data: bool):
    """mapInArrow closure: (file_idx, path) batches → chunk-row batches.

    Shared by the batch scan (chunk_files) and the streaming source
    (streaming/incremental.py) — the operator itself is stateless."""

    hash_scheme = IDENTITY_HASH  # driver's choice, enforced executor-side

    def chunk_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _hash64 = _hash64_fn(hash_scheme)
        # fused native path: boundary scan + cut slicing + hash + probe
        # all emit preallocated arrays per block — no per-chunk Python
        # objects (bit-identical to the per-chunk path; tests pin it).
        # hash_scheme is the DRIVER's cluster-wide choice: an executor
        # may only take the fused fast path when its own scheme matches
        # the driver's (mixing fast-path xxh3-64 with a sha1-64 cluster
        # scheme would corrupt every dedup count downstream)
        fast = (
            not keep_data
            and hash_scheme == IDENTITY_HASH
            and _fast_arrays_ok(p)
        )
        for batch in batches:
            for file_idx, path in zip(
                batch.column("file_idx").to_pylist(), batch.column("path").to_pylist()
            ):
                if fast:
                    seq0 = 0
                    acc: list[tuple] = []
                    nacc = 0
                    for cols in _iter_block_arrays(path, p):
                        acc.append(cols)
                        nacc += cols[0].shape[0]
                        if nacc >= 4096:
                            yield _arrays_batch(file_idx, path, seq0, acc)
                            seq0 += nacc
                            acc, nacc = [], 0
                    if nacc:
                        yield _arrays_batch(file_idx, path, seq0, acc)
                    continue
                rows: dict[str, list] = {k: [] for k in CHUNK_SCHEMA.names}
                # identical bytes compress to the identical size, so repeat
                # chunks within a file skip the probe (self-similar files —
                # the dedup estimator's whole subject — are the common case).
                # Bounded: cleared per file and capped.
                probe_cache: dict[int, int] = {}
                for seq, (offset, chunk) in enumerate(_iter_file_chunks(path, p)):
                    h = _hash64(chunk)
                    comp = probe_cache.get(h)
                    if comp is None:
                        comp = _compressed_size(chunk, p.compress_probe_bytes, p.compress_scheme)
                        if len(probe_cache) < 1_000_000:
                            probe_cache[h] = comp
                    rows["file_idx"].append(file_idx)
                    rows["path"].append(path)
                    rows["seq"].append(seq)
                    rows["offset"].append(offset)
                    rows["hash"].append(h)
                    rows["size"].append(len(chunk))
                    rows["compressed"].append(comp)
                    rows["data"].append(chunk if keep_data else None)
                    if len(rows["seq"]) >= 4096:
                        yield pa.RecordBatch.from_pydict(rows, schema=CHUNK_SCHEMA)
                        rows = {k: [] for k in CHUNK_SCHEMA.names}
                if rows["seq"]:
                    yield pa.RecordBatch.from_pydict(rows, schema=CHUNK_SCHEMA)

    return chunk_partition


# ---- intra-file parallel chunking (beyond reference: one task per SPLIT) --
#
# One-task-per-file wall-clock is bounded by the largest file (the
# reference's rayon loop has the same limit). CDC boundaries are
# content-local — a candidate depends only on the trailing `window` (or,
# for gearhash, the trailing 64) bytes — so candidate detection can run
# per byte-range split with (window-1)-byte read overlap and produce
# BIT-IDENTICAL candidates to the sequential scan. Only the min/max
# cut-selection pass is sequential, and it runs over the candidate list
# (~1 per 64 KiB: a 1 TB file is ~16M ints), not the bytes. Phase 2
# re-reads cut-aligned ranges in parallel and emits chunk rows.


def _split_scan_fn(p: ChunkerParams):
    """Phase 1 mapInArrow closure: (file_idx, path, start, end) rows →
    (file_idx, pos) absolute candidate positions in (start, end]."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            fi_out: list[int] = []
            pos_out: list[int] = []
            for file_idx, path, start, end in zip(
                batch.column("file_idx").to_pylist(),
                batch.column("path").to_pylist(),
                batch.column("start").to_pylist(),
                batch.column("end").to_pylist(),
            ):
                ctx = max(0, start - p.window)
                with open(path, "rb") as f:
                    f.seek(ctx)
                    data = f.read(end - ctx)
                buf = np.frombuffer(data, dtype=np.uint8)
                cand = _boundary_candidates(buf, p) + ctx
                cand = cand[(cand > start) & (cand <= end)]
                fi_out.extend([file_idx] * len(cand))
                pos_out.extend(int(c) for c in cand)
            yield pa.RecordBatch.from_pydict(
                {"file_idx": fi_out, "pos": pos_out},
                schema=pa.schema([("file_idx", pa.int64()), ("pos", pa.int64())]),
            )

    return fn


def _emit_units_fn(p: ChunkerParams, keep_data: bool):
    """Phase 2 mapInArrow closure: work-unit rows (file_idx, path,
    begin_seq, ustart, uend, cuts) → chunk rows. Shares the hash/probe
    pipeline with the per-file path (including the per-unit probe cache)."""
    hash_scheme = IDENTITY_HASH  # driver's choice, enforced executor-side

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _hash64 = _hash64_fn(hash_scheme)
        fast = not keep_data and hash_scheme == "xxh64" and _fast_arrays_ok(p)
        cap = (
            -1
            if p.compress_probe_bytes is None
            else int(p.compress_probe_bytes)
        )
        for batch in batches:
            for file_idx, path, begin_seq, ustart, uend, unit_cuts in zip(
                batch.column("file_idx").to_pylist(),
                batch.column("path").to_pylist(),
                batch.column("begin_seq").to_pylist(),
                batch.column("ustart").to_pylist(),
                batch.column("uend").to_pylist(),
                batch.column("cuts").to_pylist(),
            ):
                with open(path, "rb") as f:
                    f.seek(ustart)
                    data = f.read(uend - ustart)
                if fast:
                    # fused emit over the unit's explicit cut list (cuts
                    # are file-absolute; rebase to the unit buffer)
                    buf = np.frombuffer(data, dtype=np.uint8)
                    cuts_a = (
                        np.asarray(unit_cuts, dtype=np.int64) - ustart
                    )
                    rel, sizes, hashes, comps = _emit_chunk_cols(
                        buf, 0, cuts_a, cap
                    )
                    yield _arrays_batch(
                        file_idx, path, begin_seq,
                        [(rel + ustart, sizes, hashes, comps)],
                    )
                    continue
                rows: dict[str, list] = {k: [] for k in CHUNK_SCHEMA.names}
                probe_cache: dict[int, int] = {}
                prev = ustart
                for seq_off, c in enumerate(unit_cuts):
                    chunk = data[prev - ustart : c - ustart]
                    h = _hash64(chunk)
                    comp = probe_cache.get(h)
                    if comp is None:
                        comp = _compressed_size(chunk, p.compress_probe_bytes, p.compress_scheme)
                        probe_cache[h] = comp
                    rows["file_idx"].append(file_idx)
                    rows["path"].append(path)
                    rows["seq"].append(begin_seq + seq_off)
                    rows["offset"].append(prev)
                    rows["hash"].append(h)
                    rows["size"].append(len(chunk))
                    rows["compressed"].append(comp)
                    rows["data"].append(chunk if keep_data else None)
                    prev = c
                if rows["seq"]:
                    yield pa.RecordBatch.from_pydict(rows, schema=CHUNK_SCHEMA)

    return fn


def _units_from_candidates_fn(
    params: ChunkerParams, split_bytes: int, meta: dict[int, tuple[str, int]]
):
    """Per-file applyInPandas closure: this file's candidate positions →
    cut-aligned work-unit rows. The sequential min/max cut selection runs
    HERE, executor-side over one file's candidate list (~1 int per
    64 KiB — a 1 TB file is ~16M int64s ≈ 128 MB in one task), so no
    candidate ever reaches the driver and a directory of many TB-scale
    files selects cuts for every file in parallel. ``meta`` maps
    file_idx → (path, size); it is O(#large files), tiny by definition."""
    import pandas as pd

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        idx = int(pdf["file_idx"].iloc[0])
        path, size = meta[idx]
        pos = pdf["pos"].to_numpy(dtype=np.int64)
        cands = np.sort(pos[pos >= 0])  # drop the no-candidate sentinel
        cuts = _cuts_from_candidates(size, cands, 0, params)
        if not cuts or cuts[-1] != size:
            cuts = [*cuts, size]
        units: list[tuple[int, str, int, int, int, list[int]]] = []
        begin_seq, ustart, ucuts = 0, 0, []
        for c in cuts:
            ucuts.append(c)
            if c - ustart >= split_bytes or c == size:
                units.append((idx, path, begin_seq, ustart, c, ucuts))
                begin_seq += len(ucuts)
                ustart, ucuts = c, []
        return pd.DataFrame(
            units,
            columns=["file_idx", "path", "begin_seq", "ustart", "uend", "cuts"],
        )

    return fn


def _parallel_chunks(
    spark: SparkSession,
    files: list[tuple[int, str]],
    params: ChunkerParams,
    split_bytes: int,
    store_data: bool,
) -> DataFrame:
    """All large files in ONE phase-1 job + ONE phase-2 job (per-file
    orchestration would serialize job barriers per file). Fully
    distributed: candidates shuffle by file to executor-side cut
    selection (never the driver), then work units fan back out."""
    splits: list[tuple[int, str, int, int]] = []
    meta: dict[int, tuple[str, int]] = {}
    for idx, path in files:
        size = os.path.getsize(path)
        meta[idx] = (path, size)
        for s in range(0, size, split_bytes):
            splits.append((idx, path, s, min(s + split_bytes, size)))
    splits_df = spark.createDataFrame(
        splits, "file_idx long, path string, start long, end long"
    ).repartition(len(splits))
    cand_df = splits_df.mapInArrow(
        _split_scan_fn(params), "file_idx long, pos long"
    )
    # a file whose scan found no candidate still needs its group to exist
    # (it becomes one whole-file unit): seed a sentinel row per file
    sentinels = spark.createDataFrame(
        [(idx, -1) for idx, _ in files], "file_idx long, pos long"
    )
    units_df = (
        cand_df.unionByName(sentinels)
        .groupBy("file_idx")
        .applyInPandas(
            _units_from_candidates_fn(params, split_bytes, meta),
            "file_idx long, path string, begin_seq long, ustart long, uend long, "
            "cuts array<long>",
        )
        .repartition(max(len(splits), 1))
    )
    chunks = units_df.mapInArrow(_emit_units_fn(params, store_data), CHUNK_DDL)
    if not store_data:
        chunks = chunks.drop("data")
    return chunks


def chunk_file_parallel(
    spark: SparkSession,
    path: str,
    params: ChunkerParams = ChunkerParams(),
    file_idx: int = 0,
    split_bytes: int = 256 * 1024 * 1024,
    store_data: bool = False,
) -> DataFrame:
    """One large file → chunk rows, bit-identical to ``chunk_files`` but
    with intra-file parallelism: wall time scales with cores, not file
    size. Phase 1 scans candidate boundaries per split (overlap-corrected);
    the sequential min/max cut selection runs executor-side per file
    (candidates shuffle by file_idx, ~1 int per 64 KiB of input, so a
    1 TB file's selection task holds ~128 MB — nothing reaches the
    driver); phase 2 re-reads cut-aligned work units in parallel.
    """
    if os.path.getsize(path) == 0:
        return chunk_files(spark, [path], params=params, store_data=store_data)
    return _parallel_chunks(
        spark, [(file_idx, path)], params, split_bytes, store_data
    )


def chunk_files_auto(
    spark: SparkSession,
    paths: list[str],
    params: ChunkerParams = ChunkerParams(),
    store_data: bool = False,
    parallel_threshold: int = PARALLEL_THRESHOLD,
    split_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Task-per-file for ordinary files; intra-file parallel chunking for
    files over ``parallel_threshold`` — the dispatcher ``estimate`` uses,
    so one huge file no longer pins the whole job to a single core. All
    large files share one phase-1 and one phase-2 job."""
    small = [(i, p) for i, p in enumerate(paths) if os.path.getsize(p) < parallel_threshold]
    large = [(i, p) for i, p in enumerate(paths) if os.path.getsize(p) >= parallel_threshold]
    out = None
    if small or not large:
        files = _file_list_frame(spark, small)
        out = files.mapInArrow(make_chunk_partition_fn(params, store_data), CHUNK_DDL)
        if not store_data:
            out = out.drop("data")
    if large:
        part = _parallel_chunks(spark, large, params, split_bytes, store_data)
        out = part if out is None else out.unionByName(part)
    return out


def chunk_files(
    spark: SparkSession,
    paths: list[str],
    params: ChunkerParams = ChunkerParams(),
    store_data: bool = False,
) -> DataFrame:
    """files → chunk-occurrence DataFrame (C1–C4 of SURVEY §2.2).

    One Spark task per file (reference: rayon par_iter, src/store.rs:103-112).
    file_idx is the position in ``paths`` — input-list order, not
    lexicographic (src/store.rs:117 semantics).
    """
    files = _file_list_frame(spark, list(enumerate(paths)))
    chunks = files.mapInArrow(
        make_chunk_partition_fn(params, store_data), CHUNK_DDL
    )
    if not store_data:
        chunks = chunks.drop("data")
    return chunks
