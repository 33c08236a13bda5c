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

One pipeline serves every entry point: ``_iter_block_cuts`` streams a file
once through a carry buffer and yields each parameterization's final cuts
per block; ``_emit_chunk_cols`` turns a cut list into chunk columns;
``_chunk_partition_fn`` (the one mapInArrow closure) batches them, for
files and for the split path's work units alike; ``_chunk_frame`` is the
one file-size dispatch between task-per-file and intra-file parallel
chunking. ``chunk_bytes`` is the in-memory reference the tests compare
the pipeline against.
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

    The cost follows the cuts, not the candidates: a binary search jumps
    to the first candidate at least ``min_size`` past the chunk start, so
    input where nearly every byte is a candidate selects as fast as
    sparse input. A skipped candidate could never be accepted (the start
    only moves forward), and the max-size cuts it would force are forced
    by the next candidate examined, or by the tail rule, instead: forced
    cuts depend only on the furthest position reached.
    """
    cand = np.asarray(candidates)
    min_size, max_size = params.min_size, params.max_size
    enforce_max = params.enforce_max
    cuts: list[int] = []
    i = 0
    while True:
        i = max(i, int(np.searchsorted(cand, start + min_size)))
        if i >= cand.shape[0]:
            break
        c = int(cand[i])
        i += 1
        # No candidate fell in (start+min, start+max] → force cuts at max.
        if enforce_max:
            while c - start > max_size:
                start += max_size
                cuts.append(start)
        if c - start >= min_size:
            cuts.append(c)
            start = c
    if enforce_max:
        while n - start > max_size:
            start += max_size
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

# Files at or above this size take intra-file parallel chunking instead of
# one task per file. Read at call time by ``_chunk_frame``, the chunker's
# only file-size dispatch.
PARALLEL_THRESHOLD = 1024 * 1024 * 1024


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


def _require_compatible(params_list: list[ChunkerParams]) -> None:
    """Refuse a parameterization list one boundary scan cannot serve."""
    for p in params_list[1:]:
        if not boundary_compatible(params_list[0], p):
            raise ValueError(
                "shared-scan chunking requires boundary-compatible params "
                "(same scheme/seed/window/mask_bits/gear_table, enforce_max)"
            )


def _iter_block_cuts(
    path: str, params_list: list[ChunkerParams]
) -> Iterator[tuple[int, np.ndarray, int, list[int], int]]:
    """Stream a file ONCE and yield ``(param_idx, buf, start0, cuts,
    base)`` per block and parameterization: the FINAL cut positions
    ``cuts`` (relative to ``buf``) of the chunks that parameterization
    completes in this block, the first starting at ``buf[start0]``;
    ``buf`` holds the file from offset ``base``. The last yield of each
    parameterization ends at the end of the file. ``buf`` views a reused
    carry buffer, so consume it before advancing the iterator.

    Several parameterizations must be ``boundary_compatible``: the read
    and the boundary scan (the memory-bandwidth costs) are shared, and
    only cut selection differs. This is exact: a candidate within
    ``min_size`` of a chunk start is discarded by cut selection, and
    ``min_size > window``, so context differences at buffer edges never
    surface in a cut (the argument behind streaming ≡ in-memory parity).
    One parameterization is the one-element case of the same scan.

    The carry buffer holds ``max_size + block`` bytes, which bounds the
    pending chunk only under max enforcement: ``enforce_max=False`` (the
    reference-parity mode) is refused here — a candidate-free stretch
    would overflow it. Use ``chunk_bytes`` on in-memory data for parity
    studies; the split path (``_chunk_frame``) serves it for files.
    """
    _require_compatible(params_list)
    if not all(p.enforce_max for p in params_list):
        raise ValueError(
            "streaming chunking requires enforce_max=True (bounded carry "
            "buffer); use chunk_bytes() for enforce_max=False parity analysis"
        )
    base_p = params_list[0]
    # preallocated carry buffer: readinto appends after the carried
    # tail — no per-block bytes concatenation
    ring = bytearray(max(p.max_size for p in params_list) + _BLOCK)
    view = memoryview(ring)
    filled = 0  # valid bytes in ring[0:filled]
    base = 0  # file offset of ring[0]
    starts = [0] * len(params_list)  # absolute start of each pending chunk
    with open(path, "rb") as f:
        while nread := f.readinto(view[filled : filled + _BLOCK]):
            filled += nread
            buf = np.frombuffer(view[:filled], dtype=np.uint8)
            cand = _boundary_candidates(buf, base_p)  # ONE scan, all params
            cut_lists = [
                _cuts_from_candidates(filled, cand, s - base, p)
                for s, p in zip(starts, params_list)
            ]
            for i, cuts in enumerate(cut_lists):
                if len(cuts):
                    yield i, buf, starts[i] - base, cuts, base
                    starts[i] = base + int(cuts[-1])
            # drop bytes every param has consumed
            keep_from = min(starts) - base
            if keep_from:
                rest = filled - keep_from
                if rest:
                    view[:rest] = bytes(view[keep_from:filled])
                filled = rest
                base += keep_from
    if filled:
        buf = np.frombuffer(view[:filled], dtype=np.uint8)
        for i, s in enumerate(starts):
            if s < base + filled:
                yield i, buf, s - base, [filled], base


def _emit_chunk_cols(
    buf: np.ndarray,
    start0: int,
    cuts,
    base: int,
    p: ChunkerParams,
    hash_scheme: str,
    probe_cache: dict[int, int],
    keep_data: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, list[bytes] | None]:
    """The chunker's one emitter: a FINAL cut list over ``buf`` (chunks
    ``[start0, cuts[0])``, ``[cuts[0], cuts[1])``, …; ``buf[0]`` is file
    offset ``base``) → (file offsets, sizes, hashes, compressed sizes,
    chunk bytes when ``keep_data`` else None).

    With a native identity hash (``hash_scheme`` is the driver's choice;
    callers have resolved it on this node through ``_hash64_fn``, which
    refuses a node without the kernels) and an lz4-family probe, or none
    (``compress_probe_bytes=0``), hash and probe each run as one native
    pass with no per-chunk Python objects. Otherwise — no C compiler, or
    ``compress_scheme="zlib1"`` — the per-chunk ``_hash64_fn`` /
    ``_compressed_size`` loop runs over the same cuts. Both give the same
    values. ``probe_cache`` (per file and parameterization): hash → size,
    first occurrence wins, capped at 1M entries; identical bytes probe to
    identical sizes, so it changes no value."""
    cuts_a = np.asarray(cuts, dtype=np.int64)
    n = cuts_a.shape[0]
    rel = np.empty(n, dtype=np.int64)
    rel[0] = start0
    rel[1:] = cuts_a[:-1]
    sizes = cuts_a - rel
    data = None
    if keep_data:
        data = [buf[a:b].tobytes() for a, b in zip(rel.tolist(), cuts_a.tolist())]
    probe = p.compress_probe_bytes
    if hash_scheme not in _NATIVE_SCHEMES or (
        probe != 0 and p.compress_scheme not in ("auto", "lz4")
    ):
        hash64 = _hash64_fn(hash_scheme)
        hashes = np.empty(n, dtype=np.int64)
        comps = np.empty(n, dtype=np.int64)
        chunks = data if data is not None else (
            buf[a:b].tobytes() for a, b in zip(rel.tolist(), cuts_a.tolist())
        )
        for j, chunk in enumerate(chunks):
            h = hash64(chunk)
            comp = probe_cache.get(h)
            if comp is None:
                comp = _compressed_size(chunk, probe, p.compress_scheme)
                if len(probe_cache) < 1_000_000:
                    probe_cache[h] = comp
            hashes[j] = h
            comps[j] = comp
        return rel + base, sizes, hashes, comps, data
    if hash_scheme == "xxh3-64":
        hashes = native.chunk_hashes3(buf, cuts_a, start0)
    else:
        hashes = native.chunk_hashes(buf, cuts_a, start0, 42)
    if probe == 0:
        return rel + base, sizes, hashes, sizes.copy(), data
    cap = -1 if probe is None else int(probe)
    uniq, first, inv = np.unique(hashes, return_index=True, return_inverse=True)
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
    return rel + base, sizes, hashes, comps_u[inv], data


def file_chunk_arrays(
    path: str, p: ChunkerParams
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Whole-file chunk columns (offsets, sizes, hashes, compressed): an
    executor's per-file work as one call, on either platform (what
    bench.py's chunker metric measures)."""
    cache: dict[int, int] = {}
    parts = [
        _emit_chunk_cols(buf, start0, cuts, base, p, IDENTITY_HASH, cache, False)[:4]
        for _, buf, start0, cuts, base in _iter_block_cuts(path, [p])
    ]
    if not parts:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy(), z.copy()
    offs, sizes, hashes, comps = (np.concatenate(c) for c in zip(*parts))
    return offs, sizes, hashes, comps


# CHUNK_SCHEMA rows tagged with the parameterization that cut them.
_MULTI_SCHEMA = pa.schema([pa.field("param_idx", pa.int64()), *CHUNK_SCHEMA])
_MULTI_DDL = "param_idx long, " + CHUNK_DDL


def _chunk_batch(
    pi: int, file_idx: int, path: str, seq0: int, acc: list[tuple]
) -> pa.RecordBatch:
    """One ``_MULTI_SCHEMA`` batch from accumulated emitter columns; the
    int64 arrays are handed to Arrow zero-copy."""
    offs, sizes, hashes, comps = (
        np.concatenate([a[k] for a in acc]) for k in range(4)
    )
    n = offs.shape[0]
    if acc[0][4] is None:
        data = pa.nulls(n, pa.binary())
    else:
        data = pa.array([d for a in acc for d in a[4]], pa.binary())
    cols = [
        pa.array(np.full(n, pi, dtype=np.int64)),
        pa.array(np.full(n, file_idx, dtype=np.int64)),
        pa.repeat(path, n),
        pa.array(np.arange(seq0, seq0 + n, dtype=np.int64)),
        pa.array(offs),
        pa.array(hashes),
        pa.array(sizes),
        pa.array(comps),
        data,
    ]
    return pa.RecordBatch.from_arrays(cols, schema=_MULTI_SCHEMA)


def _unit_block(row: dict) -> list[tuple[int, np.ndarray, int, np.ndarray, int]]:
    """A split-path work unit as one ``_iter_block_cuts``-shaped block:
    the unit's bytes and its file-absolute cuts rebased onto them."""
    ustart = row["ustart"]
    with open(row["path"], "rb") as f:
        f.seek(ustart)
        buf = np.frombuffer(f.read(row["uend"] - ustart), dtype=np.uint8)
    return [(0, buf, 0, np.asarray(row["cuts"], dtype=np.int64) - ustart, ustart)]


def _chunk_partition_fn(params_list: list[ChunkerParams], keep_data: bool):
    """The chunker's one mapInArrow closure. Input rows are files
    ``(file_idx, path)``, streamed through ``_iter_block_cuts``, or the
    split path's work units ``(file_idx, path, begin_seq, ustart, uend,
    cuts)``; every cut list goes through ``_emit_chunk_cols``. Output
    rows are ``_MULTI_SCHEMA``: ``param_idx`` is the position in
    ``params_list``, ``seq`` counts per (file, parameterization) from the
    unit's ``begin_seq`` or 0, and a batch is yielded per
    parameterization once it holds 4,096 rows."""
    hash_scheme = IDENTITY_HASH  # driver's choice, enforced executor-side

    def chunk_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # a node that cannot compute the driver's scheme fails loudly
        # here: mixing identity hashes in one table would corrupt every
        # dedup count downstream
        _hash64_fn(hash_scheme)
        for batch in batches:
            units = "cuts" in batch.schema.names
            for row in batch.to_pylist():
                file_idx, path = row["file_idx"], row["path"]
                if units:
                    blocks = _unit_block(row)
                else:
                    blocks = _iter_block_cuts(path, params_list)
                # identical bytes compress to the identical size, so repeat
                # chunks within a file skip the probe (self-similar files
                # are the dedup estimator's whole subject)
                caches: list[dict[int, int]] = [{} for _ in params_list]
                seqs = [row.get("begin_seq", 0)] * len(params_list)
                accs: list[list[tuple]] = [[] for _ in params_list]
                counts = [0] * len(params_list)
                for pi, buf, start0, cuts, base in blocks:
                    cols = _emit_chunk_cols(
                        buf, start0, cuts, base, params_list[pi], hash_scheme,
                        caches[pi], keep_data,
                    )
                    accs[pi].append(cols)
                    counts[pi] += cols[1].shape[0]
                    if counts[pi] >= 4096:
                        yield _chunk_batch(pi, file_idx, path, seqs[pi], accs[pi])
                        seqs[pi] += counts[pi]
                        accs[pi], counts[pi] = [], 0
                for pi, acc in enumerate(accs):
                    if acc:
                        yield _chunk_batch(pi, file_idx, path, seqs[pi], acc)

    return chunk_partition


def make_chunk_partition_fn(p: ChunkerParams, keep_data: bool):
    """mapInArrow closure: (file_idx, path) batches → chunk-row batches
    of ``"param_idx long, " + CHUNK_DDL`` (``param_idx`` always 0), for
    the streaming source (streaming/incremental.py), which drops
    ``param_idx`` — the operator itself is stateless."""
    return _chunk_partition_fn([p], keep_data)


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


def _ring_frame(
    spark: SparkSession,
    files: list[tuple[int, str]],
    params_list: list[ChunkerParams],
    store_data: bool,
) -> DataFrame:
    """Chunk rows with ``param_idx`` for ``(file_idx, path)`` files, one
    task per file streaming through the shared-scan ring."""
    chunks = _file_list_frame(spark, files).mapInArrow(
        _chunk_partition_fn(params_list, store_data), _MULTI_DDL
    )
    return chunks if store_data else chunks.drop("data")


def chunk_files_multi(
    spark: SparkSession,
    paths: list[str],
    params_list: list[ChunkerParams],
    store_data: bool = False,
) -> DataFrame:
    """files × params → chunk rows with ``param_idx``, ONE read per file
    (see ``_iter_block_cuts``). All parameterizations must be
    ``boundary_compatible``. The default estimate runs two chunker
    parameterizations (reference: gearhash store + xet-core chunker,
    src/lib.rs:16-33 + src/xet.rs:10-39) as two sequential passes; the
    shared scan halves corpus I/O. Files the ring cannot serve (see
    ``_chunk_frame``) take the single-parameterization split path once
    per parameterization."""
    return _chunk_frame(spark, paths, params_list, store_data)


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

# schemes the native hash passes can compute
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
# re-reads cut-aligned ranges in parallel and emits chunk rows through
# the per-file path's closure.

_CAND_SCHEMA = pa.schema([("file_idx", pa.int64()), ("pos", pa.int64())])


def _split_scan_fn(p: ChunkerParams):
    """Phase 1 mapInArrow closure: (file_idx, path, start, end) rows →
    (file_idx, pos) absolute candidate positions in (start, end]."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            fi_out: list[np.ndarray] = []
            pos_out: list[np.ndarray] = []
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
                fi_out.append(np.full(cand.shape[0], file_idx, dtype=np.int64))
                pos_out.append(cand)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(fi_out or [np.empty(0, np.int64)])),
                    pa.array(np.concatenate(pos_out or [np.empty(0, np.int64)])),
                ],
                schema=_CAND_SCHEMA,
            )

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
    file_idx → (path, size); it is O(#large files), tiny by definition.
    An empty file has no chunk and so no unit."""
    import pandas as pd

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        idx = int(pdf["file_idx"].iloc[0])
        path, size = meta[idx]
        pos = pdf["pos"].to_numpy(dtype=np.int64)
        cands = np.sort(pos[pos >= 0])  # drop the no-candidate sentinel
        cuts = _cuts_from_candidates(size, cands, 0, params)
        if size and (not cuts or cuts[-1] != size):
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
    ).repartition(max(len(splits), 1))
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
    chunks = units_df.mapInArrow(
        _chunk_partition_fn([params], store_data), _MULTI_DDL
    )
    return chunks if store_data else chunks.drop("data")


def _chunk_frame(
    spark: SparkSession,
    paths: list[str],
    params_list: list[ChunkerParams],
    store_data: bool,
    parallel_threshold: int | None = None,
    split_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """The chunker's one file-size dispatch: chunk rows with
    ``param_idx`` for every file of ``paths`` (``file_idx`` is its
    position there) under every parameterization of ``params_list``.

    A file takes one task through the shared-scan ring when it can:
    below ``parallel_threshold`` (default ``PARALLEL_THRESHOLD``, read
    now) and under max enforcement, which bounds the ring's carry. The
    others take the split path: one call per parameterization covers
    all of them. An incompatible list is refused here, on the driver,
    whichever path its files would take."""
    _require_compatible(params_list)
    threshold = PARALLEL_THRESHOLD if parallel_threshold is None else parallel_threshold
    bounded = all(p.enforce_max for p in params_list)
    small: list[tuple[int, str]] = []
    large: list[tuple[int, str]] = []
    for i, path in enumerate(paths):
        fits = bounded and os.path.getsize(path) < threshold
        (small if fits else large).append((i, path))
    parts = []
    if small or not large:
        parts.append(_ring_frame(spark, small, params_list, store_data))
    if large:
        for pi, p in enumerate(params_list):
            part = _parallel_chunks(spark, large, p, split_bytes, store_data)
            parts.append(part.withColumn("param_idx", F.lit(pi).cast("long")))
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


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
    return _parallel_chunks(
        spark, [(file_idx, path)], params, split_bytes, store_data
    ).drop("param_idx")


def chunk_files_auto(
    spark: SparkSession,
    paths: list[str],
    params: ChunkerParams = ChunkerParams(),
    store_data: bool = False,
    parallel_threshold: int | None = None,
    split_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Task-per-file for ordinary files; intra-file parallel chunking for
    files of ``parallel_threshold`` bytes or more (default
    ``PARALLEL_THRESHOLD``) — the dispatcher ``estimate`` uses, so one
    huge file no longer pins the whole job to a single core. All large
    files share one phase-1 and one phase-2 job."""
    return _chunk_frame(
        spark, paths, [params], store_data, parallel_threshold, split_bytes
    ).drop("param_idx")


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
    return _ring_frame(
        spark, list(enumerate(paths)), [params], store_data
    ).drop("param_idx")
