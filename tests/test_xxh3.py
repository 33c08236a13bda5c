"""XXH3-64 bit-parity (r12): the native C kernel
(operators/native.py ``xxh3_64``) is the engine's DEFAULT identity
hash and must be bit-identical to the reference's
``xxhash_rust::xxh3::xxh3_64`` (/root/reference/src/store.rs:44 —
itself a port of Yann Collet's public-domain upstream).

Three independent checks, so a transcription error cannot hide:

1. The upstream sanity vectors (xsum_sanity_check.c's deterministic
   test buffer + published seed-0 check values) at lengths covering
   every dispatch path (0 / 1-3 / 4-8 / 9-16 / 17-128 / 129-240 /
   long-with-blocks).
2. An INDEPENDENT pure-Python implementation written from the
   published algorithm, cross-checked over random buffers at random
   lengths (hypothesis) — the C and Python versions share no code.
3. The per-chunk scan kernel (``chunk_hash3_scan``) against one-shot
   calls on the same slices.
"""

import os
import random

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dataset_dedupe_estimator_spark.operators import native

pytestmark = pytest.mark.skipif(
    not native.available(), reason="no C compiler"
)

_M = (1 << 64) - 1
_P32_1, _P32_2, _P32_3 = 2654435761, 2246822519, 3266489917
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_SECRET = bytes.fromhex(
    "b8fe6c3923a44bbe7c01812cf721ad1cded46de9839097db7240a4a4b7b3671f"
    "cb79e64eccc0e578825ad07dccff7221b8084674f743248ee03590e6813a264c"
    "3c2852bb91c300cb88d0658b1b532ea371644897a20df94e3819ef46a9deacd8"
    "a8fa763fe39c343ff9dcbbc7c70b4f1d8a51e04bcdb45931c89f7ec9d9787364"
    "eac5ac8334d3ebc3c581a0fffa1363eb170ddd51b7f0da49d316552629d4689e"
    "2b16be587d47a1fc8ff8b8d17ad031ce45cb3a8f95160428afd7fbcabb4b407e"
)
assert len(_SECRET) == 192


def _r64(b, i):
    return int.from_bytes(b[i : i + 8], "little")


def _r32(b, i):
    return int.from_bytes(b[i : i + 4], "little")


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _av3(h):
    h ^= h >> 37
    h = (h * 0x165667919E3779F9) & _M
    return h ^ (h >> 32)


def _av64(h):
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def _fold(a, b):
    p = a * b
    return (p & _M) ^ (p >> 64)


def _mix16(inp, i, j):
    return _fold(
        _r64(inp, i) ^ _r64(_SECRET, j),
        _r64(inp, i + 8) ^ _r64(_SECRET, j + 8),
    )


def _rrmxmx(h, n):
    h ^= _rotl(h, 49) ^ _rotl(h, 24)
    h = (h * 0x9FB21C651E98DF25) & _M
    h = (h ^ ((h >> 35) + n)) & _M
    h = (h * 0x9FB21C651E98DF25) & _M
    return h ^ (h >> 28)


def xxh3_py(inp: bytes) -> int:
    """Independent pure-Python XXH3-64 (seed 0, default secret)."""
    n = len(inp)
    if n == 0:
        return _av64(_r64(_SECRET, 56) ^ _r64(_SECRET, 64))
    if n <= 3:
        comb = (inp[0] << 16) | (inp[n >> 1] << 24) | inp[n - 1] | (n << 8)
        return _av64(comb ^ (_r32(_SECRET, 0) ^ _r32(_SECRET, 4)))
    if n <= 8:
        x = _r32(inp, n - 4) + (_r32(inp, 0) << 32)
        return _rrmxmx(x ^ (_r64(_SECRET, 8) ^ _r64(_SECRET, 16)), n)
    if n <= 16:
        lo = _r64(inp, 0) ^ (_r64(_SECRET, 24) ^ _r64(_SECRET, 32))
        hi = _r64(inp, n - 8) ^ (_r64(_SECRET, 40) ^ _r64(_SECRET, 48))
        swapped = int.from_bytes(lo.to_bytes(8, "little"), "big")
        return _av3((n + swapped + hi + _fold(lo, hi)) & _M)
    if n <= 128:
        acc = (n * _P1) & _M
        pairs = [(0, 0), (n - 16, 16)]
        if n > 32:
            pairs += [(16, 32), (n - 32, 48)]
            if n > 64:
                pairs += [(32, 64), (n - 48, 80)]
                if n > 96:
                    pairs += [(48, 96), (n - 64, 112)]
        for i, j in pairs:
            acc = (acc + _mix16(inp, i, j)) & _M
        return _av3(acc)
    if n <= 240:
        acc = (n * _P1) & _M
        for i in range(8):
            acc = (acc + _mix16(inp, 16 * i, 16 * i)) & _M
        acc = _av3(acc)
        for i in range(8, n // 16):
            acc = (acc + _mix16(inp, 16 * i, 16 * (i - 8) + 3)) & _M
        return _av3((acc + _mix16(inp, n - 16, 119)) & _M)
    acc = [_P32_3, _P1, _P2, _P3, _P4, _P32_2, _P5, _P32_1]

    def acc512(off, soff):
        for i in range(8):
            dv = _r64(inp, off + 8 * i)
            dk = dv ^ _r64(_SECRET, soff + 8 * i)
            acc[i ^ 1] = (acc[i ^ 1] + dv) & _M
            acc[i] = (acc[i] + (dk & 0xFFFFFFFF) * (dk >> 32)) & _M

    nb_blocks = (n - 1) // 1024
    for b in range(nb_blocks):
        for s in range(16):
            acc512(b * 1024 + s * 64, s * 8)
        for i in range(8):
            acc[i] ^= acc[i] >> 47
            acc[i] ^= _r64(_SECRET, 128 + 8 * i)
            acc[i] = (acc[i] * _P32_1) & _M
    for s in range(((n - 1) - 1024 * nb_blocks) // 64):
        acc512(nb_blocks * 1024 + s * 64, s * 8)
    acc512(n - 64, 192 - 64 - 7)
    r = (n * _P1) & _M
    for i in range(4):
        r = (
            r
            + _fold(
                acc[2 * i] ^ _r64(_SECRET, 11 + 16 * i),
                acc[2 * i + 1] ^ _r64(_SECRET, 19 + 16 * i),
            )
        ) & _M
    return _av3(r)


def _sanity_buffer(n: int) -> bytes:
    """xsum_sanity_check.c's deterministic fill: byteGen starts at
    PRIME32 and multiplies by PRIME64 per byte; each byte is the top 8
    bits."""
    out = bytearray(n)
    g = 2654435761
    for i in range(n):
        out[i] = (g >> 56) & 0xFF
        g = (g * 11400714785074694797) & _M
    return bytes(out)


# (len, expected XXH3_64bits seed-0) — upstream xsum_sanity_check values
_VECTORS = [
    (0, 0x2D06800538D394C2),
    (1, 0xC44BDFF4074EECDB),
    (6, 0x27B56A84CD2D7325),
    (12, 0xA713DAF0DFBB77E7),
    (24, 0xA3FE70BF9D3510EB),
    (48, 0x397DA259ECBA1F11),
    (80, 0xBCDEFBBB2C47C90A),
    (195, 0xCD94217EE362EC3A),
    (512, 0x617E49599013CB6B),
    (2048, 0xDD59E2C3A5F038E0),
    (2240, 0x6E73A90539CF2948),
    (2367, 0xCB37AEB9E5D361ED),
]


def test_upstream_sanity_vectors():
    buf = _sanity_buffer(2367)
    for n, want in _VECTORS:
        assert native.xxh3_bytes(buf[:n]) == want, f"len={n}"
        assert xxh3_py(buf[:n]) == want, f"py len={n}"


def test_every_dispatch_path_cross_impl():
    buf = _sanity_buffer(5000)
    for n in (0, 1, 2, 3, 4, 5, 8, 9, 16, 17, 32, 96, 97, 128, 129, 240,
              241, 304, 1024, 1025, 2048, 2049, 4096, 5000):
        assert native.xxh3_bytes(buf[:n]) == xxh3_py(buf[:n]), f"len={n}"


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=3000))
def test_c_matches_independent_python(data):
    assert native.xxh3_bytes(data) == xxh3_py(data)


def test_chunk_hash3_scan_matches_oneshot():
    rng = random.Random(12)
    data = bytes(rng.randrange(256) for _ in range(200_000))
    buf = np.frombuffer(data, dtype=np.uint8)
    cuts, pos = [], 0
    while pos < len(data):
        pos = min(pos + rng.randrange(1, 9000), len(data))
        cuts.append(pos)
    cuts_a = np.asarray(cuts, dtype=np.int64)
    got = native.chunk_hashes3(buf, cuts_a, 0)
    prev = 0
    for i, c in enumerate(cuts):
        v = native.xxh3_bytes(data[prev:c])
        assert got[i] == (v - (1 << 64) if v >= (1 << 63) else v)
        prev = c


def test_default_scheme_is_xxh3(tmp_path):
    """The engine default is the reference-parity scheme, the native
    array pipeline computes it, and the per-chunk path agrees."""
    from dataset_dedupe_estimator_spark.operators import chunker

    assert chunker.IDENTITY_HASH == "xxh3-64"
    data = os.urandom(300_000)
    f = tmp_path / "blob.bin"
    f.write_bytes(data)
    p = chunker.ChunkerParams()
    offs, sizes, hashes, _ = chunker.file_chunk_arrays(str(f), p)
    h = chunker._hash64_fn("xxh3-64")
    for o, s, hv in zip(offs.tolist(), sizes.tolist(), hashes.tolist()):
        assert h(data[o : o + s]) == hv
