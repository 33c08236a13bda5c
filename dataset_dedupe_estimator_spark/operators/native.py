"""Optional native (C) kernels for the CDC hot loops.

The chunker's boundary scan is a per-byte rolling hash — the one place in
this engine where numpy vectorization hits a wall (~75 MB/s/core on this
host: every pass is a memory-bound gather/cumsum over 8-byte lanes,
measured in tools/bench_chunker.py). The reference's Rust core runs the
same recurrence at ~GB/s/core because it compiles to a 3-instruction
serial loop (/root/reference/src/store.rs:65-95 via the gearhash crate).

This module closes that gap without adding a dependency: it carries ~60
lines of C, compiles them with the system compiler into a cached shared
library on first use (per machine, keyed by source hash — on a cluster
each executor node builds once into its local tmp), and exposes the two
boundary scans through ctypes. ctypes releases the GIL for the duration
of each call, so executor-side threads scan concurrently.

Both kernels are BIT-IDENTICAL to the numpy reference implementations in
``operators/chunker.py`` (enforced by tests/test_chunker.py parity tests
over random and adversarial buffers):

* ``gear_scan``  — exact gearhash: ``h = (h << 1) + table[b]`` mod 2^64,
  candidate when ``h < 2^(64-mask_bits)``.
* ``window_scan`` — the windowed-sum scheme: 64-byte rolling sum of
  table values, mixed by a 64-bit odd multiplier, same candidate test.

The MinHash signature kernel (``minhash_sigs``, with its own md5) does
the per-document loop of ``queries/dedupe_text.py:_minhash_sig_fn`` —
tokenize on spaces, hash word trigrams, keep the 16 affine minima —
with the same output as that function's Python fallback (enforced by
tests/test_minhash_kernel.py).

No compiler, a failed compile, or ``DDES_NO_NATIVE=1`` → callers fall
back to the numpy path transparently (``available()`` is False).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading

import numpy as np

_C_SRC = r"""
#include <stdint.h>

/* Exact gearhash boundary scan (serial recurrence; shifts >= 64 vanish
   mod 2^64, so this equals the 64-byte-window hash). Returns the number
   of candidates found; writes at most `cap` cut positions (i + 1). */
int64_t gear_scan(const uint8_t *buf, int64_t n, const uint64_t *table,
                  uint64_t limit, int64_t *out, int64_t cap) {
    uint64_t h = 0;
    int64_t k = 0;
    for (int64_t i = 0; i < n; i++) {
        h = (h << 1) + table[buf[i]];
        if (h < limit) {
            if (k < cap) out[k] = i + 1;
            k++;
        }
    }
    return k;
}

/* Windowed-sum boundary scan. Window of `w` table values ending at byte
   t covers bytes [t-w+1, t] with t in [w, n-1] (byte 0 is never inside
   a window — matches the cumsum-difference formulation). Candidate cut
   position is t + 1. Manually unrolled x4: the rolling sum is a strict
   serial chain, but computing four successive sums per iteration lets
   the CPU overlap the eight table gathers — measured ~+10% over the
   -O3 rolled loop, bit-identical output. */
int64_t window_scan(const uint8_t *buf, int64_t n, const uint64_t *table,
                    uint64_t mix, uint64_t limit, int64_t w,
                    int64_t *out, int64_t cap) {
    if (n <= w) return 0;
    uint64_t sum = 0;
    int64_t k = 0;
    for (int64_t t = 1; t <= w; t++) sum += table[buf[t]];
    int64_t t = w;
    while (t + 4 < n) {
        uint64_t s0 = sum;
        uint64_t s1 = s0 + table[buf[t + 1]] - table[buf[t + 1 - w]];
        uint64_t s2 = s1 + table[buf[t + 2]] - table[buf[t + 2 - w]];
        uint64_t s3 = s2 + table[buf[t + 3]] - table[buf[t + 3 - w]];
        if (s0 * mix < limit) { if (k < cap) out[k] = t + 1; k++; }
        if (s1 * mix < limit) { if (k < cap) out[k] = t + 2; k++; }
        if (s2 * mix < limit) { if (k < cap) out[k] = t + 3; k++; }
        if (s3 * mix < limit) { if (k < cap) out[k] = t + 4; k++; }
        sum = s3 + table[buf[t + 4]] - table[buf[t + 4 - w]];
        t += 4;
    }
    for (;;) {
        if (sum * mix < limit) {
            if (k < cap) out[k] = t + 1;
            k++;
        }
        t++;
        if (t >= n) break;
        sum += table[buf[t]] - table[buf[t - w]];
    }
    return k;
}

/* XXH64 (Yann Collet's public xxHash, 64-bit variant) — the identity-
   hash fast path. The reference hashes chunks with xxh3-64
   (src/store.rs:44); this engine's contract is "any stable 64-bit
   content hash" (SURVEY §2.2 C2), and XXH64 here is cross-checked in
   tests against Spark's own JVM `xxhash64` expression (same algorithm,
   seed 42) — an independent implementation, so a transcription error
   cannot hide. Little-endian hosts only (x86-64/aarch64; this loader
   never ships elsewhere). */
static uint64_t rotl64(uint64_t x, int r) { return (x << r) | (x >> (64 - r)); }
#define XP1 11400714785074694791ULL
#define XP2 14029467366897019727ULL
#define XP3  1609587929392839161ULL
#define XP4  9650029242287828579ULL
#define XP5  2870177450012600261ULL
uint64_t xxh64(const uint8_t *p, int64_t len, uint64_t seed) {
    const uint8_t *end = p + len;
    uint64_t h;
    if (len >= 32) {
        uint64_t v1 = seed + XP1 + XP2, v2 = seed + XP2,
                 v3 = seed, v4 = seed - XP1;
        const uint8_t *limit = end - 32;
        do {
            uint64_t k;
            __builtin_memcpy(&k, p, 8); v1 = rotl64(v1 + k * XP2, 31) * XP1; p += 8;
            __builtin_memcpy(&k, p, 8); v2 = rotl64(v2 + k * XP2, 31) * XP1; p += 8;
            __builtin_memcpy(&k, p, 8); v3 = rotl64(v3 + k * XP2, 31) * XP1; p += 8;
            __builtin_memcpy(&k, p, 8); v4 = rotl64(v4 + k * XP2, 31) * XP1; p += 8;
        } while (p <= limit);
        h = rotl64(v1, 1) + rotl64(v2, 7) + rotl64(v3, 12) + rotl64(v4, 18);
        v1 *= XP2; v1 = rotl64(v1, 31); v1 *= XP1; h ^= v1; h = h * XP1 + XP4;
        v2 *= XP2; v2 = rotl64(v2, 31); v2 *= XP1; h ^= v2; h = h * XP1 + XP4;
        v3 *= XP2; v3 = rotl64(v3, 31); v3 *= XP1; h ^= v3; h = h * XP1 + XP4;
        v4 *= XP2; v4 = rotl64(v4, 31); v4 *= XP1; h ^= v4; h = h * XP1 + XP4;
    } else {
        h = seed + XP5;
    }
    h += (uint64_t)len;
    while (p + 8 <= end) {
        uint64_t k;
        __builtin_memcpy(&k, p, 8);
        k *= XP2; k = rotl64(k, 31); k *= XP1;
        h ^= k; h = rotl64(h, 27) * XP1 + XP4; p += 8;
    }
    if (p + 4 <= end) {
        uint32_t k4;
        __builtin_memcpy(&k4, p, 4);
        h ^= (uint64_t)k4 * XP1; h = rotl64(h, 23) * XP2 + XP3; p += 4;
    }
    while (p < end) { h ^= (uint64_t)(*p) * XP5; h = rotl64(h, 11) * XP1; p++; }
    h ^= h >> 33; h *= XP2; h ^= h >> 29; h *= XP3; h ^= h >> 32;
    return h;
}

/* XXH3-64 (seedless one-shot, default secret) — BIT-PARITY with the
   reference's identity hash (src/store.rs:44, xxhash_rust::xxh3::xxh3_64,
   itself a port of Yann Collet's public-domain upstream). Implemented
   from the published algorithm spec; cross-checked in tests against an
   INDEPENDENT pure-Python implementation plus the upstream sanity
   vectors (xsum_sanity_check buffer). Little-endian hosts only, like
   xxh64 above. */
static const uint8_t XK[192] = {
    0xb8, 0xfe, 0x6c, 0x39, 0x23, 0xa4, 0x4b, 0xbe,
    0x7c, 0x01, 0x81, 0x2c, 0xf7, 0x21, 0xad, 0x1c,
    0xde, 0xd4, 0x6d, 0xe9, 0x83, 0x90, 0x97, 0xdb,
    0x72, 0x40, 0xa4, 0xa4, 0xb7, 0xb3, 0x67, 0x1f,
    0xcb, 0x79, 0xe6, 0x4e, 0xcc, 0xc0, 0xe5, 0x78,
    0x82, 0x5a, 0xd0, 0x7d, 0xcc, 0xff, 0x72, 0x21,
    0xb8, 0x08, 0x46, 0x74, 0xf7, 0x43, 0x24, 0x8e,
    0xe0, 0x35, 0x90, 0xe6, 0x81, 0x3a, 0x26, 0x4c,
    0x3c, 0x28, 0x52, 0xbb, 0x91, 0xc3, 0x00, 0xcb,
    0x88, 0xd0, 0x65, 0x8b, 0x1b, 0x53, 0x2e, 0xa3,
    0x71, 0x64, 0x48, 0x97, 0xa2, 0x0d, 0xf9, 0x4e,
    0x38, 0x19, 0xef, 0x46, 0xa9, 0xde, 0xac, 0xd8,
    0xa8, 0xfa, 0x76, 0x3f, 0xe3, 0x9c, 0x34, 0x3f,
    0xf9, 0xdc, 0xbb, 0xc7, 0xc7, 0x0b, 0x4f, 0x1d,
    0x8a, 0x51, 0xe0, 0x4b, 0xcd, 0xb4, 0x59, 0x31,
    0xc8, 0x9f, 0x7e, 0xc9, 0xd9, 0x78, 0x73, 0x64,
    0xea, 0xc5, 0xac, 0x83, 0x34, 0xd3, 0xeb, 0xc3,
    0xc5, 0x81, 0xa0, 0xff, 0xfa, 0x13, 0x63, 0xeb,
    0x17, 0x0d, 0xdd, 0x51, 0xb7, 0xf0, 0xda, 0x49,
    0xd3, 0x16, 0x55, 0x26, 0x29, 0xd4, 0x68, 0x9e,
    0x2b, 0x16, 0xbe, 0x58, 0x7d, 0x47, 0xa1, 0xfc,
    0x8f, 0xf8, 0xb8, 0xd1, 0x7a, 0xd0, 0x31, 0xce,
    0x45, 0xcb, 0x3a, 0x8f, 0x95, 0x16, 0x04, 0x28,
    0xaf, 0xd7, 0xfb, 0xca, 0xbb, 0x4b, 0x40, 0x7e,
};
#define XP32_1 2654435761U
#define XP32_2 2246822519U
#define XP32_3 3266489917U
static uint64_t x3r64(const uint8_t *p) {
    uint64_t v; __builtin_memcpy(&v, p, 8); return v;
}
static uint32_t x3r32(const uint8_t *p) {
    uint32_t v; __builtin_memcpy(&v, p, 4); return v;
}
static uint64_t x3_avalanche(uint64_t h) {
    h ^= h >> 37; h *= 0x165667919E3779F9ULL; h ^= h >> 32; return h;
}
static uint64_t x64_avalanche(uint64_t h) {
    h ^= h >> 33; h *= XP2; h ^= h >> 29; h *= XP3; h ^= h >> 32; return h;
}
static uint64_t x3_fold128(uint64_t a, uint64_t b) {
    __uint128_t p = (__uint128_t)a * b;
    return (uint64_t)p ^ (uint64_t)(p >> 64);
}
static uint64_t x3_mix16(const uint8_t *in, const uint8_t *sec) {
    return x3_fold128(x3r64(in) ^ x3r64(sec), x3r64(in + 8) ^ x3r64(sec + 8));
}
static uint64_t x3_rrmxmx(uint64_t h, uint64_t len) {
    h ^= rotl64(h, 49) ^ rotl64(h, 24);
    h *= 0x9FB21C651E98DF25ULL;
    h ^= (h >> 35) + len;
    h *= 0x9FB21C651E98DF25ULL;
    return h ^ (h >> 28);
}
static void x3_acc512(uint64_t *acc, const uint8_t *in, const uint8_t *sec) {
    for (int i = 0; i < 8; i++) {
        uint64_t dv = x3r64(in + 8 * i);
        uint64_t dk = dv ^ x3r64(sec + 8 * i);
        acc[i ^ 1] += dv;
        acc[i] += (uint64_t)(uint32_t)dk * (dk >> 32);
    }
}
uint64_t xxh3_64(const uint8_t *in, int64_t len) {
    if (len == 0)
        return x64_avalanche(x3r64(XK + 56) ^ x3r64(XK + 64));
    if (len <= 3) {
        uint32_t combined = ((uint32_t)in[0] << 16)
            | ((uint32_t)in[len >> 1] << 24)
            | (uint32_t)in[len - 1] | ((uint32_t)len << 8);
        return x64_avalanche((uint64_t)(combined ^ (x3r32(XK) ^ x3r32(XK + 4))));
    }
    if (len <= 8) {
        uint64_t bitflip = x3r64(XK + 8) ^ x3r64(XK + 16);
        uint64_t input64 =
            (uint64_t)x3r32(in + len - 4) + ((uint64_t)x3r32(in) << 32);
        return x3_rrmxmx(input64 ^ bitflip, (uint64_t)len);
    }
    if (len <= 16) {
        uint64_t lo = x3r64(in) ^ (x3r64(XK + 24) ^ x3r64(XK + 32));
        uint64_t hi = x3r64(in + len - 8) ^ (x3r64(XK + 40) ^ x3r64(XK + 48));
        uint64_t acc = (uint64_t)len + __builtin_bswap64(lo) + hi
            + x3_fold128(lo, hi);
        return x3_avalanche(acc);
    }
    if (len <= 128) {
        uint64_t acc = (uint64_t)len * XP1;
        if (len > 32) {
            if (len > 64) {
                if (len > 96) {
                    acc += x3_mix16(in + 48, XK + 96);
                    acc += x3_mix16(in + len - 64, XK + 112);
                }
                acc += x3_mix16(in + 32, XK + 64);
                acc += x3_mix16(in + len - 48, XK + 80);
            }
            acc += x3_mix16(in + 16, XK + 32);
            acc += x3_mix16(in + len - 32, XK + 48);
        }
        acc += x3_mix16(in, XK);
        acc += x3_mix16(in + len - 16, XK + 16);
        return x3_avalanche(acc);
    }
    if (len <= 240) {
        uint64_t acc = (uint64_t)len * XP1;
        int64_t nb = len / 16;
        for (int i = 0; i < 8; i++) acc += x3_mix16(in + 16 * i, XK + 16 * i);
        acc = x3_avalanche(acc);
        for (int64_t i = 8; i < nb; i++)
            acc += x3_mix16(in + 16 * i, XK + 16 * (i - 8) + 3);
        acc += x3_mix16(in + len - 16, XK + 136 - 17);
        return x3_avalanche(acc);
    }
    /* long path: 64-byte stripes, 1024-byte blocks, default secret */
    uint64_t acc[8] = { XP32_3, XP1, XP2, XP3, XP4, XP32_2, XP5, XP32_1 };
    const int64_t block_len = 64 * 16; /* (192 - 64) / 8 stripes */
    int64_t nb_blocks = (len - 1) / block_len;
    for (int64_t n = 0; n < nb_blocks; n++) {
        for (int s = 0; s < 16; s++)
            x3_acc512(acc, in + n * block_len + s * 64, XK + s * 8);
        for (int i = 0; i < 8; i++) { /* scramble */
            acc[i] ^= acc[i] >> 47;
            acc[i] ^= x3r64(XK + 192 - 64 + 8 * i);
            acc[i] *= XP32_1;
        }
    }
    int64_t nb_stripes = ((len - 1) - block_len * nb_blocks) / 64;
    for (int64_t s = 0; s < nb_stripes; s++)
        x3_acc512(acc, in + nb_blocks * block_len + s * 64, XK + s * 8);
    x3_acc512(acc, in + len - 64, XK + 192 - 64 - 7);
    uint64_t r = (uint64_t)len * XP1;
    for (int i = 0; i < 4; i++)
        r += x3_fold128(acc[2 * i] ^ x3r64(XK + 11 + 16 * i),
                        acc[2 * i + 1] ^ x3r64(XK + 11 + 16 * i + 8));
    return x3_avalanche(r);
}

/* Per-chunk identity hashes for a cut list in ONE C pass (no per-chunk
   Python objects or ctypes calls): chunk i spans [prev_i, cuts[i]) where
   prev_0 = start0 and prev_{i+1} = cuts[i]. Writes xxh64(seed) of each
   chunk. */
void chunk_hash_scan(const uint8_t *buf, const int64_t *cuts, int64_t ncuts,
                     int64_t start0, uint64_t seed, uint64_t *hashes) {
    int64_t prev = start0;
    for (int64_t i = 0; i < ncuts; i++) {
        hashes[i] = xxh64(buf + prev, cuts[i] - prev, seed);
        prev = cuts[i];
    }
}

/* xxh3-64 twin of chunk_hash_scan (the reference-parity scheme). */
void chunk_hash3_scan(const uint8_t *buf, const int64_t *cuts, int64_t ncuts,
                      int64_t start0, uint64_t *hashes) {
    int64_t prev = start0;
    for (int64_t i = 0; i < ncuts; i++) {
        hashes[i] = xxh3_64(buf + prev, cuts[i] - prev);
        prev = cuts[i];
    }
}

#include <string.h>

/* LZ4-block-format compressed SIZE (greedy, 13-bit hash table, 64 KiB
   window — the lz4 fast/default match-finding shape). Counts the exact
   byte length the block format would occupy without materializing it:
   token + literal-length extension + literals per run, 2-byte offset +
   match-length extension per match; matching stops 12 bytes from the
   end and the tail is emitted as literals (the format's end-of-block
   rule). A faithful size probe for the reference's per-chunk
   lz4::block::compress measurement — not guaranteed byte-equal to any
   particular lz4 build's output, but the same format and the same
   greedy parse family. */
int64_t lz4_size(const uint8_t *src, int64_t n) {
    if (n <= 0) return 1;
    static const int HB = 13;
    static const int SKIP_TRIGGER = 6; /* lz4's incompressible fast path:
        after 1<<SKIP_TRIGGER consecutive misses, start stepping further
        per probe — already-compressed input degrades to ~memcpy speed
        instead of a per-byte hash-probe walk */
    uint32_t htab[1 << 13];
    memset(htab, 0, sizeof htab);
    int64_t size = 0, anchor = 0, i = 0;
    int64_t mflimit = n - 12;
    int64_t search = 1 << SKIP_TRIGGER;
    while (i < mflimit) {
        uint32_t seq, cseq;
        memcpy(&seq, src + i, 4);
        uint32_t h = (seq * 2654435761u) >> (32 - HB);
        int64_t cand = (int64_t)htab[h] - 1;
        htab[h] = (uint32_t)(i + 1);
        if (cand >= 0 && i - cand <= 65535) {
            memcpy(&cseq, src + cand, 4);
        } else {
            cseq = ~seq;
        }
        if (cseq == seq) {
            int64_t m = 4;
            int64_t mlimit = n - 5;
            /* 8-byte match extension (lz4's own shape): XOR + ctz finds
               the first differing byte — identical match lengths to the
               per-byte walk, ~2x the probe throughput on mixed data */
            while (i + m + 8 <= mlimit) {
                uint64_t a, b;
                __builtin_memcpy(&a, src + cand + m, 8);
                __builtin_memcpy(&b, src + i + m, 8);
                uint64_t x = a ^ b;
                if (x) { m += __builtin_ctzll(x) >> 3; goto matched; }
                m += 8;
            }
            while (i + m < mlimit && src[cand + m] == src[i + m]) m++;
matched:;
            int64_t lit = i - anchor;
            size += 1 + lit + (lit >= 15 ? (lit - 15) / 255 + 1 : 0);
            int64_t ml = m - 4;
            size += 2 + (ml >= 15 ? (ml - 15) / 255 + 1 : 0);
            i += m;
            anchor = i;
            search = 1 << SKIP_TRIGGER;
        } else {
            i += search >> SKIP_TRIGGER;
            search++;
        }
    }
    int64_t lit = n - anchor;
    size += 1 + lit + (lit >= 15 ? (lit - 15) / 255 + 1 : 0);
    return size;
}

/* Compressibility probes for SELECTED chunks in one C pass. offs/lens
   address chunks within buf; idx picks which chunks to probe (the
   first occurrence of each distinct hash — repeats reuse the result).
   cap > 0 probes only the chunk's first `cap` bytes and extrapolates
   linearly, truncating like Python's int() (bit-compatible with
   _compressed_size's sampled path); cap <= 0 probes whole chunks. */
void chunk_probe_scan(const uint8_t *buf, const int64_t *offs,
                      const int64_t *lens, const int64_t *idx, int64_t nidx,
                      int64_t cap, int64_t *out) {
    for (int64_t j = 0; j < nidx; j++) {
        int64_t i = idx[j];
        int64_t len = lens[i];
        int64_t plen = (cap > 0 && len > cap) ? cap : len;
        int64_t sz = lz4_size(buf + offs[i], plen);
        out[j] = (plen < len)
            ? (int64_t)((double)sz * ((double)len / (double)plen))
            : sz;
    }
}

/* MD5 (RFC 1321), one-shot. The MinHash base hash is md5 because md5 is
   the one hash Spark and DuckDB share (the oracle contract); this copy
   only lets the signature kernel skip a Python call per shingle.
   Cross-checked in tests against hashlib across the padding
   boundaries. Little-endian hosts only, like xxh64 above. */
static const uint32_t MD5_K[64] = {
    0xd76aa478, 0xe8c7b756, 0x242070db, 0xc1bdceee,
    0xf57c0faf, 0x4787c62a, 0xa8304613, 0xfd469501,
    0x698098d8, 0x8b44f7af, 0xffff5bb1, 0x895cd7be,
    0x6b901122, 0xfd987193, 0xa679438e, 0x49b40821,
    0xf61e2562, 0xc040b340, 0x265e5a51, 0xe9b6c7aa,
    0xd62f105d, 0x02441453, 0xd8a1e681, 0xe7d3fbc8,
    0x21e1cde6, 0xc33707d6, 0xf4d50d87, 0x455a14ed,
    0xa9e3e905, 0xfcefa3f8, 0x676f02d9, 0x8d2a4c8a,
    0xfffa3942, 0x8771f681, 0x6d9d6122, 0xfde5380c,
    0xa4beea44, 0x4bdecfa9, 0xf6bb4b60, 0xbebfbc70,
    0x289b7ec6, 0xeaa127fa, 0xd4ef3085, 0x04881d05,
    0xd9d4d039, 0xe6db99e5, 0x1fa27cf8, 0xc4ac5665,
    0xf4292244, 0x432aff97, 0xab9423a7, 0xfc93a039,
    0x655b59c3, 0x8f0ccc92, 0xffeff47d, 0x85845dd1,
    0x6fa87e4f, 0xfe2ce6e0, 0xa3014314, 0x4e0811a1,
    0xf7537e82, 0xbd3af235, 0x2ad7d2bb, 0xeb86d391,
};
static const uint8_t MD5_S[16] = {
    7, 12, 17, 22, 5, 9, 14, 20, 4, 11, 16, 23, 6, 10, 15, 21,
};
static void md5_block(uint32_t st[4], const uint8_t *p) {
    uint32_t m[16];
    __builtin_memcpy(m, p, 64);
    uint32_t a = st[0], b = st[1], c = st[2], d = st[3];
    for (int i = 0; i < 64; i++) {
        uint32_t f;
        int g;
        if (i < 16) { f = (b & c) | (~b & d); g = i; }
        else if (i < 32) { f = (d & b) | (~d & c); g = (5 * i + 1) & 15; }
        else if (i < 48) { f = b ^ c ^ d; g = (3 * i + 5) & 15; }
        else { f = c ^ (b | ~d); g = (7 * i) & 15; }
        int s = MD5_S[((i >> 4) << 2) | (i & 3)];
        f += a + MD5_K[i] + m[g];
        a = d; d = c; c = b;
        b += (f << s) | (f >> (32 - s));
    }
    st[0] += a; st[1] += b; st[2] += c; st[3] += d;
}
void md5_digest(const uint8_t *p, int64_t n, uint8_t *out) {
    uint32_t st[4] = { 0x67452301, 0xefcdab89, 0x98badcfe, 0x10325476 };
    int64_t i = 0;
    for (; i + 64 <= n; i += 64) md5_block(st, p + i);
    uint8_t tail[128];
    int64_t r = n - i;
    int64_t tl = r < 56 ? 64 : 128; /* the length field needs 8 bytes */
    memset(tail, 0, sizeof tail);
    memcpy(tail, p + i, r);
    tail[r] = 0x80;
    uint64_t bits = (uint64_t)n << 3;
    memcpy(tail + tl - 8, &bits, 8);
    md5_block(st, tail);
    if (tl == 128) md5_block(st, tail + 64);
    memcpy(out, st, 16);
}

/* x mod (2^31 - 1) for x < 2^63 without a division: 2^31 = 1 (mod p). */
static inline uint64_t mod_mersenne31(uint64_t x) {
    x = (x & 0x7fffffffULL) + (x >> 31);
    x = (x & 0x7fffffffULL) + (x >> 31);
    return x >= 0x7fffffffULL ? x - 0x7fffffffULL : x;
}

/* MinHash signatures of n documents in Arrow string layout (int64
   offsets into one data buffer; valid[d] == 0 is NULL). Tokens split on
   the byte 0x20 (a UTF-8 multi-byte sequence never contains it, so this
   is Python's str.split(" ") and Spark's split(text, ' ')); each word
   trigram is the text between the first token's start and the third
   token's end, i.e. the tokens joined by one space. Base hash: md5's
   first 4 bytes big-endian, mod p; signature j is the min over the
   doc's shingles of (a[j] * base + b[j]) mod p (products < 2^62). A
   repeated shingle needs no set: min ignores repeats. emit[d] = 1 iff
   the doc is non-NULL with at least 3 tokens (else no shingle, and the
   doc has no signature). sigs is n x k, row-major. */
void minhash_sigs(const uint8_t *data, const int64_t *offs,
                  const uint8_t *valid, int64_t n, const int64_t *a,
                  const int64_t *b, int64_t k, int64_t p,
                  int64_t *sigs, uint8_t *emit) {
    int mersenne = p == 0x7fffffffLL;
    for (int64_t d = 0; d < n; d++) {
        int64_t *sig = sigs + d * k;
        for (int64_t j = 0; j < k; j++) sig[j] = INT64_MAX;
        emit[d] = 0;
        if (!valid[d]) continue;
        const uint8_t *s = data + offs[d];
        int64_t len = offs[d + 1] - offs[d];
        int64_t ntok = 0, cur = 0, prev1 = 0, prev2 = 0;
        for (int64_t i = 0; i <= len; i++) {
            if (i < len && s[i] != 0x20) continue;
            if (ntok >= 2) { /* token ntok ends at i: shingle [prev2, i) */
                uint32_t st[4];
                md5_digest(s + prev2, i - prev2, (uint8_t *)st);
                uint64_t base = __builtin_bswap32(st[0]);
                base = mersenne ? mod_mersenne31(base) : base % (uint64_t)p;
                for (int64_t j = 0; j < k; j++) {
                    uint64_t v = (uint64_t)a[j] * base + (uint64_t)b[j];
                    int64_t h = (int64_t)(mersenne ? mod_mersenne31(v)
                                                   : v % (uint64_t)p);
                    if (h < sig[j]) sig[j] = h;
                }
            }
            prev2 = prev1;
            prev1 = cur;
            cur = i + 1;
            ntok++;
        }
        emit[d] = ntok >= 3;
    }
}

/* PNG scanline un-filtering (spec filters 0-4), in place over an
   h x stride image whose per-row filter bytes were stripped into
   `filters`. Row-serial by spec; byte ops are branch-light C. */
int png_unfilter(uint8_t *rows, const uint8_t *filters, int64_t h,
                 int64_t stride, int64_t ch) {
    for (int64_t y = 0; y < h; y++) {
        uint8_t *cur = rows + y * stride;
        const uint8_t *prev = y ? rows + (y - 1) * stride : 0;
        switch (filters[y]) {
        case 0:
            break;
        case 1:
            for (int64_t x = ch; x < stride; x++) cur[x] += cur[x - ch];
            break;
        case 2:
            if (prev)
                for (int64_t x = 0; x < stride; x++) cur[x] += prev[x];
            break;
        case 3:
            for (int64_t x = 0; x < stride; x++) {
                int left = x >= ch ? cur[x - ch] : 0;
                int up = prev ? prev[x] : 0;
                cur[x] = (uint8_t)(cur[x] + ((left + up) >> 1));
            }
            break;
        case 4:
            for (int64_t x = 0; x < stride; x++) {
                int a = x >= ch ? cur[x - ch] : 0;
                int b = prev ? prev[x] : 0;
                int c = (prev && x >= ch) ? prev[x - ch] : 0;
                int p = a + b - c;
                int pa = p > a ? p - a : a - p;
                int pb = p > b ? p - b : b - p;
                int pc = p > c ? p - c : c - p;
                int pr = (pa <= pb && pa <= pc) ? a : (pb <= pc ? b : c);
                cur[x] = (uint8_t)(cur[x] + pr);
            }
            break;
        default:
            return -1;
        }
    }
    return 0;
}
"""

_lock = threading.Lock()
_lib: ctypes.CDLL | None = None
_tried = False


def _compile() -> ctypes.CDLL | None:
    """Build (or reuse) the cached shared library. Cache key = source
    hash, so editing the C above invalidates cleanly."""
    tag = hashlib.blake2b(_C_SRC.encode(), digest_size=8).hexdigest()
    cache = os.path.join(tempfile.gettempdir(), f"ddes_native_{tag}")
    so = os.path.join(cache, "libddes.so")
    if not os.path.exists(so):
        os.makedirs(cache, exist_ok=True)
        c_path = os.path.join(cache, "kernels.c")
        with open(c_path, "w") as f:
            f.write(_C_SRC)
        tmp_so = so + f".tmp{os.getpid()}"
        for cc in ("cc", "gcc", "clang"):
            try:
                r = subprocess.run(
                    [cc, "-O3", "-shared", "-fPIC", "-o", tmp_so, c_path],
                    capture_output=True,
                    timeout=120,
                )
            except (OSError, subprocess.TimeoutExpired):
                continue
            if r.returncode == 0:
                os.replace(tmp_so, so)  # atomic: concurrent builders race safely
                break
        else:
            return None
    lib = ctypes.CDLL(so)
    for fn in (lib.gear_scan, lib.window_scan, lib.lz4_size):
        fn.restype = ctypes.c_int64
    lib.lz4_size.argtypes = [ctypes.c_char_p, ctypes.c_int64]
    lib.chunk_hash_scan.restype = None
    lib.chunk_hash_scan.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int64,
        ctypes.c_int64, ctypes.c_uint64, ctypes.c_void_p,
    ]
    lib.chunk_probe_scan.restype = None
    lib.chunk_probe_scan.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64, ctypes.c_void_p,
    ]
    lib.xxh64.restype = ctypes.c_uint64
    lib.xxh64.argtypes = [ctypes.c_char_p, ctypes.c_int64, ctypes.c_uint64]
    lib.xxh3_64.restype = ctypes.c_uint64
    lib.xxh3_64.argtypes = [ctypes.c_char_p, ctypes.c_int64]
    lib.chunk_hash3_scan.restype = None
    lib.chunk_hash3_scan.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int64,
        ctypes.c_int64, ctypes.c_void_p,
    ]
    lib.md5_digest.restype = None
    lib.md5_digest.argtypes = [ctypes.c_char_p, ctypes.c_int64, ctypes.c_char_p]
    lib.minhash_sigs.restype = None
    lib.minhash_sigs.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int64,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64,
        ctypes.c_void_p, ctypes.c_void_p,
    ]
    lib.png_unfilter.restype = ctypes.c_int
    lib.png_unfilter.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
    ]
    lib.gear_scan.argtypes = [
        ctypes.c_void_p, ctypes.c_int64, ctypes.c_void_p,
        ctypes.c_uint64, ctypes.c_void_p, ctypes.c_int64,
    ]
    lib.window_scan.argtypes = [
        ctypes.c_void_p, ctypes.c_int64, ctypes.c_void_p,
        ctypes.c_uint64, ctypes.c_uint64, ctypes.c_int64,
        ctypes.c_void_p, ctypes.c_int64,
    ]
    return lib


def _get() -> ctypes.CDLL | None:
    global _lib, _tried
    if _tried:
        return _lib
    with _lock:
        if not _tried:
            if os.environ.get("DDES_NO_NATIVE"):
                _lib = None
            else:
                try:
                    _lib = _compile()
                except Exception:
                    _lib = None
            _tried = True
    return _lib


def available() -> bool:
    return _get() is not None


def _run_scan(call, n: int) -> np.ndarray:
    """Invoke a scan with an output buffer sized for ~2^-16 candidate
    density; regrow and repeat in the (adversarial-input) case where the
    kernel reports more candidates than the buffer held."""
    cap = max(n // 8192 + 64, 64)
    while True:
        out = np.empty(cap, dtype=np.int64)
        k = call(out, cap)
        if k <= cap:
            return out[:k]
        cap = k


def gear_candidates(buf: np.ndarray, table_i64: np.ndarray, mask_bits: int) -> np.ndarray | None:
    lib = _get()
    if lib is None:
        return None
    buf = np.ascontiguousarray(buf)
    limit = ctypes.c_uint64(1 << (64 - mask_bits))
    return _run_scan(
        lambda out, cap: lib.gear_scan(
            buf.ctypes.data, buf.shape[0], table_i64.ctypes.data,
            limit, out.ctypes.data, cap,
        ),
        buf.shape[0],
    )


def lz4_probe_size(data: bytes) -> int | None:
    """LZ4-block-format compressed size of ``data`` (see C source); None
    when the native library is unavailable."""
    lib = _get()
    if lib is None:
        return None
    return lib.lz4_size(data, len(data))


def xxh64_bytes(data: bytes, seed: int = 0) -> int | None:
    """XXH64 of ``data`` (unsigned), or None without the native lib.
    Cross-checked against Spark's JVM ``xxhash64`` in tests."""
    lib = _get()
    if lib is None:
        return None
    return lib.xxh64(data, len(data), seed)


def xxh3_bytes(data: bytes) -> int | None:
    """XXH3-64 of ``data`` (unsigned, seedless — the reference's
    identity hash, src/store.rs:44), or None without the native lib.
    Cross-checked in tests against an independent pure-Python
    implementation and upstream sanity vectors."""
    lib = _get()
    if lib is None:
        return None
    return lib.xxh3_64(data, len(data))


def chunk_hashes3(
    buf: np.ndarray, cuts: np.ndarray, start0: int
) -> np.ndarray | None:
    """xxh3-64 of every chunk [prev, cut) in ONE native pass — signed
    int64 view, or None without the native lib. The xxh3 twin of
    :func:`chunk_hashes`."""
    lib = _get()
    if lib is None:
        return None
    out = np.empty(cuts.shape[0], dtype=np.uint64)
    lib.chunk_hash3_scan(
        buf.ctypes.data, cuts.ctypes.data, cuts.shape[0],
        start0, out.ctypes.data,
    )
    return out.view(np.int64)


def chunk_hashes(
    buf: np.ndarray, cuts: np.ndarray, start0: int, seed: int
) -> np.ndarray | None:
    """xxh64(seed) of every chunk [prev, cut) in ONE native pass —
    signed int64 view (Spark's hash convention), or None without the
    native lib. ``cuts`` must be contiguous int64."""
    lib = _get()
    if lib is None:
        return None
    out = np.empty(cuts.shape[0], dtype=np.uint64)
    lib.chunk_hash_scan(
        buf.ctypes.data, cuts.ctypes.data, cuts.shape[0],
        start0, seed, out.ctypes.data,
    )
    return out.view(np.int64)


def chunk_probes(
    buf: np.ndarray,
    offs: np.ndarray,
    lens: np.ndarray,
    idx: np.ndarray,
    cap: int,
) -> np.ndarray | None:
    """LZ4 size probes for the chunks selected by ``idx`` in one native
    pass (cap>0: sampled + linear extrapolation, truncating like
    Python's int()); None without the native lib."""
    lib = _get()
    if lib is None:
        return None
    out = np.empty(idx.shape[0], dtype=np.int64)
    lib.chunk_probe_scan(
        buf.ctypes.data, offs.ctypes.data, lens.ctypes.data,
        idx.ctypes.data, idx.shape[0], cap, out.ctypes.data,
    )
    return out


def md5_bytes(data: bytes) -> bytes | None:
    """md5 digest of ``data`` by the C copy the MinHash kernel uses, or
    None without the native lib. Cross-checked against hashlib in tests."""
    lib = _get()
    if lib is None:
        return None
    out = ctypes.create_string_buffer(16)
    lib.md5_digest(data, len(data), out)
    return out.raw


def minhash_sigs(texts, a, b, p: int) -> tuple[np.ndarray, np.ndarray] | None:
    """MinHash signatures of an Arrow string array in one native pass:
    ``(emit, sigs)`` where ``emit`` is a bool mask of the docs that have
    a signature (non-NULL, at least 3 tokens) and ``sigs`` is the
    (len, len(a)) int64 minima (rows where ``emit`` is False are
    undefined). None without the native lib. Semantics: see the C
    ``minhash_sigs``."""
    lib = _get()
    if lib is None:
        return None
    import pyarrow as pa

    a = np.ascontiguousarray(a, dtype=np.int64)
    b = np.ascontiguousarray(b, dtype=np.int64)
    k = a.shape[0]
    if a.ndim != 1 or b.shape != (k,):
        raise ValueError("a and b must be 1-d arrays of one length")
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    if texts.type not in (pa.string(), pa.large_string()):
        texts = texts.cast(pa.large_string())
    n = len(texts)
    if n == 0:
        return np.zeros(0, np.bool_), np.empty((0, k), np.int64)
    _, obuf, dbuf = texts.buffers()
    odt = np.int64 if texts.type == pa.large_string() else np.int32
    # the array may be a slice: its offsets start at texts.offset
    offs = np.ascontiguousarray(
        np.frombuffer(obuf, dtype=odt, count=texts.offset + n + 1)[texts.offset :],
        dtype=np.int64,
    )
    # all-empty or all-NULL text: no data buffer, and no byte is read
    data = np.frombuffer(dbuf, np.uint8) if dbuf is not None and dbuf.size else np.zeros(1, np.uint8)
    valid = np.ascontiguousarray(
        texts.is_valid().to_numpy(zero_copy_only=False), dtype=np.uint8
    )
    sigs = np.empty((n, k), dtype=np.int64)
    emit = np.empty(n, dtype=np.uint8)
    lib.minhash_sigs(
        data.ctypes.data, offs.ctypes.data, valid.ctypes.data, n,
        a.ctypes.data, b.ctypes.data, k, p, sigs.ctypes.data, emit.ctypes.data,
    )
    return emit.view(np.bool_), sigs


def png_unfilter(rows: np.ndarray, filters: np.ndarray, ch: int) -> bool:
    """Un-filter PNG scanlines IN PLACE. ``rows`` is (h, stride) uint8
    C-contiguous, ``filters`` is (h,) uint8. Returns False when the
    native library is unavailable (caller falls back to Python)."""
    lib = _get()
    if lib is None:
        return False
    assert rows.flags["C_CONTIGUOUS"] and rows.dtype == np.uint8
    filters = np.ascontiguousarray(filters, dtype=np.uint8)
    h, stride = rows.shape
    rc = lib.png_unfilter(rows.ctypes.data, filters.ctypes.data, h, stride, ch)
    if rc != 0:
        raise ValueError("bad PNG filter byte")
    return True


def window_candidates(
    buf: np.ndarray, table_i64: np.ndarray, mix_i64: int, mask_bits: int, window: int
) -> np.ndarray | None:
    lib = _get()
    if lib is None:
        return None
    buf = np.ascontiguousarray(buf)
    mix = ctypes.c_uint64(int(mix_i64) & 0xFFFFFFFFFFFFFFFF)
    limit = ctypes.c_uint64(1 << (64 - mask_bits))
    return _run_scan(
        lambda out, cap: lib.window_scan(
            buf.ctypes.data, buf.shape[0], table_i64.ctypes.data,
            mix, limit, window, out.ctypes.data, cap,
        ),
        buf.shape[0],
    )
