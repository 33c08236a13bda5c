"""Similarity search over the ``embeddings`` table (array<float>, dim 64):
brute-force cosine top-k (baseline), random-hyperplane LSH bucketing (scale
path), and embedding-cosine near-dup pairs.

Float discipline: both engines cast float→double (exact) and fold the
products **left-to-right from 0.0** — Spark ``F.aggregate`` and DuckDB
``list_reduce`` are both sequential left folds, so dot products are
bit-identical and need no rounding; comparisons and top-k orderings are
therefore stable across engines.

Scale notes: brute-force is one broadcast of the query vector — no
shuffle at all; the LSH variants bucket the corpus once (narrow shuffle on
bucket id) and scan only within buckets. The hyperplane count is
**data-adaptive inside the plan**: a broadcast scalar COUNT drives
``n_planes = clamp(ceil(log2(n_vecs / TARGET_BUCKET)), 4, MAX_PLANES)``
via a pure-integer CASE ladder (no float log2 — identical in any engine),
so bucket count grows ∝ corpus and per-bucket pair work stays O(1) as the
corpus scales; raise MAX_PLANES for corpora beyond ~2^MAX_PLANES *
TARGET_BUCKET vectors. Near-dup uses N_TABLES independent hash tables
(banding, like MinHash-LSH) so recall doesn't collapse as planes grow.
Pair cosines join **pre-normalized unit vectors** — norms are divided out
once per vector, never per pair.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F
from pyspark.sql.window import Window

from dataset_dedupe_estimator_spark.queries.base import Q, load

DIM = 64
QUERY_VEC_ID = 0
N_TABLES = 4  # independent hash tables for near-dup banding
MAX_PLANES = 16  # supports ~2^16 * TARGET_BUCKET ≈ 524k vectors (r12; was
# 12 — a genuine 100×-scale config wall once a corpus passes ~33k vectors)
TARGET_BUCKET = 8  # aim for ~8 vectors per bucket

# Deterministic hyperplanes, shared verbatim by both engines as literals.
# Planes 0-11 are the r5-r11 set, generated with the SAME rng stream, so
# every bucket PREFIX at p <= 12 — every corpus up to 2^12*TARGET_BUCKET
# vectors — is bit-identical to previous rounds; the r12 extension
# planes (12-15) only engage when the adaptive ladder demands p > 12.
_PLANES = np.round(
    np.concatenate(
        [
            np.random.default_rng(20260813).standard_normal(
                (N_TABLES, 12, DIM)
            ),
            np.random.default_rng(20260905).standard_normal(
                (N_TABLES, MAX_PLANES - 12, DIM)
            ),
        ],
        axis=1,
    ),
    4,
).tolist()


# canonical fold-deterministic implementations live in functions.vectors
from dataset_dedupe_estimator_spark.functions.vectors import (  # noqa: E402
    dot as _dot,
    norm as _norm,
)


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {DIM}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _sql_plane(t: int, p: int) -> str:
    return "[" + ", ".join(repr(v) for v in _PLANES[t][p]) + "]"


def _sql_plane_dot(t: int, p: int, vec: str = "embedding") -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {DIM}), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ({_sql_plane(t, p)})[i]), (x, y) -> x + y)"
    )


# ---- adaptive plane count: integer CASE ladder over the bucket demand ----
# m = ceil(n_vecs / TARGET_BUCKET) buckets wanted; n_planes = smallest p
# with 2^p >= m, clamped to [4, MAX_PLANES]. Integer comparisons only, so
# Spark and DuckDB can never disagree (a float log2 could straddle a ulp).


def _m_col(n_vecs: Column) -> Column:
    return ((n_vecs + F.lit(TARGET_BUCKET - 1)) / TARGET_BUCKET).cast("long")


def _n_planes_col(m: Column) -> Column:
    expr = None
    for p in range(MAX_PLANES, 4, -1):
        cond = m > (1 << (p - 1))
        expr = F.when(cond, p) if expr is None else expr.when(cond, p)
    return expr.otherwise(4)


def _sql_n_planes(m: str) -> str:
    whens = " ".join(
        f"WHEN {m} > {1 << (p - 1)} THEN {p}" for p in range(MAX_PLANES, 4, -1)
    )
    return f"CASE {whens} ELSE 4 END"


_SQL_M = f"((n_vecs + {TARGET_BUCKET - 1}) // {TARGET_BUCKET})"
_SQL_P = _sql_n_planes(_SQL_M)


def _bits_col(vec: Column, table: int) -> Column:
    """Full MAX_PLANES-char bit string for one hash table; the adaptive
    bucket is its length-n_planes prefix."""
    planes = [
        F.array(*[F.lit(float(v)) for v in _PLANES[table][p]])
        for p in range(MAX_PLANES)
    ]
    bits = [
        F.when(_dot(vec, planes[p]) >= 0.0, "1").otherwise("0")
        for p in range(MAX_PLANES)
    ]
    return F.concat(*bits)


def _sql_bits(table: int, vec: str = "embedding") -> str:
    return " || ".join(
        f"CASE WHEN {_sql_plane_dot(table, p, vec)} >= 0.0 THEN '1' ELSE '0' END"
        for p in range(MAX_PLANES)
    )


def knn_brute_force(spark, sf):
    """Exact cosine top-10 neighbours of vec {QUERY_VEC_ID} (broadcast query,
    no shuffle)."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding")
    )
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


KNN_SQL = f"""
WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       {_sql_dot("embedding", "q_embedding")}
       / (sqrt({_sql_dot("embedding", "embedding")}) * sqrt({_sql_dot("q_embedding", "q_embedding")}))
       AS cosine
FROM embeddings, q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


def ann_lsh_bucketed(spark, sf):
    """ANN via random-hyperplane LSH: scan only the query vector's bucket,
    exact cosine within it, top-5. The 100 TB plan: bucket once with a
    corpus-size-adaptive plane count (broadcast scalar COUNT → integer
    ladder), probe one (or few) buckets per query."""
    emb = load(spark, sf, "embeddings")
    n_df = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    bucketed = (
        emb.crossJoin(F.broadcast(n_df))
        .withColumn("p", _n_planes_col(_m_col(F.col("n_vecs"))))
        .withColumn(
            "bucket",
            _bits_col(F.col("embedding"), 0).substr(F.lit(1), F.col("p")),
        )
    )
    q = bucketed.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"), F.col("bucket").alias("q_bucket")
    )
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    return (
        bucketed.join(F.broadcast(q), bucketed.bucket == F.col("q_bucket"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "bucket", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(5)
    )


ANN_LSH_SQL = f"""
WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
bucketed AS (
  SELECT vec_id, label, embedding,
         substr({_sql_bits(0)}, 1, {_SQL_P}) AS bucket
  FROM embeddings, n
),
q AS (SELECT embedding AS q_embedding, bucket AS q_bucket FROM bucketed
      WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label, bucket,
       {_sql_dot("embedding", "q_embedding")}
       / (sqrt({_sql_dot("embedding", "embedding")}) * sqrt({_sql_dot("q_embedding", "q_embedding")}))
       AS cosine
FROM bucketed, q
WHERE bucket = q_bucket AND vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT 5
"""


def _unit_col() -> Column:
    """embedding / nrm as a declarative projection. NOT used in hot paths:
    even with `nrm` materialized in the upstream projection, Catalyst's
    CollapseProject inlines the norm aggregate into the transform lambda
    and re-evaluates the 64-element fold per component (verified in the
    optimized plan). Kept as the semantic reference for `unit_features`,
    the Arrow-batched form that is bit-identical (test_lsh_parity). A
    zero norm — a zero vector, or one whose squares all underflow —
    gives an all-zero unit: cosine 0 with every vector, so no pairs."""
    return F.transform(
        F.col("embedding"),
        lambda x: F.when(F.col("nrm") == 0, F.lit(0.0)).otherwise(
            x.cast("double") / F.col("nrm")
        ),
    )


_SQL_UNIT = (
    "list_transform(embedding, x -> CASE WHEN nrm = 0 THEN CAST(0 AS DOUBLE) "
    "ELSE CAST(x AS DOUBLE) / nrm END)"
)


def _unit_rows(e):
    """Rows of the (n, DIM) float64 array ``e`` over their norms: the
    norm's ``np.cumsum`` adds strictly left to right, as the fold's
    ``F.aggregate`` does, so every component matches `_unit_col`
    exactly — including the all-zero unit of a zero norm."""
    import numpy as np

    nrm = np.sqrt(np.cumsum(e * e, axis=1)[:, -1])[:, None]
    return np.divide(e, nrm, out=np.zeros_like(e), where=nrm != 0)


def _sql_unit_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {DIM}), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _unit_features_fn(it):
    """Arrow-batched unit vectors only — the same cumsum/normalize code
    path as lsh_features (bit-identical to the fold expressions per
    test_lsh_parity), without paying for hyperplane signatures."""
    import numpy as np
    import pyarrow as pa

    for batch in it:
        idx = {n: i for i, n in enumerate(batch.schema.names)}
        vec_id = batch.column(idx["vec_id"])
        flat = batch.column(idx["embedding"]).flatten().to_numpy(zero_copy_only=False)
        e = flat.astype(np.float64).reshape(-1, DIM)
        unit = _unit_rows(e)
        offsets = pa.array(
            np.arange(0, (e.shape[0] + 1) * DIM, DIM, dtype=np.int32)
        )
        yield pa.RecordBatch.from_arrays(
            [vec_id, pa.ListArray.from_arrays(offsets, pa.array(unit.ravel()))],
            names=["vec_id", "unit"],
        )


def unit_features(emb):
    """(vec_id, unit) in one Arrow pass. The declarative `_unit_col`
    projection is NOT used in hot paths: Catalyst's CollapseProject inlines
    the norm aggregate into the transform lambda, re-evaluating the
    64-element fold per component (~64x work)."""
    return emb.select("vec_id", "embedding").mapInArrow(
        _unit_features_fn, "vec_id long, unit array<double>"
    )


BRUTE_FORCE_MAX_VECS = 100_000  # ~5e9 pairs; beyond this the all-pairs
#                                 baseline is refused — use embedding_dedup_lsh


def embedding_dedup_pairs(spark, sf):
    """Embedding-cosine near-duplicate pairs, brute-force baseline.
    Threshold 0.45 (corpus max pairwise cosine is ~0.51). Vectors are
    pre-normalized to unit length ONCE (Arrow-batched pass — see
    unit_features) — the per-pair work is a single dot product, no norms
    or divisions in the join.

    Deliberately quadratic: this is the verification baseline for
    embedding_dedup_lsh, not the scale path. A row-count guard (parquet
    footer count — no data scan) refuses corpora past
    BRUTE_FORCE_MAX_VECS so a user reaching for it first gets pointed at
    the sub-quadratic twin instead of a cluster-melting crossJoin."""
    emb = load(spark, sf, "embeddings")
    n = emb.count()
    if n > BRUTE_FORCE_MAX_VECS:
        raise ValueError(
            f"embedding_dedup_pairs is the all-pairs baseline (n={n} -> "
            f"{n * (n - 1) // 2} pairs); over {BRUTE_FORCE_MAX_VECS} vectors "
            "use embedding_dedup_lsh (same threshold, banded candidates)"
        )
    normed = unit_features(emb)
    a = normed.select(F.col("vec_id").alias("vec_a"), F.col("unit").alias("ua"))
    b = normed.select(F.col("vec_id").alias("vec_b"), F.col("unit").alias("ub"))
    cos = _dot(F.col("ua"), F.col("ub"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.45)
        .orderBy("vec_a", "vec_b")
    )


EMB_NORMED_CTE = f"""
pre AS (
  SELECT vec_id, embedding, sqrt({_sql_dot("embedding", "embedding")}) AS nrm
  FROM embeddings
),
normed AS (SELECT vec_id, {_SQL_UNIT} AS unit FROM pre)
"""

EMB_DEDUP_SQL = f"""
WITH {EMB_NORMED_CTE}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_sql_unit_dot("a.unit", "b.unit")} AS cosine
FROM normed a JOIN normed b ON a.vec_id < b.vec_id
WHERE {_sql_unit_dot("a.unit", "b.unit")} >= 0.45
ORDER BY vec_a, vec_b
"""


def _lsh_features_fn(it):
    """Arrow-batched unit vectors + full hyperplane bit strings.

    Bit-identical to the declarative fold expressions (`_bits_col`,
    `_unit_col`): element products are float64 IEEE multiplies in both.
    The norm's ``np.cumsum`` accumulates strictly left-to-right — the same
    addition order as ``F.aggregate``'s left fold — so every unit
    component matches the DuckDB oracle exactly; the plane dots come from
    a guarded GEMM whose sign bits provably match the fold (see below).
    Vectorized numpy beats ~50 interpreted higher-order-function dots per
    row by orders of magnitude; this is the 100 TB hot path.
    """
    import numpy as np
    import pyarrow as pa

    # (T*MAX_PLANES, DIM): all tables' planes side by side so ONE
    # accumulation loop serves every table (r13: replaces 64 per-plane
    # cumsum passes, each allocating two (nb, DIM) temporaries — 9.5x
    # faster in the kernel microbench, np.array_equal-identical output)
    PF = np.asarray(_PLANES, dtype=np.float64).reshape(N_TABLES * MAX_PLANES, DIM)
    PFT = np.ascontiguousarray(PF.T)  # (DIM, T*P) for the GEMM
    PFT_ABS = np.abs(PFT)
    # sign-guard tolerance (see the r14 note at the dots computation):
    # any summation order of DIM products lies within gamma_DIM * A of
    # the true sum (Higham, gamma_n ~= n*eps), so fold and GEMM differ
    # by <= 2*gamma_DIM*A; 4*DIM*eps pads that bound 2x
    GUARD_TOL = 4 * DIM * np.finfo(np.float64).eps
    names_out = ["vec_id", "unit"] + [f"bits{t}" for t in range(N_TABLES)]
    for batch in it:
        idx = {n: i for i, n in enumerate(batch.schema.names)}
        vec_id = batch.column(idx["vec_id"])
        flat = batch.column(idx["embedding"]).flatten().to_numpy(zero_copy_only=False)
        e = flat.astype(np.float64).reshape(-1, DIM)
        nb = e.shape[0]
        unit = _unit_rows(e)
        offsets = pa.array(np.arange(0, (nb + 1) * DIM, DIM, dtype=np.int32))
        arrays = [vec_id, pa.ListArray.from_arrays(offsets, pa.array(unit.ravel()))]
        # r14 (§4.2): plane dots via ONE BLAS GEMM with a sign guard,
        # replacing the 64-pass (DIM) strict-left-fold accumulation loop
        # (5-14x in the kernel microbench at 2k-100k-row batches — the
        # loop re-streams the (nb, T*P) accumulator from DRAM per dim).
        # The dot VALUES feed only the `>= 0.0` sign test below, and the
        # guard makes the sign decisions PROVABLY identical to the
        # strict ascending-d left fold the oracle mirrors: any summation
        # order of the DIM products (GEMM's blocked/FMA order included)
        # lies within gamma_DIM * A of the true sum, where
        # A = sum_d |e_d * plane_d| (Higham, gamma_n ~= n*eps), so GEMM
        # and fold differ by at most 2*gamma_DIM*A < GUARD_TOL*A. Any
        # entry with |gemm| <= GUARD_TOL*A — including every exact-zero
        # fold, whose gemm value is itself <= 2*gamma*A — is recomputed
        # with the verbatim left fold, so its sign (and the >= 0.0 tie,
        # where -0.0 >= 0.0 is also True) comes from the fold bits; all
        # other entries satisfy |gemm - fold| <= tol < |gemm|, hence
        # sign(gemm) == sign(fold). Pinned by
        # test_lsh_features_match_fold_expressions and the near-zero
        # adversarial test_guarded_gemm_sign_matches_fold.
        dots = e @ PFT
        amax = np.abs(e) @ PFT_ABS
        near = np.abs(dots) <= GUARD_TOL * amax
        # a NaN dot fails the test above and an infinite one voids the
        # bound (overflow sums in GEMM order can be NaN where the fold
        # gives +-inf): non-finite dots take the fold's sign bit too
        near |= ~np.isfinite(dots)
        if near.any():
            r, c = np.nonzero(near)
            acc = np.zeros(len(r))
            for d in range(DIM):
                acc += e[r, d] * PF[c, d]
            dots[r, c] = acc
        # bit matrix → strings via one vectorized uint8→S-view
        # reinterpretation instead of a per-row Python join
        chars = np.where(dots >= 0.0, ord("1"), ord("0")).astype(np.uint8)
        chars = chars.reshape(nb, N_TABLES, MAX_PLANES)
        for t in range(N_TABLES):
            strs = (
                np.ascontiguousarray(chars[:, t, :])
                .view(f"S{MAX_PLANES}")[:, 0]
                .astype("U")
            )
            arrays.append(pa.array(strs, type=pa.string()))
        yield pa.RecordBatch.from_arrays(arrays, names=names_out)


def lsh_features(emb):
    """(vec_id, unit, bits0..bits{N_TABLES-1}) via one Arrow-batched pass."""
    schema = "vec_id long, unit array<double>, " + ", ".join(
        f"bits{t} string" for t in range(N_TABLES)
    )
    return emb.select("vec_id", "embedding").mapInArrow(_lsh_features_fn, schema)


EMB_DEDUP_T = 0.45  # near-dup cosine threshold (shared with the brute baseline)
SPREAD_MIN_VECS = 8192  # below this the spread exchange costs more than the
#                         serial feature pass + probe it parallelizes


def _pair_cosine_fn(it):
    """Arrow-batched exact cosine over candidate pairs with attached unit
    vectors; emits only pairs at/above EMB_DEDUP_T.

    r13: replaced the JVM ``aggregate(zip_with(...))`` rerank — Catalyst
    evaluates higher-order-function lambdas interpreted (never codegen),
    and the optimizer additionally evaluated the fold twice per surviving
    pair (join condition + projection): ~61% of the query's sf1 wall
    (tools/profile_lsh_query.py). The fold here accumulates from +0.0 in
    ascending element order — bit-identical to ``F.aggregate``'s left
    fold and DuckDB's ``list_reduce`` (see _lsh_features_fn note).

    r14: no longer on the ``embedding_dedup_lsh`` query path (the
    bucket-grouped ``_bucket_pair_cosine_fn`` computes the same fold
    without shipping per-pair unit vectors); kept as the pairwise
    reference kernel the parity tests pin both implementations against.
    """
    import numpy as np
    import pyarrow as pa

    for batch in it:
        idx = {n: i for i, n in enumerate(batch.schema.names)}
        va = batch.column(idx["vec_a"]).to_numpy(zero_copy_only=False)
        vb = batch.column(idx["vec_b"]).to_numpy(zero_copy_only=False)
        ua_flat = (
            batch.column(idx["ua"]).flatten().to_numpy(zero_copy_only=False)
        )
        ub_flat = (
            batch.column(idx["ub"]).flatten().to_numpy(zero_copy_only=False)
        )
        # fail fast on a null/ragged unit list: a silent reshape could
        # misalign every subsequent pair's cosine (ADVICE r13)
        if ua_flat.size != len(va) * DIM or ub_flat.size != len(vb) * DIM:
            raise ValueError(
                f"pair-cosine kernel: unit payloads ({ua_flat.size}, "
                f"{ub_flat.size}) != {len(va)} pairs x {DIM} dims"
            )
        ua = ua_flat.reshape(-1, DIM)
        ub = ub_flat.reshape(-1, DIM)
        acc = np.zeros(len(va))
        for d in range(DIM):
            acc += ua[:, d] * ub[:, d]
        keep = acc >= EMB_DEDUP_T
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(va[keep], pa.int64()),
                pa.array(vb[keep], pa.int64()),
                pa.array(acc[keep], pa.float64()),
            ],
            names=["vec_a", "vec_b", "cosine"],
        )


def _bucket_pair_cosine_fn(it):
    """Arrow-batched within-bucket pair generation + exact cosine +
    threshold, over rows of (members: list<struct<vec_id, unit>>), one
    row per (table_id, bucket) posting list.

    r14 (§2.3 "shuffle keys and metadata instead of payloads", §8): the
    r13 plan joined 3.26M candidate rows, DISTINCTed them, broadcast-
    joined both unit vectors back on, and shipped ~1 KB per pair (128
    doubles) across the Python boundary — ~2.8 GB at sf1. Grouping the
    postings first ships each vector's unit ONCE per (table, bucket)
    membership (~42 MB at sf1, a ~70x boundary reduction) and the pair
    fan-out happens inside the kernel. Pair enumeration is vectorized
    (triangular-number decode of within-bucket pair ranks — no Python
    loop over buckets); the cosine is the strict ascending-d left fold
    from +0.0, bit-identical to ``_pair_cosine_fn``, ``F.aggregate`` and
    DuckDB ``list_reduce`` (test_lsh_parity). Duplicate pairs discovered
    by several tables/buckets carry bit-identical cosines, so the
    downstream dropDuplicates([vec_a, vec_b]) is value-deterministic."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def _empty():
        return pa.RecordBatch.from_arrays(
            [
                pa.array([], pa.int64()),
                pa.array([], pa.int64()),
                pa.array([], pa.float64()),
            ],
            names=["vec_a", "vec_b", "cosine"],
        )

    for batch in it:
        idx = {n: i for i, n in enumerate(batch.schema.names)}
        members = batch.column(idx["members"])
        # sizes via list_value_length (robust to sliced arrays whose
        # offsets don't start at 0); flatten() re-bases the values
        ks = (
            pc.list_value_length(members)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        flat = members.flatten()  # StructArray, concatenated in row order
        ids = flat.field("vec_id").to_numpy(zero_copy_only=False)
        uflat = flat.field("unit").flatten().to_numpy(zero_copy_only=False)
        if uflat.size != ids.size * DIM:
            raise ValueError(
                f"bucket kernel: unit payload {uflat.size} != "
                f"{ids.size} vectors x {DIM} dims"
            )
        units = uflat.reshape(-1, DIM)
        pg = ks * (ks - 1) // 2  # pairs per bucket
        total = int(pg.sum())
        if total == 0:
            yield _empty()
            continue
        grp = np.repeat(np.arange(len(ks)), pg)
        # within-bucket pair rank r -> (i, j), i < j, via the triangular
        # decode r = j*(j-1)/2 + i (float sqrt + integer fix-up: exact
        # for any r an int64 pair count can reach)
        r = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(pg) - pg, pg)
        j = ((1.0 + np.sqrt(1.0 + 8.0 * r)) // 2).astype(np.int64)
        j[j * (j - 1) // 2 > r] -= 1
        j[(j + 1) * j // 2 <= r] += 1
        i = r - j * (j - 1) // 2
        base = np.concatenate(([0], np.cumsum(ks)))[:-1][grp]
        ia = base + i
        ib = base + j
        # strict ascending-d left fold from +0.0 (bit-identical to the
        # F.aggregate / DuckDB folds). Layout matters: gathering per-pair
        # row matrices (pairs x DIM) makes the d-loop a strided
        # DRAM-latency walk (~3.4 s/M pairs measured); transposing the
        # SMALL per-batch unit matrix once and gathering per-dimension
        # from its cache-resident rows is 3x faster (~1.1 s/M) with no
        # pairs x DIM allocation at all.
        UT = np.ascontiguousarray(units.T)  # (DIM, members) — L2-sized
        acc = np.zeros(total)
        for d in range(DIM):
            acc += UT[d][ia] * UT[d][ib]
        va = ids[ia]
        vb = ids[ib]
        lo = np.minimum(va, vb)
        hi = np.maximum(va, vb)
        keep = acc >= EMB_DEDUP_T
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(lo[keep], pa.int64()),
                pa.array(hi[keep], pa.int64()),
                pa.array(acc[keep], pa.float64()),
            ],
            names=["vec_a", "vec_b", "cosine"],
        )


def embedding_dedup_lsh(spark, sf):
    """Scale path for embedding near-dup: N_TABLES independent hyperplane
    hash tables (banding — recall survives plane growth), adaptive plane
    count (buckets ∝ corpus via the broadcast-COUNT integer ladder), exact
    unit-vector cosine on within-bucket pairs. Same threshold as the
    brute-force baseline, so results are its subset. Signatures come from
    the Arrow-batched numpy pass (`lsh_features`), proven bit-identical
    to the fold expressions in tests.

    r14 plan shape (§2.3/§8 — decide with small rows, move payloads
    once): features → posexplode into (table_id, bucket, vec_id, unit)
    postings → ONE hash exchange on (table_id, bucket) → collect_list
    posting lists → `_bucket_pair_cosine_fn` (pairs + cosine + threshold
    in-kernel) → dropDuplicates(pair) → global sort. This replaces the
    r13 candidate self-join + pair DISTINCT + two unit-attach joins +
    per-pair boundary transfer (~2.8 GB at sf1 → ~42 MB), and the
    feature pass now has exactly ONE consumer, so the r13 persist (and
    its second scan of the cached features) is gone. Known trade-off: a
    pathological hot bucket concentrates its k² pair work in one task —
    the same concentration the old broadcast-probe plan had — bounded by
    the adaptive plane ladder keeping expected bucket size ~TARGET_BUCKET."""
    emb = load(spark, sf, "embeddings")
    n_df = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    # spread an under-partitioned scan before the feature pass (r13):
    # small parquet inputs arrive as ONE split, which serialized the
    # Arrow pass (§2.5 input skew). Hash on vec_id, only when the scan
    # has fewer splits than cores — a 100 TB table already arrives with
    # thousands of splits and must NOT be coalesced to core count.
    # Corpus-size gate (parquet footer count, metadata-only): below
    # SPREAD_MIN_VECS the exchange costs more than the serial pass it
    # saves (measured +0.2 s on the 2k-vector sf0.1 fixture). r14
    # (ADVICE): 'no files matched' no longer masquerades as 'unknown
    # corpus size' — an empty glob leaves n_est None (spread allowed),
    # a real footer count of 0 gates the spread off.
    src = emb.select("vec_id", "embedding")
    par = spark.sparkContext.defaultParallelism
    n_est = None
    try:
        import glob as _glob

        import pyarrow.parquet as _pq

        files = _glob.glob(f"{sf}/embeddings.parquet") or _glob.glob(
            f"{sf}/embeddings.parquet/*.parquet"
        )
        if files:
            n_est = sum(_pq.ParquetFile(p).metadata.num_rows for p in files)
    except Exception:
        pass
    if (n_est is None or n_est >= SPREAD_MIN_VECS) and (
        src.rdd.getNumPartitions() < par
    ):
        src = src.repartition(par, "vec_id")
    feats = lsh_features(src)
    # one posexplode pass — NOT an N_TABLES-way union that would
    # re-evaluate the feature pass per table; the unit vector rides
    # along so the posting exchange is the ONLY payload movement
    buckets = (
        feats.crossJoin(F.broadcast(n_df))
        .withColumn("p", _n_planes_col(_m_col(F.col("n_vecs"))))
        .select(
            "vec_id",
            "unit",
            F.posexplode(
                F.array(
                    *[
                        F.col(f"bits{t}").substr(F.lit(1), F.col("p"))
                        for t in range(N_TABLES)
                    ]
                )
            ).alias("table_id", "bucket"),
        )
    )
    grouped = (
        buckets.groupBy("table_id", "bucket")
        .agg(F.collect_list(F.struct("vec_id", "unit")).alias("members"))
        .select("members")
    )
    pairs = grouped.mapInArrow(
        _bucket_pair_cosine_fn, "vec_a long, vec_b long, cosine double"
    )
    # every duplicate discovery of a pair carries the same cosine bits
    # (same kernel, same inputs), so the subset-keyed dropDuplicates is
    # deterministic in all three columns
    return pairs.dropDuplicates(["vec_a", "vec_b"]).orderBy("vec_a", "vec_b")


_LSH_BUCKET_COLS = ", ".join(
    f"substr({_sql_bits(t)}, 1, {_SQL_P}) AS bucket{t}" for t in range(N_TABLES)
)
_LSH_BUCKET_UNION = "\nUNION ALL\n".join(
    f"SELECT vec_id, {t} AS table_id, bucket{t} AS bucket FROM normed"
    for t in range(N_TABLES)
)

EMB_DEDUP_LSH_SQL = f"""
WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
pre AS (
  SELECT vec_id, embedding, sqrt({_sql_dot("embedding", "embedding")}) AS nrm,
         {_LSH_BUCKET_COLS}
  FROM embeddings, n
),
normed AS (SELECT vec_id, {_SQL_UNIT} AS unit, {", ".join(f"bucket{t}" for t in range(N_TABLES))} FROM pre),
buckets AS ({_LSH_BUCKET_UNION}),
cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b USING (table_id, bucket)
  WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, {_sql_unit_dot("ua.unit", "ub.unit")} AS cosine
FROM cands
JOIN normed ua ON ua.vec_id = vec_a
JOIN normed ub ON ub.vec_id = vec_b
WHERE {_sql_unit_dot("ua.unit", "ub.unit")} >= 0.45
ORDER BY vec_a, vec_b
"""



def semantic_vs_lexical_pairs(spark, sf):
    """Paraphrase detector: embedding near-dup pairs classified by whether
    the documents are ALSO lexical duplicates.

    Joins the LSH near-dup pairs (``embedding_dedup_lsh``, ids align with
    ``documents.doc_id``) to each side's normalized word-set fingerprint
    (the ``dedup_fingerprint_groups`` identity). ``lexical_dup = false``
    rows are the semantically-close-but-lexically-different pairs — the
    paraphrases that survive every hash-based dedup tier and only
    embedding similarity can catch.

    Scale shape: inherits the banded-LSH pair plan; the fingerprint join
    adds two narrow digest joins on doc id (no text shuffles)."""
    from dataset_dedupe_estimator_spark.queries.splits import _fp_col

    pairs = embedding_dedup_lsh(spark, sf)
    fp = load(spark, sf, "documents").select(
        "doc_id", _fp_col().alias("fp")
    )
    fa = fp.select(F.col("doc_id").alias("vec_a"), F.col("fp").alias("fp_a"))
    fb = fp.select(F.col("doc_id").alias("vec_b"), F.col("fp").alias("fp_b"))
    return (
        pairs.join(fa, "vec_a")
        .join(fb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "cosine",
            (F.col("fp_a") == F.col("fp_b")).alias("lexical_dup"),
        )
        .orderBy("vec_a", "vec_b")
    )


_FP_EXPR = "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"

SEMANTIC_VS_LEXICAL_SQL = f"""
WITH pairs AS (SELECT * FROM ({EMB_DEDUP_LSH_SQL})),
fp AS (SELECT doc_id, {_FP_EXPR} AS fp FROM documents)
SELECT p.vec_a, p.vec_b, p.cosine, (fa.fp = fb.fp) AS lexical_dup
FROM pairs p
JOIN fp fa ON fa.doc_id = p.vec_a
JOIN fp fb ON fb.doc_id = p.vec_b
ORDER BY vec_a, vec_b
"""


N_CELLS = 8


def ann_ivf_probe(spark, sf):
    """IVF-style ANN: partition the corpus into cells around seed vectors
    (deterministically the {N_CELLS} LOWEST vec_ids, selected by rank —
    TakeOrderedAndProject — so sparse or 1-based id spaces still yield
    exactly {N_CELLS} cells), then probe only the query's cell with
    exact cosine.

    The 100 TB shape: assignment is one broadcast of {N_CELLS} centroids +
    a narrow shuffle on cell id (persisted once); each query scans one
    cell (~1/{N_CELLS} of the corpus; real IVF uses trained centroids and
    nprobe>1 — same plan, more cells)."""
    emb = load(spark, sf, "embeddings")
    normed = emb.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    cents = normed.orderBy("vec_id").limit(N_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    sim = _dot(F.col("embedding"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cell_id"))
    assigned = (
        normed.crossJoin(F.broadcast(cents))
        .withColumn("csim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "embedding", "nrm", "cell_id")
    )
    q = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("cell_id").alias("qcell"),
    )
    cos = _dot(F.col("embedding"), F.col("qe")) / (F.col("nrm") * F.col("qn"))
    return (
        assigned.join(F.broadcast(q), assigned.cell_id == F.col("qcell"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "cell_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(5)
    )


ANN_IVF_SQL = f"""
WITH normed AS (
  SELECT vec_id, label, embedding,
         sqrt({_sql_dot("embedding", "embedding")}) AS nrm
  FROM embeddings
),
cents AS (
  SELECT cell_id, cemb, cnrm FROM (
    SELECT vec_id AS cell_id, embedding AS cemb, nrm AS cnrm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS rnk
    FROM normed)
  WHERE rnk <= {N_CELLS}
),
assigned AS (
  SELECT vec_id, label, embedding, nrm, cell_id
  FROM (
    SELECT n.*, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_sql_dot("n.embedding", "c.cemb")} / (n.nrm * c.cnrm) DESC,
                      c.cell_id) AS rn
    FROM normed n CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT embedding AS qe, nrm AS qn, cell_id AS qcell
      FROM assigned WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label, cell_id,
       {_sql_dot("embedding", "qe")} / (nrm * qn) AS cosine
FROM assigned, q
WHERE cell_id = qcell AND vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT 5
"""


def label_centroid_spread(spark, sf):
    """Per-label vector statistics via positional aggregation — integer
    counts + left-fold sums kept deterministic."""
    emb = load(spark, sf, "embeddings")
    first_component = F.col("embedding")[0].cast("double")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min(first_component).alias("min_c0"),
            F.max(first_component).alias("max_c0"),
        )
        .orderBy("label")
    )


LABEL_STATS_SQL = """
SELECT label, COUNT(*) AS n_vectors,
       MIN(CAST(embedding[1] AS DOUBLE)) AS min_c0,
       MAX(CAST(embedding[1] AS DOUBLE)) AS max_c0
FROM embeddings GROUP BY label ORDER BY label
"""


import os as _os
import tempfile as _tempfile

# deterministic (static oracle SQL must address it) but per-user — the
# same convention as queries/core_cdc._EXPORT_BASE
_IVF_EXPORT = _os.path.join(
    _tempfile.gettempdir(), f"dde_oracle_u{_os.getuid()}_ivf_cents"
)


def ann_ivf_trained(spark, sf):
    """Production IVF with the repo's own seeded deterministic Lloyd's
    (operators/ann.py ``train_lloyd``: xxhash64-seeded init, fixed
    iteration count, portable left-fold distance arithmetic — replaced
    MLlib KMeans in r13). Oracle-bearing via the export trick: the
    TRAINED centroids are exported to parquet and DuckDB re-derives,
    from those same literals, the per-vector cell assignment
    (squared-L2 argmin, ties to the lowest cell), the 2-probe cell
    choice (centroid cosine vs the query), and the in-cell exact
    cosine rerank — a wrong assignment, probe pick, or rerank ordering
    all hash-mismatch. Only centroid TRAINING stays Spark-only (the
    oracle consumes its output, as the chunk-table oracles consume
    chunk emission)."""
    import shutil

    from dataset_dedupe_estimator_spark.operators.ann import IvfIndex

    emb = load(spark, sf, "embeddings")
    idx = IvfIndex.train_lloyd(emb, k=N_CELLS, iters=3, seed=42)
    shutil.rmtree(_IVF_EXPORT, ignore_errors=True)
    spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(idx.centroids)],
        "cell int, cemb array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_IVF_EXPORT)
    cents = spark.read.parquet(_IVF_EXPORT)  # both engines read THIS
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"), _norm(F.col("embedding")).alias("qn")
    )
    csim = _dot(F.col("cemb"), F.col("qe")) / (
        F.sqrt(_dot(F.col("cemb"), F.col("cemb"))) * F.col("qn")
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cell", csim.alias("csim"))
        .orderBy(F.col("csim").desc(), "cell")
        .limit(2)
        .select("cell")
    )
    cos = _dot(F.col("embedding"), F.col("qe")) / (F.col("nrm") * F.col("qn"))
    return (
        idx.assigned.join(F.broadcast(probe), "cell")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "cell", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


ANN_IVF_TRAINED_SQL = f"""
WITH cents AS (
  SELECT cell, cemb FROM read_parquet('{_IVF_EXPORT}/*.parquet')
),
q AS (
  SELECT embedding AS qe,
         sqrt({_sql_dot("embedding", "embedding")}) AS qn
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
assigned AS (
  SELECT vec_id, embedding, nrm, cell FROM (
    SELECT e.vec_id, e.embedding,
           sqrt({_sql_dot("e.embedding", "e.embedding")}) AS nrm,
           c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ({_sql_dot("e.embedding", "e.embedding")}
                       - 2.0 * {_sql_dot("e.embedding", "c.cemb")}
                       + {_sql_dot("c.cemb", "c.cemb")}) ASC,
                      c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
probe AS (
  SELECT cell FROM cents CROSS JOIN q
  ORDER BY {_sql_dot("cemb", "qe")}
           / (sqrt({_sql_dot("cemb", "cemb")}) * qn) DESC,
           cell ASC
  LIMIT 2
)
SELECT a.vec_id, a.cell,
       {_sql_dot("a.embedding", "qe")} / (a.nrm * q.qn) AS cosine
FROM assigned a CROSS JOIN q
WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, a.vec_id
LIMIT 10
"""


PQ_M = 8  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 16  # codebook entries per subspace (seed rows, like ann_ivf_probe)


def _make_pq_fn(codebooks):
    """Arrow-batched PQ encoding against broadcast seed codebooks.

    Distances accumulate via np.cumsum (strict left-fold — same addition
    order as the SQL list_reduce), ties take the lowest centroid id
    (np.argmin first-min), and the per-vector error folds subspaces in
    fixed m order, so codes and errors match the oracle exactly."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(codebooks, dtype=np.float64)  # (M, K, SUB)

    def fn(it):
        for batch in it:
            idx = {n: i for i, n in enumerate(batch.schema.names)}
            vec_id = batch.column(idx["vec_id"])
            flat = batch.column(idx["embedding"]).flatten().to_numpy(
                zero_copy_only=False
            )
            e = flat.astype(np.float64).reshape(-1, DIM)
            nb = e.shape[0]
            codes = np.empty((nb, PQ_M), dtype=np.int64)
            err = np.zeros(nb, dtype=np.float64)
            for m in range(PQ_M):
                sub = e[:, m * PQ_SUB : (m + 1) * PQ_SUB]  # (nb, SUB)
                diff = sub[:, None, :] - C[m][None, :, :]  # (nb, K, SUB)
                d = np.cumsum(diff * diff, axis=2)[:, :, -1]  # left-fold sums
                codes[:, m] = np.argmin(d, axis=1)  # first-min tie-break
                err += d[np.arange(nb), codes[:, m]]
            code_str = ["-".join(str(c) for c in row) for row in codes]
            yield pa.RecordBatch.from_arrays(
                [
                    vec_id,
                    pa.array(code_str, pa.string()),
                    pa.array(err, pa.float64()),
                ],
                names=["vec_id", "pq_code", "recon_err"],
            )

    return fn


def pq_codes(spark, sf):
    """Product quantization: split each vector into {PQ_M} subspaces of
    {PQ_SUB} dims, encode each against a {PQ_K}-entry codebook (the
    subvectors of the first {PQ_K} vec_ids — deterministic seed rows, as in
    ann_ivf_probe; production would train them with KMeans per subspace).
    Output: compact code string + exact reconstruction error.

    The 100 TB story: codes are {PQ_M} small ints per vector (~99% memory
    reduction vs float64), codebooks broadcast, encoding is one
    Arrow-batched pass — this is what makes billion-vector rerank tables
    fit in memory."""
    emb = load(spark, sf, "embeddings")
    # rank-selected seed rows (the PQ_K lowest vec_ids) — robust to
    # sparse or 1-based id spaces, same convention as semdedup/ann_ivf
    seeds = emb.orderBy("vec_id").limit(PQ_K).select("embedding").collect()
    codebooks = [
        [
            [float(r.embedding[m * PQ_SUB + j]) for j in range(PQ_SUB)]
            for r in seeds
        ]
        for m in range(PQ_M)
    ]
    out = emb.select("vec_id", "embedding").mapInArrow(
        _make_pq_fn(codebooks), "vec_id long, pq_code string, recon_err double"
    )
    return out.select(
        "vec_id", "pq_code", F.round("recon_err", 6).alias("recon_err")
    ).orderBy("vec_id")


def _pq_sql() -> str:
    sub_dist = (
        "list_reduce(list_transform(generate_series(1, {sub}), "
        "i -> (CAST(e.embedding[{off} + i] AS DOUBLE) - CAST(c.embedding[{off} + i] AS DOUBLE)) "
        "* (CAST(e.embedding[{off} + i] AS DOUBLE) - CAST(c.embedding[{off} + i] AS DOUBLE))), "
        "(x, y) -> x + y)"
    )
    return f"""
WITH cents AS (
  -- cell = seed position (rank-1), matching the Spark side's argmin
  -- index into the rank-ordered codebook — NOT the raw vec_id, which
  -- only coincides when ids are contiguous from 0
  SELECT cell, embedding FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, embedding
    FROM embeddings)
  WHERE cell < {PQ_K}),
subdist AS (
  SELECT e.vec_id, m.m, c.cell,
         CASE m.m {" ".join(
             f"WHEN {m} THEN " + sub_dist.format(sub=PQ_SUB, off=m * PQ_SUB)
             for m in range(PQ_M)
         )} END AS d
  FROM embeddings e
  CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
  CROSS JOIN cents c
),
best AS (
  SELECT vec_id, m, cell, d
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rn
        FROM subdist)
  WHERE rn = 1
)
SELECT vec_id,
       string_agg(cell::VARCHAR, '-' ORDER BY m) AS pq_code,
       ROUND(list_reduce(list(d ORDER BY m), (x, y) -> x + y), 6) AS recon_err
FROM best GROUP BY vec_id ORDER BY vec_id
"""


IVFPQ_PROBE = 2  # coarse cells probed per query
IVFPQ_TOPK = 10
IVFPQ_RERANK = 50  # ADC shortlist size fed to the exact rerank (default path)


def _make_pq_code_fn(codebooks):
    """Arrow-batched PQ encoding emitting the raw per-subspace code array
    (for asymmetric-distance scoring) — same argmin/first-min/left-fold
    discipline as ``_make_pq_fn``."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(codebooks, dtype=np.float64)  # (M, K, SUB)

    def fn(it):
        for batch in it:
            idx = {n: i for i, n in enumerate(batch.schema.names)}
            vec_id = batch.column(idx["vec_id"])
            flat = batch.column(idx["embedding"]).flatten().to_numpy(
                zero_copy_only=False
            )
            e = flat.astype(np.float64).reshape(-1, DIM)
            nb = e.shape[0]
            codes = np.empty((nb, PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                sub = e[:, m * PQ_SUB : (m + 1) * PQ_SUB]
                diff = sub[:, None, :] - C[m][None, :, :]
                d = np.cumsum(diff * diff, axis=2)[:, :, -1]
                codes[:, m] = np.argmin(d, axis=1)
            yield pa.RecordBatch.from_arrays(
                [vec_id, pa.array([list(map(int, row)) for row in codes], pa.list_(pa.int64()))],
                names=["vec_id", "codes"],
            )

    return fn


def ivfpq_search(spark, sf):
    """IVF-PQ approximate nearest neighbor — the FAISS-style composition
    that serves billion-vector search: an IVF coarse quantizer prunes the
    corpus to {IVFPQ_PROBE} probed cells, then candidates are scored by
    PQ asymmetric distance (query vs each candidate's codebook cells —
    the candidate's float vector is never touched at query time).

    Both stages reuse the repo's deterministic seed conventions
    ({N_CELLS} rank-selected IVF centroids as in ``ann_ivf_probe``,
    {PQ_K}-entry per-subspace codebooks as in ``pq_codes``), so the whole
    pipeline carries a full DuckDB oracle. The ADC table ({PQ_M}x{PQ_K}
    doubles) is computed once from the query and broadcast as literals;
    per-candidate cost is {PQ_M} array lookups + a fixed-order sum.

    100 TB shape: cell assignment is persisted/partitioned once at build
    (here: inline, same plan); a query touches ~{IVFPQ_PROBE}/{N_CELLS}
    of the corpus, reads ONLY the {PQ_M}-byte code column (parquet column
    pruning — no vector I/O), and the top-k is a TakeOrderedAndProject."""
    emb = load(spark, sf, "embeddings")
    normed = emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    cents = normed.orderBy("vec_id").limit(N_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    sim = _dot(F.col("embedding"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cell_id"))
    assigned = (
        normed.crossJoin(F.broadcast(cents))
        .withColumn("csim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cell_id")
    )
    q = normed.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    qsim = _dot(F.col("cemb"), F.col("qe")) / (F.col("cnrm") * F.col("qn"))
    qcells = (
        cents.crossJoin(F.broadcast(q))
        .select("cell_id", qsim.alias("qsim"))
        .orderBy(F.col("qsim").desc(), F.col("cell_id"))
        .limit(IVFPQ_PROBE)
        .select("cell_id")
    )
    cand = assigned.join(F.broadcast(qcells), "cell_id").filter(
        F.col("vec_id") != QUERY_VEC_ID
    )
    # driver-side constants: PQ codebooks (PQ_K seed rows) + the query
    # vector -> the ADC lookup table, left-folded in j order to match
    # the oracle's list_reduce
    seeds = emb.orderBy("vec_id").limit(PQ_K).select("embedding").collect()
    codebooks = [
        [[float(r.embedding[m * PQ_SUB + j]) for j in range(PQ_SUB)] for r in seeds]
        for m in range(PQ_M)
    ]
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == QUERY_VEC_ID).head().embedding]
    table = []
    for m in range(PQ_M):
        row = []
        for c in codebooks[m]:
            acc = 0.0
            for j in range(PQ_SUB):
                d = qvec[m * PQ_SUB + j] - c[j]
                acc += d * d
            row.append(acc)
        table.append(row)
    codes = cand.select("vec_id", "embedding").mapInArrow(
        _make_pq_code_fn(codebooks), "vec_id long, codes array<long>"
    )
    adc = None
    for m in range(PQ_M):
        term = F.element_at(
            F.array(*[F.lit(v) for v in table[m]]),
            (F.col("codes")[m] + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    # shortlist + exact rerank — the DEFAULT search path (r5 curve:
    # rerank@200 lifts recall@10 0.14 -> 0.39 at nprobe=8 for negligible
    # cost): ADC ranks {IVFPQ_RERANK} candidates from codes alone, then
    # ONLY those rows' float vectors are read back (broadcast join of a
    # constant-sized shortlist) and exact cosine picks the top-k.
    shortlist = (
        codes.select("vec_id", F.round(adc, 6).alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(IVFPQ_RERANK)
    )
    qcos = _dot(F.col("embedding"), F.col("qe")) / (F.col("nrm") * F.col("qn"))
    return (
        normed.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "adc", F.round(qcos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(IVFPQ_TOPK)
    )


def _ivfpq_sql() -> str:
    sub_dist = (
        "list_reduce(list_transform(generate_series(1, {sub}), "
        "i -> (CAST({a}[{off} + i] AS DOUBLE) - CAST({b}[{off} + i] AS DOUBLE)) "
        "* (CAST({a}[{off} + i] AS DOUBLE) - CAST({b}[{off} + i] AS DOUBLE))), "
        "(x, y) -> x + y)"
    )

    def case_over_m(a: str, b: str) -> str:
        return "CASE m.m " + " ".join(
            f"WHEN {m} THEN "
            + sub_dist.format(sub=PQ_SUB, off=m * PQ_SUB, a=a, b=b)
            for m in range(PQ_M)
        ) + " END"

    return f"""
WITH normed AS (
  SELECT vec_id, embedding,
         sqrt({_sql_dot("embedding", "embedding")}) AS nrm
  FROM embeddings
),
cents AS (
  SELECT cell_id, cemb, cnrm FROM (
    SELECT vec_id AS cell_id, embedding AS cemb, nrm AS cnrm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS rnk
    FROM normed)
  WHERE rnk <= {N_CELLS}
),
assigned AS (
  SELECT vec_id, embedding, cell_id
  FROM (
    SELECT n.*, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_sql_dot("n.embedding", "c.cemb")} / (n.nrm * c.cnrm) DESC,
                      c.cell_id) AS rn
    FROM normed n CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT embedding AS qe, nrm AS qn FROM normed WHERE vec_id = {QUERY_VEC_ID}),
qcells AS (
  SELECT cell_id FROM (
    SELECT c.cell_id,
           ROW_NUMBER() OVER (
             ORDER BY {_sql_dot("c.cemb", "qe")} / (c.cnrm * qn) DESC, c.cell_id) AS rn
    FROM cents c, q
  ) WHERE rn <= {IVFPQ_PROBE}
),
cand AS (
  SELECT a.vec_id, a.embedding FROM assigned a
  JOIN qcells u USING (cell_id)
  WHERE a.vec_id != {QUERY_VEC_ID}
),
pqc AS (
  SELECT cell, embedding FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, embedding
    FROM embeddings)
  WHERE cell < {PQ_K}
),
ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
best AS (
  SELECT vec_id, m, cell FROM (
    SELECT e.vec_id, m.m, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, m.m
                              ORDER BY {case_over_m("e.embedding", "c.embedding")}, c.cell) AS rn
    FROM cand e CROSS JOIN ms m CROSS JOIN pqc c
  ) WHERE rn = 1
),
qd AS (
  SELECT m.m, c.cell, {case_over_m("q.qe", "c.embedding")} AS d
  FROM pqc c CROSS JOIN ms m CROSS JOIN q
),
shortlist AS (
  -- ADC shortlist on the ROUNDED score (rounding is bit-identical
  -- cross-engine, so pool membership and ties agree exactly)
  SELECT b.vec_id,
         ROUND(list_reduce(list(qd.d ORDER BY b.m), (x, y) -> x + y), 6) AS adc
  FROM best b JOIN qd ON qd.m = b.m AND qd.cell = b.cell
  GROUP BY b.vec_id
  ORDER BY adc, vec_id
  LIMIT {IVFPQ_RERANK}
)
SELECT s.vec_id, s.adc,
       ROUND({_sql_dot("n.embedding", "qe")} / (n.nrm * qn), 6) AS cosine
FROM shortlist s JOIN normed n ON n.vec_id = s.vec_id CROSS JOIN q
ORDER BY cosine DESC, s.vec_id
LIMIT {IVFPQ_TOPK}
"""


SEM_TARGET_CLUSTER = 32  # aim for ~32 vectors per cluster at any corpus size
SEM_MAX_K = 4096  # broadcast cap; beyond ~10^6 centroids switch to trained
#                   IVF (operators/ann.py) with hierarchical assignment
SEM_THETA = 0.40  # within-cluster cosine above this ⇒ semantic duplicate


def _sem_k_col(n_vecs: Column) -> Column:
    """K = clamp(ceil(n_vecs / TARGET), 4, MAX_K) — integer-only, so Spark
    and DuckDB can never disagree; cluster size stays ~TARGET as the
    corpus grows (the round-1 fixed-bucket-LSH lesson applied here)."""
    k = ((n_vecs + F.lit(SEM_TARGET_CLUSTER - 1)) / SEM_TARGET_CLUSTER).cast("long")
    return F.least(F.greatest(k, F.lit(4)), F.lit(SEM_MAX_K))


_SEM_K_SQL = (
    f"LEAST(GREATEST((n_vecs + {SEM_TARGET_CLUSTER - 1}) // {SEM_TARGET_CLUSTER}, 4), "
    f"{SEM_MAX_K})"
)


def semdedup_clusters(spark, sf):
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023, public): cluster
    the embedding space, then drop near-duplicates *within* clusters only —
    the move that makes embedding dedup sub-quadratic at corpus scale.

    Clusters are cells around K deterministic seed vectors (the K lowest
    vec_ids, selected by rank so sparse or 1-based id spaces still yield
    exactly K seeds) so the result is oracle-checkable; K adapts to corpus size
    inside the plan (see _sem_k_col) so per-cluster pair work stays O(1)
    as the corpus scales. Production swaps in trained centroids
    (operators/ann.py) with the identical plan shape. Drop rule: a vector
    is removed when an earlier (lower vec_id) vector in the same cluster
    has unit-dot cosine ≥ SEM_THETA — greedy keep-first, the same
    determinism convention as dedup_keep_first.

    100 TB shape: one Arrow pass normalizes vectors, assignment is a
    broadcast of K centroids (never a shuffle of the corpus against
    itself), the pair scan is per-cluster quadratic with cluster size held
    at ~SEM_TARGET_CLUSTER, and the output is a K-row summary."""
    emb = load(spark, sf, "embeddings")
    normed = unit_features(emb)
    n_row = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    # Seeds = the K lowest vec_ids BY RANK, not `vec_id < K` (which assumes
    # contiguous 0-based ids). orderBy+limit plans as TakeOrderedAndProject
    # (per-partition top-K, then merge), so the bounded SEM_MAX_K head —
    # never the corpus — is the only thing the single-partition row_number
    # window ever sees. The TakeOrdered runs on the RAW embeddings and the
    # Arrow normalization pass runs on the 4096-row head only (row-wise
    # map commutes with the vec_id sort/limit) — normalizing before
    # limiting would run the Python pass over the whole corpus a second
    # time for the seed scan.
    head = unit_features(emb.orderBy("vec_id").limit(SEM_MAX_K)).withColumn(
        "rnk", F.row_number().over(Window.orderBy("vec_id"))
    )
    cents = (
        head.crossJoin(F.broadcast(n_row))
        .filter(F.col("rnk") <= _sem_k_col(F.col("n_vecs")))
        .select(F.col("vec_id").alias("cell_id"), F.col("unit").alias("cunit"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cell_id"))
    assigned = (
        normed.crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "unit", "cell_id", _dot(F.col("unit"), F.col("cunit")).alias("csim")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "unit", "cell_id")
    )
    a = assigned.select("cell_id", F.col("vec_id").alias("vec_a"), F.col("unit").alias("ua"))
    b = assigned.select("cell_id", F.col("vec_id").alias("vec_b"), F.col("unit").alias("ub"))
    dropped = (
        a.join(b, "cell_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(_dot(F.col("ua"), F.col("ub")) >= SEM_THETA)
        .select("cell_id", "vec_b")
        .distinct()
    )
    return (
        assigned.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(
            dropped.groupBy("cell_id").agg(F.count(F.lit(1)).alias("nd")),
            "cell_id",
            "left",
        )
        .select(
            "cell_id",
            "n_vecs",
            F.coalesce(F.col("nd"), F.lit(0)).alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce(F.col("nd"), F.lit(0))).alias("n_kept"),
        )
        .orderBy("cell_id")
    )


SEMDEDUP_SQL = f"""
WITH {EMB_NORMED_CTE},
nn AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
cents AS (
  SELECT cell_id, cunit FROM (
    SELECT vec_id AS cell_id, unit AS cunit,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS rnk
    FROM normed) s, nn
  WHERE rnk <= {_SEM_K_SQL}
),
assigned AS (
  SELECT vec_id, unit, cell_id
  FROM (SELECT n.vec_id, n.unit, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                 ORDER BY {_sql_unit_dot("n.unit", "c.cunit")} DESC, c.cell_id) AS rn
        FROM normed n CROSS JOIN cents c)
  WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT a.cell_id, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {_sql_unit_dot("a.unit", "b.unit")} >= {SEM_THETA}
)
SELECT g.cell_id, g.n_vecs,
       CAST(COALESCE(d.nd, 0) AS BIGINT) AS n_dropped,
       CAST(g.n_vecs - COALESCE(d.nd, 0) AS BIGINT) AS n_kept
FROM (SELECT cell_id, COUNT(*) AS n_vecs FROM assigned GROUP BY cell_id) g
LEFT JOIN (SELECT cell_id, COUNT(*) AS nd FROM dropped GROUP BY cell_id) d
  USING (cell_id)
ORDER BY cell_id
"""



RECALL_K = 5  # top-k depth audited
RECALL_QMOD = 97  # probe queries: vec_id % RECALL_QMOD == 0 (~1% sample)


def ann_recall_at_k(spark, sf):
    """Recall@k / cost curve of the LSH index against exact search,
    across a MULTI-PROBE chain (round-4 verdict: the single-bucket
    operating point's honest ~0.1 recall on this near-uniform corpus is
    correctly measured but a poor default — show the knob).

    For a deterministic ~1% probe sample (``vec_id % RECALL_QMOD == 0``)
    each probe visits a strictly growing set of buckets — a subset
    CHAIN, so recall is non-decreasing down the output:

      1_bucket             — the probe's own bucket in table 0
      2_plus_hamming1      — plus every bucket at Hamming distance 1
                             (flip each of the p prefix bits; the
                             standard multi-probe trick: the nearest
                             misses live just across one hyperplane)
      3_plus_second_table  — plus the probe's bucket in an independent
                             second hash table

    Output: one row per setting with the average candidate count (the
    COST axis) and overall recall@{RECALL_K} vs the exact top-k (the
    QUALITY axis). Ground truth is O(probes x corpus) by construction,
    so the audit holds probe count at a sampled constant; at 100 TB you
    run this diagnostic on a corpus sample, never the full corpus.
    """
    emb = load(spark, sf, "embeddings")
    n_df = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    base = (
        emb.crossJoin(F.broadcast(n_df))
        .withColumn("p", _n_planes_col(_m_col(F.col("n_vecs"))))
        .withColumn(
            "b0", _bits_col(F.col("embedding"), 0).substr(F.lit(1), F.col("p"))
        )
        .withColumn(
            "b1", _bits_col(F.col("embedding"), 1).substr(F.lit(1), F.col("p"))
        )
    )
    corpus = base.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("table_id"), F.col("b0").alias("bucket")),
                F.struct(F.lit(1).alias("table_id"), F.col("b1").alias("bucket")),
            )
        ).alias("tb"),
    ).select("vec_id", "embedding", F.col("tb.table_id"), F.col("tb.bucket"))
    probes_base = base.filter((F.col("vec_id") % RECALL_QMOD) == 0)
    nq_df = probes_base.agg(F.count(F.lit(1)).alias("n_q"))

    def _flip(b, i):
        return F.concat(
            b.substr(F.lit(1), i - F.lit(1)),
            F.when(b.substr(i, F.lit(1)) == "1", F.lit("0")).otherwise(F.lit("1")),
            b.substr(i + F.lit(1), F.col("p") - i),
        )

    pb_arr = F.concat(
        F.array(
            F.struct(
                F.lit(1).alias("rank"),
                F.lit(0).alias("table_id"),
                F.col("b0").alias("bucket"),
            )
        ),
        F.transform(
            F.sequence(F.lit(1), F.col("p")),
            lambda i: F.struct(
                F.lit(2).alias("rank"),
                F.lit(0).alias("table_id"),
                _flip(F.col("b0"), i).alias("bucket"),
            ),
        ),
        F.array(
            F.struct(
                F.lit(3).alias("rank"),
                F.lit(1).alias("table_id"),
                F.col("b1").alias("bucket"),
            )
        ),
    )
    probe_buckets = probes_base.select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        F.explode(pb_arr).alias("pb"),
    ).select(
        "q_vec_id", "q_embedding", F.col("pb.rank"), F.col("pb.table_id"), F.col("pb.bucket")
    )
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    settings_df = spark.range(1, 4).select(F.col("id").cast("int").alias("setting"))
    cand = (
        corpus.join(F.broadcast(probe_buckets), ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .crossJoin(F.broadcast(settings_df))
        .filter(F.col("rank") <= F.col("setting"))
        .select("setting", "q_vec_id", "vec_id", cos.alias("cosine"))
        .distinct()
    )
    cand_stats = cand.groupBy("setting").agg(F.count(F.lit(1)).alias("n_cand"))
    rank_w = Window.partitionBy("setting", "q_vec_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    approx = (
        cand.withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") <= RECALL_K)
        .select("setting", "q_vec_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    exact_w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    exact = (
        emb.crossJoin(
            F.broadcast(
                probes_base.select(
                    F.col("vec_id").alias("q_vec_id"),
                    F.col("embedding").alias("q_embedding"),
                )
            )
        )
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(exact_w))
        .filter(F.col("rk") <= RECALL_K)
        .select("q_vec_id", "vec_id")
    )
    label = (
        F.when(F.col("setting") == 1, "1_bucket")
        .when(F.col("setting") == 2, "2_plus_hamming1")
        .otherwise("3_plus_second_table")
    )
    return (
        exact.crossJoin(F.broadcast(settings_df))
        .join(approx, ["setting", "q_vec_id", "vec_id"], "left")
        .groupBy("setting")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
        .join(F.broadcast(cand_stats), "setting")
        .crossJoin(F.broadcast(nq_df))
        .select(
            label.alias("probe_setting"),
            F.col("n_q").alias("n_probe_queries"),
            F.round(F.col("n_cand") / F.col("n_q"), 2).alias("avg_candidates"),
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
        )
        .orderBy("probe_setting")
    )


_RECALL_COS = (
    f"{_sql_dot('embedding', 'q_embedding')}"
    f" / (sqrt({_sql_dot('embedding', 'embedding')})"
    f" * sqrt({_sql_dot('q_embedding', 'q_embedding')}))"
)

ANN_RECALL_SQL = f"""
WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
base AS (
  SELECT vec_id, embedding,
         substr({_sql_bits(0)}, 1, {_SQL_P}) AS b0,
         substr({_sql_bits(1)}, 1, {_SQL_P}) AS b1,
         {_SQL_P} AS p
  FROM embeddings, n
),
corpus AS (
  SELECT vec_id, embedding, 0 AS table_id, b0 AS bucket FROM base
  UNION ALL
  SELECT vec_id, embedding, 1 AS table_id, b1 AS bucket FROM base
),
probes AS (
  SELECT vec_id AS q_vec_id, embedding AS q_embedding, b0, b1, p
  FROM base WHERE vec_id % {RECALL_QMOD} = 0
),
nq AS (SELECT COUNT(*) AS n_q FROM probes),
probe_buckets AS (
  SELECT q_vec_id, q_embedding, 1 AS rank, 0 AS table_id, b0 AS bucket FROM probes
  UNION ALL
  SELECT q_vec_id, q_embedding, 2 AS rank, 0 AS table_id,
         substr(b0, 1, g.i - 1)
         || (CASE WHEN substr(b0, g.i, 1) = '1' THEN '0' ELSE '1' END)
         || substr(b0, g.i + 1) AS bucket
  FROM probes, UNNEST(generate_series(1, p)) AS g(i)
  UNION ALL
  SELECT q_vec_id, q_embedding, 3 AS rank, 1 AS table_id, b1 AS bucket FROM probes
),
settings AS (SELECT * FROM (VALUES (1), (2), (3)) s(setting)),
cand AS (
  SELECT DISTINCT s.setting, pb.q_vec_id, c.vec_id, {_RECALL_COS} AS cosine
  FROM probe_buckets pb
  JOIN corpus c ON c.table_id = pb.table_id AND c.bucket = pb.bucket
  JOIN settings s ON pb.rank <= s.setting
  WHERE c.vec_id != pb.q_vec_id
),
cand_stats AS (SELECT setting, COUNT(*) AS n_cand FROM cand GROUP BY setting),
approx AS (
  SELECT setting, q_vec_id, vec_id FROM (
    SELECT setting, q_vec_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY setting, q_vec_id
                              ORDER BY cosine DESC, vec_id) AS rk
    FROM cand
  ) WHERE rk <= {RECALL_K}
),
exact AS (
  SELECT q_vec_id, vec_id FROM (
    SELECT p.q_vec_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.q_vec_id ORDER BY {_RECALL_COS} DESC, e.vec_id) AS rk
    FROM (SELECT vec_id, embedding FROM embeddings) e, probes p
    WHERE e.vec_id != p.q_vec_id
  ) WHERE rk <= {RECALL_K}
)
SELECT CASE s.setting WHEN 1 THEN '1_bucket' WHEN 2 THEN '2_plus_hamming1'
            ELSE '3_plus_second_table' END AS probe_setting,
       (SELECT n_q FROM nq) AS n_probe_queries,
       ROUND(cs.n_cand * 1.0 / (SELECT n_q FROM nq), 2) AS avg_candidates,
       COUNT(*) AS n_exact,
       CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS recall
FROM settings s
CROSS JOIN exact e
LEFT JOIN approx a
  ON a.setting = s.setting AND a.q_vec_id = e.q_vec_id AND a.vec_id = e.vec_id
JOIN cand_stats cs ON cs.setting = s.setting
GROUP BY s.setting, cs.n_cand
ORDER BY probe_setting
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 keyword leg + cosine vector leg, fused by
# Reciprocal Rank Fusion (RRF, Cormack et al.): score(d) = Σ 1/(K + rank_leg).
# The modern RAG retrieval default — scores from incomparable scales fuse
# via ranks only. r6 gate candidate (attestation budget for r5 is full);
# oracle-checked today by tests/test_hybrid_search.py through the same
# canon/compare machinery as tools/check_oracles.py.
#
# Scale shape: each leg is a TakeOrdered top-POOL (no global sort — the
# lexical leg's BM25 is the zero-shuffle bm25_frame plan; the vector leg is
# a broadcast-query scan). The rank windows and the fusion full-outer join
# run over <= 2*POOL rows (domain-bounded, broadcastable); everything
# corpus-sized stays windowless.

RRF_K = 60  # standard RRF damping constant
RRF_POOL = 50  # per-leg candidate pool feeding the fusion
RRF_TOP = 15
RRF_QUERY_ID = QUERY_VEC_ID  # doc_id == vec_id in the test corpus


def hybrid_rrf_frame(docs, emb, terms, query_vec_id=RRF_QUERY_ID,
                     k_rrf=RRF_K, pool=RRF_POOL, top=RRF_TOP):
    """RRF fusion of bm25_frame(docs, terms) and brute-force cosine
    neighbours of ``query_vec_id``. The query document itself (doc_id ==
    vec_id == query_vec_id) is excluded from both legs. Returns
    (doc_id, lex_rank, sem_rank, rrf) — null leg rank = absent from that
    leg's pool (contributes 0 to the fusion sum, per RRF)."""
    from dataset_dedupe_estimator_spark.queries.text_analysis import bm25_frame

    lex = bm25_frame(
        docs.filter(F.col("doc_id") != query_vec_id), terms, top=pool
    )
    # rank windows run over <= pool rows (post-TakeOrdered), not the corpus
    w_lex = Window.orderBy(F.col("score").desc(), "doc_id")
    lex = lex.select("doc_id", F.row_number().over(w_lex).alias("lex_rank"))

    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_embedding")
    )
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    sem = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(pool)
    )
    w_sem = Window.orderBy(F.col("cosine").desc(), "doc_id")
    sem = sem.select("doc_id", F.row_number().over(w_sem).alias("sem_rank"))

    # rank 0 = absent from that leg's pool (kept non-null so the rank
    # columns stay integer-typed end to end); fixed two-term sum of exact
    # reciprocals — no float order-dependence
    def contrib(rank_col):
        return F.when(
            F.col(rank_col) > 0, F.lit(1.0) / (F.lit(k_rrf) + F.col(rank_col))
        ).otherwise(F.lit(0.0))

    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("long").alias("sem_rank"),
        )
    )
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round(contrib("lex_rank") + contrib("sem_rank"), 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(top)
    )


def hybrid_search_rrf(spark, sf):
    """Hybrid BM25 + vector search fused by reciprocal rank (see
    hybrid_rrf_frame). Uses the benchmark BM25 terms and query vector
    {RRF_QUERY_ID}; doc_id and vec_id are 1:1 in the corpus."""
    from dataset_dedupe_estimator_spark.queries.text_analysis import BM25_QUERY

    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    return hybrid_rrf_frame(docs, emb, BM25_QUERY)


def _hybrid_sql() -> str:
    from dataset_dedupe_estimator_spark.queries.text_analysis import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
    )

    n = len(BM25_QUERY)
    tf_exprs = ",\n         ".join(
        f"len(t) - len(list_filter(t, x -> x != '{q}')) AS tf{i}"
        for i, q in enumerate(BM25_QUERY)
    )
    df_exprs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(n)
    )
    comps = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN "
        f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {BM25_K1 + 1.0})"
        f" / (tf{i} + {BM25_K1} * ((1.0 - {BM25_B}) + {BM25_B} * dl / avgdl))"
        f" ELSE 0.0 END)"
        for i in range(n)
    )
    any_tf = " OR ".join(f"tf{i} > 0" for i in range(n))
    return f"""
WITH base AS (
  SELECT doc_id, len(t) AS dl,
         {tf_exprs}
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE doc_id != {RRF_QUERY_ID})
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl, {df_exprs}
  FROM base
),
lex AS (
  -- rank on the ROUND(.,4) score: bm25_frame emits the rounded score, and
  -- rounding is bit-identical cross-engine, so pool membership and rank
  -- ties agree exactly
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
  FROM (
    SELECT doc_id, ROUND({comps}, 4) AS score
    FROM base CROSS JOIN stats WHERE {any_tf}
    ORDER BY score DESC, doc_id LIMIT {RRF_POOL}
  )
),
qv AS (SELECT embedding AS q_embedding FROM embeddings
       WHERE vec_id = {RRF_QUERY_ID}),
sem AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank
  FROM (
    SELECT vec_id AS doc_id,
           {_sql_dot("embedding", "q_embedding")}
           / (sqrt({_sql_dot("embedding", "embedding")})
              * sqrt({_sql_dot("q_embedding", "q_embedding")})) AS cosine
    FROM embeddings, qv WHERE vec_id != {RRF_QUERY_ID}
    ORDER BY cosine DESC, doc_id LIMIT {RRF_POOL}
  )
)
SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
       CAST(COALESCE(sem_rank, 0) AS BIGINT) AS sem_rank,
       ROUND(COALESCE(1.0 / ({RRF_K} + lex_rank), 0.0)
             + COALESCE(1.0 / ({RRF_K} + sem_rank), 0.0), 6) AS rrf
FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf DESC, doc_id
LIMIT {RRF_TOP}
"""


QUERIES = {
    "knn_brute_force": Q(knn_brute_force, KNN_SQL, headline=True),
    "semdedup_clusters": Q(semdedup_clusters, SEMDEDUP_SQL),
    "ann_ivf_trained": Q(ann_ivf_trained, ANN_IVF_TRAINED_SQL),
    "pq_codes": Q(pq_codes, _pq_sql()),
    "ann_lsh_bucketed": Q(ann_lsh_bucketed, ANN_LSH_SQL),
    "ann_recall_at_k": Q(ann_recall_at_k, ANN_RECALL_SQL),
    "ann_ivf_probe": Q(ann_ivf_probe, ANN_IVF_SQL),
    "ivfpq_search": Q(ivfpq_search, _ivfpq_sql()),
    "embedding_dedup_pairs": Q(embedding_dedup_pairs, EMB_DEDUP_SQL),
    "embedding_dedup_lsh": Q(embedding_dedup_lsh, EMB_DEDUP_LSH_SQL, headline=True),
    "semantic_vs_lexical_pairs": Q(semantic_vs_lexical_pairs, SEMANTIC_VS_LEXICAL_SQL),
    "label_centroid_spread": Q(label_centroid_spread, LABEL_STATS_SQL),
    "hybrid_rrf": Q(hybrid_search_rrf, _hybrid_sql()),
}
