"""The Arrow-batched LSH feature pass must be bit-identical to the
declarative fold expressions (which the DuckDB oracle mirrors). The norm,
and so ``unit``, uses the same float64 products in the same left-to-right
addition order (np.cumsum). The sign bits come from a BLAS GEMM whose
near-zero and non-finite entries are recomputed with the same strict
left fold, so they match the fold's bits."""

from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.queries.similarity import (
    MAX_PLANES,
    N_TABLES,
    _bits_col,
    _norm,
    _unit_col,
    lsh_features,
)


def test_lsh_features_match_fold_expressions(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    expr_df = emb.select(
        "vec_id",
        "embedding",
        _norm(F.col("embedding")).alias("nrm"),
        *[_bits_col(F.col("embedding"), t).alias(f"bits{t}") for t in range(N_TABLES)],
    ).select(
        "vec_id",
        _unit_col().alias("unit"),
        *[f"bits{t}" for t in range(N_TABLES)],
    )
    expected = {r["vec_id"]: r for r in expr_df.collect()}
    actual = {r["vec_id"]: r for r in lsh_features(emb).collect()}
    assert expected.keys() == actual.keys() and expected
    for vid, exp in expected.items():
        act = actual[vid]
        for t in range(N_TABLES):
            assert exp[f"bits{t}"] == act[f"bits{t}"], f"vec {vid} table {t}"
            assert len(act[f"bits{t}"]) == MAX_PLANES
        # exact float equality, not approx — the contract is bit-identity
        assert list(exp["unit"]) == list(act["unit"]), f"vec {vid} unit"


def test_guarded_gemm_sign_matches_fold():
    """r14: the feature kernel computes plane dots with a BLAS GEMM plus
    a sign guard (near-zero entries recomputed with the exact left fold).
    Adversarial vectors whose fold against a plane is EXACTLY zero (and
    denormal-scaled copies) must land in the guard band, take the
    fold's value, and produce bit strings identical to the verbatim
    strict-left-fold loop."""
    import numpy as np
    import pyarrow as pa

    from dataset_dedupe_estimator_spark.queries.similarity import (
        DIM,
        _PLANES,
        _lsh_features_fn,
    )

    PF = np.asarray(_PLANES, dtype=np.float64).reshape(
        N_TABLES * MAX_PLANES, DIM
    )
    p0 = PF[0]
    # fold of v against p0 is x0 + x1 with x1 == -x0: exactly 0.0 -> '1'
    v = np.zeros(DIM)
    v[0], v[1] = p0[1], -p0[0]
    rng = np.random.default_rng(4242)
    e = np.vstack([v, v * 1e-300, p0, rng.standard_normal((13, DIM))])
    n = e.shape[0]

    # the adversarial rows must genuinely sit inside the guard band, so
    # this test keeps exercising the fallback if the tolerance changes
    tol = 4 * DIM * np.finfo(np.float64).eps
    gemm00 = float(e[0] @ p0)
    amax00 = float(np.abs(e[0]) @ np.abs(p0))
    assert abs(gemm00) <= tol * amax00

    # reference: the verbatim strict ascending-d left fold from +0.0
    ref = np.zeros((n, N_TABLES * MAX_PLANES))
    for d in range(DIM):
        ref += e[:, d, None] * PF[None, :, d]
    assert ref[0, 0] == 0.0  # the planted exact-zero fold

    off = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.ListArray.from_arrays(off, pa.array(e.ravel())),
        ],
        names=["vec_id", "embedding"],
    )
    (out,) = list(_lsh_features_fn(iter([batch])))
    want_chars = np.where(ref >= 0.0, "1", "0").reshape(n, N_TABLES, MAX_PLANES)
    for t in range(N_TABLES):
        got = out.column(out.schema.names.index(f"bits{t}")).to_pylist()
        want = ["".join(want_chars[i, t, :]) for i in range(n)]
        assert got == want, f"table {t}"
    assert out.column(1).to_pylist()  # unit column present and non-empty


def test_guarded_gemm_non_finite_dots_take_the_fold():
    """Rows whose products are finite but whose dots overflow: a blocked
    GEMM can sum a +inf partial with a -inf one into NaN where the strict
    left fold stays at +-inf. NaN fails the guard's ``<=`` test, so
    non-finite dots must take the fold as well."""
    import warnings

    import numpy as np
    import pyarrow as pa

    from dataset_dedupe_estimator_spark.queries.similarity import (
        DIM,
        _PLANES,
        _lsh_features_fn,
    )

    PF = np.asarray(_PLANES, dtype=np.float64).reshape(
        N_TABLES * MAX_PLANES, DIM
    )
    p0 = PF[0]
    rows = []
    for split in (4, 8, 16, 24, 32, 40, 48, 56, 60):
        # each product against plane 0 is +-2e307; the first `split`
        # products share a sign, so partial sums overflow either way
        sign = np.where(np.arange(DIM) < split, 1.0, -1.0) * np.sign(p0)
        v = sign * 2e307 / np.maximum(np.abs(p0), 1.0)
        rows += [v, v[::-1].copy(), -v]
    e = np.array(rows)
    n = e.shape[0]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        ref = np.zeros((n, N_TABLES * MAX_PLANES))
        for d in range(DIM):
            ref += e[:, d, None] * PF[None, :, d]
        assert np.isinf(ref).any()
        off = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(np.arange(n, dtype=np.int64)),
                pa.ListArray.from_arrays(off, pa.array(e.ravel())),
            ],
            names=["vec_id", "embedding"],
        )
        (out,) = list(_lsh_features_fn(iter([batch])))
    want_chars = np.where(ref >= 0.0, "1", "0").reshape(n, N_TABLES, MAX_PLANES)
    for t in range(N_TABLES):
        got = out.column(out.schema.names.index(f"bits{t}")).to_pylist()
        want = ["".join(want_chars[i, t, :]) for i in range(n)]
        assert got == want, f"table {t}"


def test_plane_ladder_engages_past_2pow12(spark):
    """r12 scale-ceiling lift: MAX_PLANES=16. The integer CASE ladder
    must pick p>12 once the corpus passes 2^12*TARGET_BUCKET vectors
    (the old config wall), p=16 at/beyond 2^16 buckets, and keep every
    p<=12 choice identical to the r11 ladder."""
    import math

    from dataset_dedupe_estimator_spark.queries.similarity import (
        TARGET_BUCKET,
        _m_col,
        _n_planes_col,
    )

    assert MAX_PLANES == 16
    cases = [1, 8, 100, 1000, 10_000, 8 * (1 << 12), 8 * (1 << 12) + 1,
             40_000, 8 * (1 << 14), 8 * (1 << 16), 8 * (1 << 16) + 1,
             10_000_000]
    df = spark.createDataFrame([(n,) for n in cases], "n_vecs long").select(
        "n_vecs", _n_planes_col(_m_col(F.col("n_vecs"))).alias("p")
    )
    got = {r["n_vecs"]: r["p"] for r in df.collect()}
    for n in cases:
        m = -(-n // TARGET_BUCKET)
        want = min(max(math.ceil(math.log2(m)) if m > 1 else 4, 4), MAX_PLANES)
        assert got[n] == want, (n, got[n], want)
    assert got[8 * (1 << 12) + 1] == 13  # past the old wall: p>12 engages
    assert got[10_000_000] == 16  # clamp at the new ceiling


def test_r11_plane_prefix_unchanged():
    """Planes 0-11 must be bit-identical to the r11 generation, so every
    bucket prefix at p<=12 (all current corpora) is unchanged by the
    ceiling lift."""
    import numpy as np

    from dataset_dedupe_estimator_spark.queries.similarity import (
        DIM,
        _PLANES,
    )

    old = np.round(
        np.random.default_rng(20260813).standard_normal((N_TABLES, 12, DIM)),
        4,
    ).tolist()
    for t in range(N_TABLES):
        assert _PLANES[t][:12] == old[t]
        assert len(_PLANES[t]) == MAX_PLANES


def test_big_corpus_bucketing_recall_at_p13(spark):
    """End-to-end at n past the old wall: 40k synthetic vectors force
    p=13, the bucket keys really are 13-char prefixes, and exact
    duplicates (cosine 1.0) collide in EVERY table — the banding
    plumbing works with the extension planes engaged."""
    import numpy as np

    from dataset_dedupe_estimator_spark.queries.similarity import (
        DIM,
        _m_col,
        _n_planes_col,
        lsh_features,
    )

    rng = np.random.default_rng(99)
    n = 40_000
    base = rng.standard_normal((n, DIM))
    base[n - 100:] = base[: 100]  # 100 planted exact duplicates
    rows = [(i, base[i].tolist()) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    feats = lsh_features(emb)
    bucketed = (
        feats.crossJoin(
            F.broadcast(
                emb.agg(F.count(F.lit(1)).alias("n_vecs")).select(
                    _n_planes_col(_m_col(F.col("n_vecs"))).alias("p")
                )
            )
        )
        .select(
            "vec_id",
            "p",
            *[
                F.col(f"bits{t}").substr(F.lit(1), F.col("p")).alias(f"b{t}")
                for t in range(N_TABLES)
            ],
        )
    )
    sample = bucketed.limit(5).collect()
    assert all(r["p"] == 13 and len(r["b0"]) == 13 for r in sample)
    dup = {
        r["vec_id"]: r
        for r in bucketed.filter(
            (F.col("vec_id") < 100) | (F.col("vec_id") >= n - 100)
        ).collect()
    }
    for i in range(100):
        a, b = dup[i], dup[n - 100 + i]
        for t in range(N_TABLES):
            assert a[f"b{t}"] == b[f"b{t}"], (i, t)


def test_pair_cosine_kernel_matches_fold_expression(spark, sf_dir):
    """r13: the Arrow-batched rerank kernel (_pair_cosine_fn) must emit
    EXACTLY the pairs the declarative aggregate(zip_with) fold + filter
    emitted, with bit-identical cosines (the fold accumulates from +0.0
    in ascending element order — same as the kernel's dim loop)."""
    from pyspark.sql import functions as F

    from dataset_dedupe_estimator_spark.queries.similarity import (
        EMB_DEDUP_T,
        _dot,
        _pair_cosine_fn,
        unit_features,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    units = unit_features(emb)
    ua = units.select(F.col("vec_id").alias("vec_a"), F.col("unit").alias("ua"))
    ub = units.select(F.col("vec_id").alias("vec_b"), F.col("unit").alias("ub"))
    # all ordered pairs over a small slice: includes pairs on BOTH sides
    # of the threshold so the kernel's filter is genuinely exercised
    pairs = (
        ua.crossJoin(ub)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(F.col("vec_a") < 40)
    )
    declarative = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in pairs.select(
            "vec_a", "vec_b", _dot(F.col("ua"), F.col("ub")).alias("cosine")
        )
        .filter(F.col("cosine") >= EMB_DEDUP_T)
        .collect()
    }
    kernel = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in pairs.select("vec_a", "vec_b", "ua", "ub")
        .mapInArrow(_pair_cosine_fn, "vec_a long, vec_b long, cosine double")
        .collect()
    }
    assert declarative.keys() == kernel.keys() and declarative
    import struct

    for k, v in declarative.items():
        # exact bit equality, not approx — the oracle hashes these values
        assert struct.pack("<d", v) == struct.pack("<d", kernel[k]), k


def test_pair_cosine_kernel_empty_batch():
    """Zero surviving pairs (and an all-filtered batch) must yield an
    empty, well-typed RecordBatch stream, not an error."""
    import numpy as np
    import pyarrow as pa

    from dataset_dedupe_estimator_spark.queries.similarity import (
        DIM,
        _pair_cosine_fn,
    )

    n = 4
    # orthogonal-ish unit vectors with negative dots: all below threshold
    ua = np.zeros((n, DIM)); ua[:, 0] = 1.0
    ub = np.zeros((n, DIM)); ub[:, 0] = -1.0
    off = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.array(np.arange(n, dtype=np.int64) + 10),
            pa.ListArray.from_arrays(off, pa.array(ua.ravel())),
            pa.ListArray.from_arrays(off, pa.array(ub.ravel())),
        ],
        names=["vec_a", "vec_b", "ua", "ub"],
    )
    out = list(_pair_cosine_fn(iter([batch])))
    assert len(out) == 1 and out[0].num_rows == 0
    assert out[0].schema.names == ["vec_a", "vec_b", "cosine"]


def test_bucket_pair_kernel_matches_pairwise_kernel(spark, sf_dir):
    """r14: the bucket-grouped kernel (_bucket_pair_cosine_fn) must emit,
    per posting list, EXACTLY the within-bucket pairs the pairwise
    reference kernel (_pair_cosine_fn) emits over the same memberships,
    with bit-identical cosines (both are the strict ascending-d left
    fold from +0.0)."""
    from pyspark.sql import functions as F

    from dataset_dedupe_estimator_spark.queries.similarity import (
        _bucket_pair_cosine_fn,
        _pair_cosine_fn,
        unit_features,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = unit_features(emb).filter(F.col("vec_id") < 60)
    # duplicate every vector under a shifted id: each bucket then holds
    # identical twins (cosine exactly 1.0 — above threshold) alongside
    # unrelated members (below threshold), so the kernel's filter is
    # exercised in both directions; mod buckets give several sizes,
    # including singletons (zero pairs)
    units = base.union(base.withColumn("vec_id", F.col("vec_id") + 1000))
    buckets = units.withColumn("bucket", (F.col("vec_id") % 1000) % 13)
    grouped = buckets.groupBy("bucket").agg(
        F.collect_list(F.struct("vec_id", "unit")).alias("members")
    ).select("members")
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in grouped.mapInArrow(
            _bucket_pair_cosine_fn, "vec_a long, vec_b long, cosine double"
        ).collect()
    }
    ua = buckets.select("bucket", F.col("vec_id").alias("vec_a"), F.col("unit").alias("ua"))
    ub = buckets.select("bucket", F.col("vec_id").alias("vec_b"), F.col("unit").alias("ub"))
    want = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in ua.join(ub, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "ua", "ub")
        .mapInArrow(_pair_cosine_fn, "vec_a long, vec_b long, cosine double")
        .collect()
    }
    assert got.keys() == want.keys() and got
    import struct

    for k, v in want.items():
        assert struct.pack("<d", v) == struct.pack("<d", got[k]), k


def test_bucket_pair_kernel_empty_and_singleton():
    """All-singleton posting lists (zero pairs) and an empty batch must
    yield empty, well-typed RecordBatches, not errors."""
    import numpy as np
    import pyarrow as pa

    from dataset_dedupe_estimator_spark.queries.similarity import (
        DIM,
        _bucket_pair_cosine_fn,
    )

    n = 3
    unit = np.zeros((n, DIM)); unit[:, 0] = 1.0
    uoff = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    members_flat = pa.StructArray.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.ListArray.from_arrays(uoff, pa.array(unit.ravel())),
        ],
        names=["vec_id", "unit"],
    )
    # three singleton buckets -> zero pairs
    moff = pa.array(np.array([0, 1, 2, 3], dtype=np.int32))
    batch = pa.RecordBatch.from_arrays(
        [pa.ListArray.from_arrays(moff, members_flat)], names=["members"]
    )
    out = list(_bucket_pair_cosine_fn(iter([batch])))
    assert len(out) == 1 and out[0].num_rows == 0
    assert out[0].schema.names == ["vec_a", "vec_b", "cosine"]
