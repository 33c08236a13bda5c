"""Trained-IVF index: assignment covers the corpus, probing returns
descending cosine, and recall@10 against brute force is reasonable for
nprobe=half the cells."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.ann import IvfIndex


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def index(emb):
    return IvfIndex.train(emb, k=8, seed=42)


def test_assignment_covers_corpus(index, emb):
    assert index.assigned.count() == emb.count()
    cells = [r.cell for r in index.assigned.select("cell").distinct().collect()]
    assert set(cells) <= set(range(8))
    assert index.centroids.shape == (8, 64)


def test_search_shape_and_order(index, emb):
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    hits = index.search(list(qvec), topk=10, nprobe=2).collect()
    assert len(hits) == 10
    sims = [r.cosine for r in hits]
    assert sims == sorted(sims, reverse=True)
    assert 0 in [r.vec_id for r in hits]  # the query vector itself tops the list


def test_recall_vs_brute_force(index, emb):
    rows = emb.orderBy("vec_id").collect()
    M = np.array([np.array(r.embedding, dtype=np.float64) for r in rows])
    ids = np.array([r.vec_id for r in rows])
    q = M[0]
    sims = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    true_top = set(ids[np.argsort(-sims)[:10]].tolist())
    got = {r.vec_id for r in index.search(list(rows[0].embedding), topk=10, nprobe=4).collect()}
    # nprobe=half the cells: expect to recover most of the true top-10
    assert len(true_top & got) >= 5


@pytest.mark.slow
def test_semdedup_partitions_corpus(spark):
    from dataset_dedupe_estimator_spark.queries.similarity import (
        SEM_MAX_K,
        SEM_TARGET_CLUSTER,
        semdedup_clusters,
    )

    sf = "/root/testdata/sf0.001"
    rows = semdedup_clusters(spark, sf).collect()
    n_vecs = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    # every vector lands in exactly one cluster; kept + dropped partition it
    assert sum(r.n_vecs for r in rows) == n_vecs
    assert all(r.n_kept + r.n_dropped == r.n_vecs for r in rows)
    # K adapts to corpus size: ceil(n / TARGET) clamped to [4, MAX_K]
    k = min(max(-(-n_vecs // SEM_TARGET_CLUSTER), 4), SEM_MAX_K)
    assert len(rows) == k
    assert all(0 <= r.cell_id < k for r in rows)


def test_semdedup_sparse_vec_ids(spark, tmp_path):
    """Rank-selected seeds: sparse / non-zero-based vec_ids still yield
    exactly K clusters (round-2 advice: `vec_id < K` assumed contiguity)."""
    from dataset_dedupe_estimator_spark.queries.similarity import (
        SEM_MAX_K,
        SEM_TARGET_CLUSTER,
        semdedup_clusters,
    )

    src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sparse = src.withColumn("vec_id", F.col("vec_id") * 10 + 7)
    sfdir = str(tmp_path / "sparse_sf")
    sparse.write.parquet(f"{sfdir}/embeddings.parquet")
    rows = semdedup_clusters(spark, sfdir).collect()
    n_vecs = src.count()
    k = min(max(-(-n_vecs // SEM_TARGET_CLUSTER), 4), SEM_MAX_K)
    assert len(rows) == k
    # cell ids are the K lowest (sparse) vec_ids, not 0..K-1
    assert sorted(r.cell_id for r in rows) == [i * 10 + 7 for i in range(k)]
    assert sum(r.n_vecs for r in rows) == n_vecs


def test_brute_force_guard_refuses_large_corpus(spark, monkeypatch):
    from dataset_dedupe_estimator_spark.queries import similarity

    monkeypatch.setattr(similarity, "BRUTE_FORCE_MAX_VECS", 10)
    with pytest.raises(ValueError, match="embedding_dedup_lsh"):
        similarity.embedding_dedup_pairs(spark, "/root/testdata/sf0.001")


# ---- PqIndex (persistent IVF-PQ) ----------------------------------------


@pytest.fixture(scope="module")
def pq_index(spark, emb, tmp_path_factory):
    from dataset_dedupe_estimator_spark.operators.ann import PqIndex

    d = tmp_path_factory.mktemp("pq") / "idx"
    return PqIndex.build(emb, d, k=8, ks=32, train_sample=512, seed=42)


def test_pq_index_roundtrip_and_self_hit(spark, emb, pq_index):
    from dataset_dedupe_estimator_spark.operators.ann import PqIndex

    loaded = PqIndex.load(pq_index.index_dir)
    assert np.allclose(loaded.centroids, pq_index.centroids)
    assert np.allclose(loaded.codebooks, pq_index.codebooks)
    qrow = emb.filter(F.col("vec_id") == 7).head()
    hits = loaded.search(spark, [float(v) for v in qrow.embedding], topk=10, nprobe=8).collect()
    # probing every cell, the query's own vector must rank first: its ADC
    # is its PQ reconstruction error, minimal for its own codes
    assert hits[0].vec_id == 7
    assert hits[0].adc == min(h.adc for h in hits)


def test_pq_index_partition_pruning(spark, emb, pq_index):
    """The scan must read ONLY the probed cells' partitions — the pruning
    that makes a 1B-vector index a small-fraction scan."""
    qrow = emb.filter(F.col("vec_id") == 7).head()
    df = pq_index.search(spark, [float(v) for v in qrow.embedding], topk=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # the pruned scan covers a strict subset of cells
    cells = {r.cell for r in df.collect()}
    all_cells = {
        r.cell for r in pq_index.codes_df(spark).select("cell").distinct().collect()
    }
    assert len(cells) <= 2 < len(all_cells)


def test_pq_index_codes_only_storage(spark, pq_index):
    codes = pq_index.codes_df(spark)
    assert set(codes.columns) == {"vec_id", "cell", "codes"}  # no vectors
    row = codes.head()
    assert len(row.codes) == 8 and all(0 <= c < 32 for c in row.codes)


def test_pq_index_build_is_locked(spark, emb, tmp_path):
    import os
    import socket

    from dataset_dedupe_estimator_spark.operators.ann import PqIndex
    from dataset_dedupe_estimator_spark.plans._index_lock import ConcurrentWriterError

    d = tmp_path / "idx"
    d.mkdir()
    (d / "_writer.lock").write_text(f"pid={os.getpid()}\nhost={socket.gethostname()}\n")
    with pytest.raises(ConcurrentWriterError):
        PqIndex.build(emb, d, k=4, ks=8, train_sample=64)


def test_pq_index_incremental_add(spark, emb, tmp_path):
    """Admission encodes against FROZEN codebooks, appends O(batch), is
    idempotent, and admitted vectors are searchable."""
    from dataset_dedupe_estimator_spark.operators.ann import PqIndex, pq_index_add

    d = tmp_path / "idx"
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)
    idx = PqIndex.build(old, d, k=8, ks=32, train_sample=512, seed=42)
    st = pq_index_add(spark, d, new)
    assert st["admitted"] == new.count()
    assert st["total"] == emb.count()
    # idempotent re-admission
    st2 = pq_index_add(spark, d, new)
    assert st2["admitted"] == 0
    # an admitted vector is found as its own nearest code row
    qrow = new.head()
    hits = idx.search(spark, [float(v) for v in qrow.embedding], topk=5, nprobe=8).collect()
    assert hits[0].vec_id == qrow.vec_id


def test_pq_index_compact_preserves_store_and_search(spark, emb, tmp_path):
    """Compaction must preserve both the stored rows AND the search
    results — a byte-identical store proves the former, a collected
    top-k comparison proves admission-then-compact never changes what a
    query returns."""
    from dataset_dedupe_estimator_spark.operators.ann import (
        PqIndex,
        pq_index_add,
        pq_index_compact,
    )

    d = tmp_path / "idx"
    idx = PqIndex.build(emb.filter(F.col("vec_id") % 2 == 0), d, k=4, ks=16, train_sample=256)
    pq_index_add(spark, d, emb.filter(F.col("vec_id") % 2 == 1))
    before = idx.codes_df(spark).orderBy("vec_id").collect()
    qrows = emb.orderBy("vec_id").limit(3).collect()
    hits_before = [
        [
            (h.vec_id, h.adc)
            for h in idx.search(spark, [float(v) for v in q.embedding], topk=5, nprobe=4).collect()
        ]
        for q in qrows
    ]
    st = pq_index_compact(spark, d)
    assert st["rows"] == len(before)
    assert st["files_after"] <= st["files_before"]
    after = idx.codes_df(spark).orderBy("vec_id").collect()
    assert [(r.vec_id, r.cell, r.codes) for r in before] == [
        (r.vec_id, r.cell, r.codes) for r in after
    ]
    hits_after = [
        [
            (h.vec_id, h.adc)
            for h in idx.search(spark, [float(v) for v in q.embedding], topk=5, nprobe=4).collect()
        ]
        for q in qrows
    ]
    assert hits_before == hits_after


def test_pq_index_add_empty_batch_is_a_noop(spark, emb, tmp_path):
    """Re-admitting only known vectors must not create an empty
    generation (which a reader could not even schema-infer)."""
    from dataset_dedupe_estimator_spark.operators.ann import (
        PQ_STORE,
        PqIndex,
        pq_index_add,
    )

    d = tmp_path / "idx"
    PqIndex.build(emb, d, k=4, ks=16, train_sample=256)
    gens_before = PQ_STORE.load(d)["generations"]
    st = pq_index_add(spark, d, emb)
    assert st["admitted"] == 0 and st["total"] == emb.count()
    assert PQ_STORE.load(d)["generations"] == gens_before


def test_pq_index_rerank_default_path(spark, emb, pq_index):
    """With the source table at hand, search shortlists by ADC and
    exact-reranks — recall vs brute-force cosine must be at least the
    ADC-only mode's, and full-probe + full-shortlist rerank must equal
    brute force exactly (the shortlist then contains every candidate)."""
    import numpy as np

    from dataset_dedupe_estimator_spark.functions.vectors import cosine, norm

    qrow = emb.filter(F.col("vec_id") == 7).head()
    qvec = [float(v) for v in qrow.embedding]
    n = emb.count()

    hits = pq_index.search(
        spark, qvec, topk=10, nprobe=8, emb=emb, rerank=int(n)
    ).collect()
    assert [c for c in ("vec_id", "cell", "adc", "cosine")] == list(hits[0].asDict())
    # reranked order is by exact cosine, descending
    assert all(a.cosine >= b.cosine for a, b in zip(hits, hits[1:]))
    assert hits[0].vec_id == 7  # self is the exact-cosine top hit

    qcol = F.array(*[F.lit(v) for v in qvec])
    brute = (
        emb.select("vec_id", cosine(F.col("embedding"), qcol, norm(F.col("embedding"))).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(10)
        .collect()
    )
    assert [h.vec_id for h in hits] == [b.vec_id for b in brute]
    for h, b in zip(hits, brute):
        assert abs(h.cosine - b.c) < 1e-9

    # recall of the default reranked path >= code-only mode at the same
    # nprobe/shortlist budget
    gt = {b.vec_id for b in brute}
    adc_only = {
        h.vec_id
        for h in pq_index.search(spark, qvec, topk=10, nprobe=8).collect()
    }
    rr = {
        h.vec_id
        for h in pq_index.search(
            spark, qvec, topk=10, nprobe=8, emb=emb
        ).collect()
    }
    assert len(rr & gt) >= len(adc_only & gt)


@pytest.mark.slow
def test_pq_search_batch_equals_per_query(spark, emb, pq_index):
    """Batch ANN: one job serves many query vectors; per-query rows
    identical to the single-query path in both ADC-only and reranked
    modes; oversized batches refuse."""
    import pytest as _pt

    from dataset_dedupe_estimator_spark.operators import ann as A

    qrows = emb.orderBy("vec_id").limit(5).collect()
    queries = spark.createDataFrame(
        [(r.vec_id, list(r.embedding)) for r in qrows],
        "q_id long, embedding array<float>",
    )
    # ADC-only mode
    got = pq_index.search_batch(spark, queries, topk=5, nprobe=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append((r.vec_id, round(r.adc, 9)))
    for r in qrows:
        want = [
            (h.vec_id, round(h.adc, 9))
            for h in pq_index.search(
                spark, [float(v) for v in r.embedding], topk=5, nprobe=4
            ).collect()
        ]
        assert by_q[r.vec_id] == want, r.vec_id
    # reranked default mode
    got_rr = pq_index.search_batch(
        spark, queries, topk=5, nprobe=4, emb=emb, rerank=50
    ).collect()
    by_q_rr = {}
    for r in got_rr:
        by_q_rr.setdefault(r.q_id, []).append((r.vec_id, round(r.cosine, 9)))
    for r in qrows:
        want = [
            (h.vec_id, round(h.cosine, 9))
            for h in pq_index.search(
                spark,
                [float(v) for v in r.embedding],
                topk=5,
                nprobe=4,
                emb=emb,
                rerank=50,
            ).collect()
        ]
        assert by_q_rr[r.vec_id] == want, r.vec_id
    # STRING query ids work (positional indirection; ids of any type)
    squeries = spark.createDataFrame(
        [(f"probe-{r.vec_id}", list(r.embedding)) for r in qrows[:2]],
        "q_id string, embedding array<float>",
    )
    sgot = pq_index.search_batch(spark, squeries, topk=3, nprobe=4).collect()
    sby = {}
    for r in sgot:
        sby.setdefault(r.q_id, []).append(r.vec_id)
    for r in qrows[:2]:
        want = [
            h.vec_id
            for h in pq_index.search(
                spark, [float(v) for v in r.embedding], topk=3, nprobe=4
            ).collect()
        ]
        assert sby[f"probe-{r.vec_id}"] == want
    # bound enforced
    big = spark.range(A.PQ_MAX_QUERY_BATCH + 1).select(
        F.col("id").alias("q_id"),
        F.array(*[F.lit(0.0)] * 4).alias("embedding"),
    )
    with _pt.raises(ValueError, match="per call"):
        pq_index.search_batch(spark, big)


def test_pq_code_dup_groups_finds_planted_duplicates(spark, emb, tmp_path):
    """Exact-duplicate vectors admitted under new ids quantize to the
    same (cell, codes) and come back as one group with the smallest id
    as keeper — embedding near-dup membership read from codes alone."""
    from dataset_dedupe_estimator_spark.operators.ann import (
        PqIndex,
        pq_code_dup_groups,
        pq_index_add,
    )

    d = tmp_path / "idx"
    PqIndex.build(emb, d, k=8, ks=32, train_sample=512, seed=42)
    base = emb.count()
    # plant: copies of three existing vectors under fresh ids
    copies = (
        emb.filter(F.col("vec_id").isin([3, 7, 11]))
        .select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    )
    pq_index_add(spark, d, copies)
    members = pq_code_dup_groups(spark, d).collect()
    by_keeper = {}
    for r in members:
        by_keeper.setdefault(r.keeper_vec_id, set()).add(r.vec_id)
    for orig in (3, 7, 11):
        grp = by_keeper.get(orig) or next(
            (g for g in by_keeper.values() if orig in g), None
        )
        assert grp is not None and {orig, orig + 100_000} <= grp
    # every group is self-consistent: keeper is its own smallest member
    for keeper, grp in by_keeper.items():
        assert keeper == min(grp)
        assert len(grp) >= 2
    assert base  # fixture sanity


def test_pq_encoding_residual_default_and_plain_legacy(spark, emb, tmp_path):
    """r7 residual encoding: new builds stamp encoding=residual in the
    manifest and quantize v - centroid[cell]; encoding="plain" keeps
    the pre-r7 behavior, and a manifest WITHOUT the key (a pre-r7
    index) loads as plain — the two encodings produce different codes
    for the same corpus but both self-retrieve exactly."""
    import json
    from pathlib import Path

    from dataset_dedupe_estimator_spark.operators.ann import PqIndex

    res_dir, plain_dir = str(tmp_path / "res"), str(tmp_path / "plain")
    PqIndex.build(emb, res_dir, k=8, m=8, ks=16, seed=3)
    PqIndex.build(emb, plain_dir, k=8, m=8, ks=16, seed=3, encoding="plain")
    assert json.loads(
        (Path(res_dir) / PqIndex.MANIFEST).read_text()
    )["encoding"] == "residual"
    r = PqIndex.load(res_dir)
    p = PqIndex.load(plain_dir)
    assert r.encoding == "residual" and p.encoding == "plain"
    # same corpus, different code spaces
    rc = {t.vec_id: tuple(t.codes) for t in r.codes_df(spark).collect()}
    pc = {t.vec_id: tuple(t.codes) for t in p.codes_df(spark).collect()}
    assert rc.keys() == pc.keys() and rc != pc
    # both encodings put the query vector itself at rank 1 (rerank path)
    probe = emb.orderBy("vec_id").limit(1).head()
    for ix in (r, p):
        top = ix.search(
            spark, [float(v) for v in probe.embedding], topk=3, nprobe=8,
            emb=emb,
        ).head()
        assert top.vec_id == probe.vec_id
    # legacy manifest (no encoding key) reads as plain
    mf_path = Path(plain_dir) / PqIndex.MANIFEST
    mf = json.loads(mf_path.read_text())
    del mf["encoding"]
    mf_path.write_text(json.dumps(mf))
    legacy = PqIndex.load(plain_dir)
    assert legacy.encoding == "plain"
    codes_again = {
        t.vec_id: tuple(t.codes) for t in legacy.codes_df(spark).collect()
    }
    assert codes_again == pc


def test_train_lloyd_assignment_and_exact_probe(spark, emb):
    """r13 deterministic Lloyd's (no MLlib): every vector gets exactly
    one in-range cell, and probing ALL cells degenerates to exact
    brute-force top-k (the IVF invariant)."""
    idx = IvfIndex.train_lloyd(emb, k=8, iters=2, seed=42)
    n = emb.count()
    assert idx.assigned.count() == n
    assert idx.assigned.select("vec_id").distinct().count() == n
    cells = {r.cell for r in idx.assigned.select("cell").distinct().collect()}
    assert cells <= set(range(8))
    assert idx.centroids.shape == (8, 64)
    rows = emb.orderBy("vec_id").limit(1).collect()
    hits = idx.search(list(rows[0].embedding), topk=10, nprobe=8).collect()
    M_rows = emb.orderBy("vec_id").collect()
    M = np.array([np.array(r.embedding, dtype=np.float64) for r in M_rows])
    ids = np.array([r.vec_id for r in M_rows])
    q = M[ids.tolist().index(rows[0].vec_id)]
    sims = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    true_top = set(ids[np.argsort(-sims)[:10]].tolist())
    assert {r.vec_id for r in hits} == true_top  # all-cell probe == exact


def test_lloyd_kernel_matches_declarative_assign(spark, emb):
    """r14: the Arrow assignment kernel must reproduce, vector for
    vector, the declarative crossJoin + left-fold-d2 + row_number
    assignment it replaced (ties to the lowest cell), and its nrm must
    be bit-identical to functions.vectors.norm."""
    import struct

    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dataset_dedupe_estimator_spark.functions.vectors import dot, norm
    from dataset_dedupe_estimator_spark.operators.ann import (
        _make_lloyd_assign_fn,
    )

    vecs = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    k, seed = 8, 42
    init = vecs.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), "vec_id").limit(k).collect()
    C = np.array([r["embedding"] for r in init], dtype=np.float64)
    dim = C.shape[1]

    cents = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(C)],
        "cell int, cemb array<double>",
    )
    d2 = (
        dot(F.col("embedding"), F.col("embedding"))
        - 2.0 * dot(F.col("embedding"), F.col("cemb"))
        + dot(F.col("cemb"), F.col("cemb"))
    )
    w = Window.partitionBy("vec_id").orderBy(d2.asc(), F.col("cell").asc())
    want = {
        r["vec_id"]: r["cell"]
        for r in vecs.crossJoin(F.broadcast(cents))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cell")
        .collect()
    }
    got_rows = vecs.mapInArrow(
        _make_lloyd_assign_fn(C, dim, with_nrm=True),
        "vec_id long, embedding array<double>, nrm double, cell int",
    ).select("vec_id", "nrm", "cell").collect()
    got = {r["vec_id"]: r["cell"] for r in got_rows}
    assert got == want and got
    nrm_want = {
        r["vec_id"]: r["nrm"]
        for r in vecs.select("vec_id", norm(F.col("embedding")).alias("nrm")).collect()
    }
    for r in got_rows:
        assert struct.pack("<d", r["nrm"]) == struct.pack(
            "<d", nrm_want[r["vec_id"]]
        ), r["vec_id"]
