"""Persistent MinHash-LSH document index (plans/lsh_index.py):
incremental admission must be provably equivalent to single-shot
banding, idempotent on re-admission, and crash-safe around the
generation-write / manifest-commit window."""

import json

import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.plans.lsh_index import (
    admit_docs,
    build_lsh_index,
    index_stats,
)
from dataset_dedupe_estimator_spark.queries.dedupe_text import (
    _minhash_candidate_pairs,
)
from dataset_dedupe_estimator_spark.queries.base import load

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load(spark, SF, "documents").select("doc_id", "text")


def _full_pairs(spark):
    return {
        (r.doc_a, r.doc_b) for r in _minhash_candidate_pairs(spark, SF).collect()
    }


def test_incremental_equals_single_shot(spark, tmp_path):
    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 1), idx)
    c2, r2 = admit_docs(spark, docs.filter(F.col("doc_id") % 3 == 2), idx)
    got2 = {(r.doc_a, r.doc_b) for r in c2.collect()}
    c0, r0 = admit_docs(spark, docs.filter(F.col("doc_id") % 3 == 0), idx)
    got0 = {(r.doc_a, r.doc_b) for r in c0.collect()}

    full = _full_pairs(spark)
    # at admission 2's time the corpus is mod-1 + mod-2 only: pairs with
    # a mod-0 partner surface later, at admission 0
    want2 = {
        p
        for p in full
        if (p[0] % 3 == 2 or p[1] % 3 == 2)
        and p[0] % 3 != 0
        and p[1] % 3 != 0
    }
    # by admission 0's time, mod-1 and mod-2 docs are both history
    want0 = {
        p
        for p in full
        if (p[0] % 3 == 0 or p[1] % 3 == 0)
    }
    assert got2 == want2
    assert got0 == want0
    assert r2["candidate_pairs"] == len(want2)
    assert r0["generation"] == 2


def test_readmission_is_idempotent(spark, tmp_path):
    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") < 100), idx)
    before = index_stats(spark, idx)
    cands, rep = admit_docs(spark, docs.filter(F.col("doc_id") < 100), idx)
    assert rep["docs"] == 0 and rep["candidate_pairs"] == 0
    assert cands.count() == 0
    after = index_stats(spark, idx)
    assert after["band_rows"] == before["band_rows"]
    assert after["generations"] == before["generations"] + 1


def test_mismatched_signature_refused(spark, tmp_path):
    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") < 50), idx)
    meta = json.load(open(idx / "_lsh_meta.json"))
    meta["signature"]["n_bands"] = 99
    json.dump(meta, open(idx / "_lsh_meta.json", "w"))
    with pytest.raises(ValueError, match="incomparable"):
        admit_docs(spark, docs, idx)
    with pytest.raises(ValueError, match="incomparable"):
        index_stats(spark, idx)


def test_build_refuses_existing(spark, tmp_path):
    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.limit(10), idx)
    with pytest.raises(FileExistsError):
        build_lsh_index(spark, docs, idx)


def test_streaming_admission(spark, tmp_path):
    """availableNow streaming admission: each drop of parquet files
    becomes one generation; restarts never re-admit; the pairs feed
    accumulates the same candidates the batch path would find."""
    from dataset_dedupe_estimator_spark.streaming.incremental import (
        admit_docs_stream,
    )

    docs = _docs(spark)
    idx, inbox = tmp_path / "lsh", tmp_path / "inbox"
    ckpt, pairs = tmp_path / "ckpt", tmp_path / "pairs"
    inbox.mkdir()
    build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 1), idx)

    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(
        str(inbox / "drop-a.parquet")
    )
    reps = admit_docs_stream(spark, str(inbox), str(idx), str(ckpt), str(pairs))
    assert [r["generation"] for r in reps] == [1]

    # nothing new pending: a re-run admits nothing (checkpoint replay)
    assert admit_docs_stream(spark, str(inbox), str(idx), str(ckpt), str(pairs)) == []

    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(
        str(inbox / "drop-b.parquet")
    )
    reps = admit_docs_stream(spark, str(inbox), str(idx), str(ckpt), str(pairs))
    assert [r["generation"] for r in reps] == [2]

    got = {
        (r.doc_a, r.doc_b) for r in spark.read.parquet(str(pairs)).collect()
    }
    full = _full_pairs(spark)
    want2 = {
        p
        for p in full
        if (p[0] % 3 == 2 or p[1] % 3 == 2) and p[0] % 3 != 0 and p[1] % 3 != 0
    }
    want0 = {p for p in full if p[0] % 3 == 0 or p[1] % 3 == 0}
    assert got == want2 | want0
    assert index_stats(spark, idx)["docs"] == docs.count()


def test_compaction_preserves_index(spark, tmp_path):
    """Compaction merges live generations, admissions keep working, and
    both crash windows (orphan pre-commit, superseded dirs post-commit)
    are survivable."""
    from dataset_dedupe_estimator_spark.plans.lsh_index import compact_lsh_index

    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 1), idx)
    admit_docs(spark, docs.filter(F.col("doc_id") % 3 == 2), idx)
    before = index_stats(spark, idx)

    # crash window 1: a pre-commit orphan at the compaction's target gen
    orphan = idx / "gen-00002.parquet"
    docs.limit(2).selectExpr(
        "doc_id", "0 as band_id", "'junk' as band_key"
    ).write.parquet(str(orphan))
    st = compact_lsh_index(spark, idx)
    assert st["merged_generations"] == 2
    after = index_stats(spark, idx)
    assert after["docs"] == before["docs"]
    assert after["band_rows"] == before["band_rows"]
    # superseded dirs are gone; only the compacted generation remains
    assert [p.name for p in sorted(idx.glob("gen-*.parquet"))] == [
        "gen-00002.parquet"
    ]

    # crash window 2: a stale superseded dir reappearing is skipped
    docs.limit(2).selectExpr(
        "doc_id", "0 as band_id", "'junk' as band_key"
    ).write.parquet(str(idx / "gen-00000.parquet"))
    assert index_stats(spark, idx)["band_rows"] == before["band_rows"]

    # admission after compaction: finds the remaining pairs exactly
    cands, rep = admit_docs(spark, docs.filter(F.col("doc_id") % 3 == 0), idx)
    got = {(r.doc_a, r.doc_b) for r in cands.collect()}
    want = {p for p in _full_pairs(spark) if p[0] % 3 == 0 or p[1] % 3 == 0}
    assert got == want
    assert rep["generation"] == 3


def test_query_is_readonly_lookup(spark, tmp_path):
    """query_docs finds the batch's near-dups without admitting: hits
    equal the admission candidates, the index is unchanged, and a
    repeated query returns the same answer."""
    from dataset_dedupe_estimator_spark.plans.lsh_index import query_docs

    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 != 0), idx)
    before = index_stats(spark, idx)
    probe = docs.filter(F.col("doc_id") % 3 == 0)

    hits = {
        (r.probe_doc_id, r.index_doc_id)
        for r in query_docs(spark, probe, idx).collect()
    }
    # vs. single-shot banding: probe-side near-dups against history only
    # (probe-vs-probe pairs are NOT in the index, so not in the answer)
    full = _full_pairs(spark)
    want = set()
    for a, b in full:
        if a % 3 == 0 and b % 3 != 0:
            want.add((a, b))
        elif b % 3 == 0 and a % 3 != 0:
            want.add((b, a))
    assert hits == want
    assert index_stats(spark, idx) == before  # nothing admitted
    assert {
        (r.probe_doc_id, r.index_doc_id)
        for r in query_docs(spark, probe, idx).collect()
    } == hits


def test_single_writer_lock_refuses_concurrent_admission(spark, tmp_path):
    """admit_docs/compact refuse while another writer holds the lock;
    a dead same-host writer's lock is broken automatically (ADVICE r3)."""
    import os
    import socket

    from dataset_dedupe_estimator_spark.plans._index_lock import ConcurrentWriterError
    from dataset_dedupe_estimator_spark.plans.lsh_index import compact_lsh_index

    idx = tmp_path / "idx"
    docs = _docs(spark)
    build_lsh_index(spark, docs.filter(F.col("doc_id") < 30), idx)
    lock = idx / "_writer.lock"
    lock.write_text(f"pid={os.getpid()}\nhost={socket.gethostname()}\n")
    with pytest.raises(ConcurrentWriterError):
        admit_docs(spark, docs.filter(F.col("doc_id") >= 30), idx)
    with pytest.raises(ConcurrentWriterError):
        compact_lsh_index(spark, idx)
    lock.write_text(f"pid=999999999\nhost={socket.gethostname()}\n")
    _, rep = admit_docs(spark, docs.filter(F.col("doc_id") >= 30), idx)
    assert rep["generation"] == 1 and not lock.exists()


def test_report_docs_matches_generation_on_disk(spark, tmp_path):
    """r14: the per-admission doc count comes from the persisted band
    cache (countDistinct cannot ride an observed metric) — it must
    equal the distinct doc_ids of the generation actually on disk."""
    docs = _docs(spark)
    idx = tmp_path / "obslsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 1), idx)
    _c, rep = admit_docs(spark, docs.filter(F.col("doc_id") % 3 == 2), idx)
    gen1 = spark.read.parquet(str(idx / f"gen-{rep['generation']:05d}.parquet"))
    on_disk = gen1.select("doc_id").distinct().count()
    assert rep["docs"] == on_disk > 0
