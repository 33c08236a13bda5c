"""Persistent MinHash-LSH document index (plans/lsh_index.py):
incremental admission must be provably equivalent to single-shot
banding, idempotent on re-admission, and crash-safe around the
generation-write / manifest-commit window."""

import json
import threading

import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.plans.lsh_index import (
    admit_docs,
    build_lsh_index,
    delete_docs,
    index_stats,
    query_docs,
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


def _admit_or_park(spark, docs, idx, timeout=300):
    """admit_docs in a daemon thread: an Observation that never resolves
    parks ``Observation.get`` forever, which fails here instead of
    hanging the run."""
    out = []
    t = threading.Thread(
        target=lambda: out.append(admit_docs(spark, docs, idx)), daemon=True
    )
    t.start()
    t.join(timeout)
    assert out, "admission parked (an Observation never resolved)"
    return out[0]


def test_readmission_is_idempotent(spark, tmp_path):
    """All ids known: the anti-join leaves no signature, both observed
    counts resolve to 0 on the empty write and checkpoint, and the
    empty generation still commits."""
    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") < 100), idx)
    before = index_stats(spark, idx)
    cands, rep = _admit_or_park(spark, docs.filter(F.col("doc_id") < 100), idx)
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
    """The per-admission doc count is observed on the generation write
    (``size(collect_set(doc_id))``; countDistinct cannot ride an
    observed metric) — it must equal the distinct doc_ids of the
    generation actually on disk."""
    docs = _docs(spark)
    idx = tmp_path / "obslsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 1), idx)
    _c, rep = admit_docs(spark, docs.filter(F.col("doc_id") % 3 == 2), idx)
    gen1 = spark.read.parquet(str(idx / f"gen-{rep['generation']:05d}.parquet"))
    on_disk = gen1.select("doc_id").distinct().count()
    assert rep["docs"] == on_disk > 0


def test_batch_with_repeated_doc_id_counts_it_once(spark, tmp_path):
    """A doc_id twice in one batch is one admitted doc: both rows' band
    rows are written (as before), the report and index_stats count it
    once, and it never pairs with itself."""
    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") < 60), idx)
    src = docs.filter(F.col("doc_id") == 7).first()
    new_id = 10**9
    batch = spark.createDataFrame(
        [(new_id, src.text), (new_id, src.text)], "doc_id long, text string"
    )
    want = {
        (r.index_doc_id, new_id) for r in query_docs(spark, batch.limit(1), idx).collect()
    }
    assert (7, new_id) in want
    before = index_stats(spark, idx)
    cands, rep = _admit_or_park(spark, batch, idx)
    assert rep["docs"] == 1
    assert {(r.doc_a, r.doc_b) for r in cands.collect()} == want
    assert rep["candidate_pairs"] == len(want)
    after = index_stats(spark, idx)
    assert after["docs"] == before["docs"] + 1
    assert after["band_rows"] == before["band_rows"] + 8


def test_admit_job_budget(spark, tmp_path):
    """One admission of a batch read from parquet runs at most 8 Spark
    jobs, the batch read included: signatures on the batch scan, the
    known ids from band_id = 0 rows, the index read with the store's
    schema, and both report counts observed inside the generation write
    and the candidate checkpoint."""
    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 == 1), idx)
    for m in (2, 0):
        docs.filter(F.col("doc_id") % 3 == m).write.parquet(str(tmp_path / f"b{m}"))
    sc = spark.sparkContext
    counts = []
    for m in (2, 0):
        group = f"admit-budget-{m}"
        sc.setJobGroup(group, group)
        try:
            _, rep = admit_docs(spark, spark.read.parquet(str(tmp_path / f"b{m}")), idx)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rep["docs"] > 0
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert all(0 < n <= 8 for n in counts), counts


def test_admit_after_delete_job_budget(spark, tmp_path):
    """With a live tombstone set an admission runs at most 10 Spark
    jobs (13 when the set was read by schema inference and made
    distinct by an aggregate): the set is read with a declared schema,
    and it needs no distinct (sets are disjoint). The set still costs 2
    jobs over test_admit_job_budget's 8."""
    docs = _docs(spark)
    idx = tmp_path / "lsh"
    build_lsh_index(spark, docs.filter(F.col("doc_id") % 4 == 1), idx)
    delete_docs(spark, idx, [1, 5, 9])
    docs.filter(F.col("doc_id") % 4 == 2).write.parquet(str(tmp_path / "b"))
    sc = spark.sparkContext
    group = "admit-after-delete"
    sc.setJobGroup(group, group)
    try:
        _, rep = admit_docs(spark, spark.read.parquet(str(tmp_path / "b")), idx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep["docs"] > 0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= 10, jobs
