"""Deletion across the persistent stores (r7): tombstone sets on the
shared gen+manifest protocol (plans/_tombstones.py).

Contracts under test, per index:
* reads after delete equal a rebuild without the deleted keys (LSH
  query pairs; PQ search top-k and dup groups);
* id-keyed indexes (LSH, gram, PQ) DENYLIST deleted ids from
  re-admission until compaction purges and clears the sets;
* the content-keyed chunk index instead RESURRECTS a re-uploaded
  deleted chunk (it must test as present again or transfer stats lie);
* compaction physically removes tombstoned rows — the bytes are gone,
  not hidden — and the orphan windows (set written, manifest never
  bumped) are invisible and self-healing.
"""

import glob

import pytest

pytestmark = pytest.mark.slow  # driver-budget: deselected from the default run
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.plans import gram_index as gi
from dataset_dedupe_estimator_spark.plans import lsh_index as li
from dataset_dedupe_estimator_spark.plans import chunk_index as ci
from dataset_dedupe_estimator_spark.queries.base import load

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load(spark, SF, "documents").select("doc_id", "text")


# ---------------------------------------------------------------- LSH


def test_lsh_delete_equals_rebuild_without_deleted(spark, tmp_path):
    docs = _docs(spark)
    gone = [r.doc_id for r in docs.limit(40).collect()][:20]
    idx, rebuilt = tmp_path / "lsh", tmp_path / "lsh2"
    li.build_lsh_index(spark, docs, idx)
    st = li.delete_docs(spark, idx, gone)
    assert st["denylisted"] == len(gone)
    li.build_lsh_index(spark, docs.filter(~F.col("doc_id").isin(gone)), rebuilt)
    probe = docs.limit(200)
    got = {
        (r.probe_doc_id, r.index_doc_id)
        for r in li.query_docs(spark, probe, idx).collect()
    }
    want = {
        (r.probe_doc_id, r.index_doc_id)
        for r in li.query_docs(spark, probe, rebuilt).collect()
    }
    assert got == want
    assert not any(b in gone for _, b in got)
    assert li.index_stats(spark, idx)["docs"] == li.index_stats(spark, rebuilt)["docs"]


def test_lsh_denylist_then_compact_purges(spark, tmp_path):
    docs = _docs(spark)
    gone = [r.doc_id for r in docs.limit(5).collect()]
    idx = tmp_path / "lsh"
    li.build_lsh_index(spark, docs, idx)
    li.delete_docs(spark, idx, gone)
    back = docs.filter(F.col("doc_id").isin(gone))
    _, rep = li.admit_docs(spark, back, idx)
    assert rep["docs"] == 0  # denylisted
    st = li.compact_lsh_index(spark, idx)
    gen = idx / f"gen-{st['generation']:05d}.parquet"
    raw = spark.read.parquet(str(gen))
    assert raw.filter(F.col("doc_id").isin(gone)).count() == 0  # purged
    assert not (idx / "tombstones").exists()
    _, rep2 = li.admit_docs(spark, back, idx)
    assert rep2["docs"] == len(gone)  # admissible again after the purge


# --------------------------------------------------------------- gram


def test_gram_delete_forgets_content_and_reanchors(spark, tmp_path):
    """Deleting the doc that first carried some content removes the
    content trace (right-to-be-forgotten): the probe stops flagging it,
    and a re-admission (after compaction clears the denylist) reports
    it novel and re-anchors it."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "totally different words with no overlap here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = tmp_path / "gram"
    gi.build_gram_index(spark, docs, idx, k=4)
    probe = spark.createDataFrame([rows[0]], "doc_id long, text string")
    assert gi.query_docs(spark, probe, idx).count() > 0  # known content
    st = gi.delete_docs(spark, idx, [1])
    assert st["denylisted"] == 1
    assert gi.query_docs(spark, probe, idx).count() == 0  # forgotten
    # denylisted: re-admission of doc 1 is skipped while tombstoned
    spans, rep = gi.admit_docs(spark, probe, idx)
    assert rep["docs"] == 0 and rep["novel_grams"] == 0
    cst = gi.compact_gram_index(spark, idx)
    raw = spark.read.parquet(str(idx / f"gen-{cst['generation']:05d}.parquet"))
    assert raw.filter(F.col("doc_id") == 1).count() == 0  # purged
    stats = gi.index_stats(spark, idx)
    assert stats["tombstone_sets"] == 0
    assert stats["total_grams"] == stats["stored_grams"]  # debt settled
    # after the purge the content re-anchors as novel under doc 1
    spans2, rep2 = gi.admit_docs(spark, probe, idx)
    assert rep2["docs"] == 1 and rep2["novel_grams"] > 0
    assert gi.query_docs(spark, probe, idx).count() > 0


# -------------------------------------------------------------- chunk


@pytest.fixture()
def snapshots():
    paths = sorted(glob.glob(f"{SF}/*.parquet"))
    return paths[: len(paths) // 2], paths[len(paths) // 2 :]


def test_chunk_delete_then_reupload_resurrects(spark, tmp_path, snapshots):
    old, _ = snapshots
    idx = tmp_path / "cidx"
    ci.build_index(spark, old, idx)
    live0 = ci.index_stats(spark, idx).collect()[0]
    hashes = [
        r.hash
        for r in ci.STORE.read(spark, idx).select("hash").limit(3).collect()
    ]
    st = ci.delete_chunks(spark, idx, hashes)
    assert st["tombstoned"] == 3
    live1 = ci.index_stats(spark, idx).collect()[0]
    assert live1.unique_chunks == live0.unique_chunks - 3
    # re-upload: the deleted chunks transfer again and come back to view
    rep = ci.update_index(spark, old, idx)
    assert rep["resurrected_chunks"] == 3
    assert rep["novel_bytes"] > 0  # the client moved those bytes
    assert rep["novel_chunks"] == 0  # no duplicate rows were written
    live2 = ci.index_stats(spark, idx).collect()[0]
    assert live2.unique_chunks == live0.unique_chunks
    # a third upload is a clean no-op (fully present again)
    rep2 = ci.update_index(spark, old, idx)
    assert rep2["novel_bytes"] == 0 and rep2["resurrected_chunks"] == 0


def test_chunk_compact_purges_tombstoned(spark, tmp_path, snapshots):
    old, new = snapshots
    idx = tmp_path / "cidx"
    ci.build_index(spark, old, idx)
    ci.update_index(spark, new, idx)
    hashes = [
        r.hash
        for r in ci.STORE.read(spark, idx).select("hash").limit(4).collect()
    ]
    ci.delete_chunks(spark, idx, hashes)
    live = ci.index_stats(spark, idx).collect()[0]
    st = ci.compact_index(spark, idx)
    assert st["chunks"] == live.unique_chunks  # merged minus tombstoned
    raw = spark.read.parquet(str(idx / f"gen-{st['generation']:05d}.parquet"))
    assert raw.filter(F.col("hash").isin(hashes)).count() == 0
    assert not (idx / "tombstones").exists()
    # deleted content is novel again on the next upload (rows rewritten
    # this time — the tombstones are gone, nothing to resurrect)
    rep = ci.update_index(spark, old + new, idx)
    assert rep["novel_chunks"] == 4 and rep["resurrected_chunks"] == 0


# ----------------------------------------------------------------- PQ


def test_pq_delete_suppresses_and_compact_purges(spark, tmp_path):
    from dataset_dedupe_estimator_spark.operators.ann import (
        PqIndex,
        pq_code_dup_groups,
        pq_index_add,
        pq_index_compact,
        pq_index_delete,
    )

    emb = (
        load(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    idx_dir = str(tmp_path / "pq")
    PqIndex.build(emb, idx_dir, k=4, m=4)
    idx = PqIndex.load(idx_dir)
    q = emb.first().embedding
    full = [r.vec_id for r in idx.search(spark, q, topk=10, nprobe=4).collect()]
    gone = full[:3]
    st = pq_index_delete(spark, idx_dir, gone)
    assert st["deleted"] == 3
    after = [r.vec_id for r in idx.search(spark, q, topk=10, nprobe=4).collect()]
    assert not (set(after) & set(gone))
    # deleted rows also leave the SemDeDup group view
    assert (
        pq_code_dup_groups(spark, idx_dir, min_group=1)
        .filter(F.col("vec_id").isin(gone))
        .count()
        == 0
    )
    # denylist: re-adding the deleted ids is skipped while tombstoned
    back = emb.filter(F.col("vec_id").isin(gone))
    assert pq_index_add(spark, idx_dir, back)["admitted"] == 0
    rep = pq_index_compact(spark, idx_dir)
    raw = spark.read.parquet(str(tmp_path / "pq" / "gen-00001"))
    assert raw.filter(F.col("vec_id").isin(gone)).count() == 0  # purged
    assert not (tmp_path / "pq" / "tombstones").exists()
    # admissible again after the purge; search returns them once more
    assert pq_index_add(spark, idx_dir, back)["admitted"] == 3
    again = [r.vec_id for r in idx.search(spark, q, topk=10, nprobe=4).collect()]
    assert set(again) == set(full)


def test_pq_delete_total_accounting(spark, tmp_path):
    from dataset_dedupe_estimator_spark.operators.ann import (
        PqIndex,
        pq_index_delete,
    )

    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    idx_dir = str(tmp_path / "pq")
    PqIndex.build(emb, idx_dir, k=4, m=4)
    import json
    from pathlib import Path

    meta = json.loads((Path(idx_dir) / PqIndex.MANIFEST).read_text())
    total0 = meta["total"]
    ids = [r.vec_id for r in emb.limit(5).collect()]
    st = pq_index_delete(spark, idx_dir, ids + [10**15])  # one unknown id
    assert st["deleted"] == 5 and st["denylisted"] == 6
    assert st["total"] == total0 - 5
    # idempotent re-delete: no double decrement, no new set
    st2 = pq_index_delete(spark, idx_dir, ids)
    assert st2["deleted"] == 0 and st2["total"] == total0 - 5


def test_text_index_empty_after_total_delete_raises_clear_error(spark, tmp_path):
    """Deleting EVERY document legitimately drives n_docs to 0; a later
    search must raise a clear empty-index error, not ZeroDivisionError
    from avgdl (= sum_dl / n_docs)."""
    import pytest

    from dataset_dedupe_estimator_spark.plans import text_index as ti

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    idx = str(tmp_path / "tix")
    ti.build_text_index(spark, docs, idx, n_buckets=2)
    ti.delete_docs(spark, idx, [1, 2])
    with pytest.raises(ValueError, match="no live documents"):
        ti.search(spark, idx, ["alpha"])
    with pytest.raises(ValueError, match="no live documents"):
        ti.search_many(spark, idx, {"q0": ["alpha"]})


def test_cli_string_ids_keeps_digit_string_keys(capsys, spark, tmp_path):
    """An index keyed by DIGIT STRINGS ('0123'): --ids int-coerces by
    default (documented), so --string-ids must keep the raw form and
    actually suppress the right doc."""
    from dataset_dedupe_estimator_spark.cli import main
    from dataset_dedupe_estimator_spark.plans import lsh_index as li

    docs = spark.createDataFrame(
        [("0123", "the quick brown fox jumps over the lazy dog"),
         ("777", "an entirely different document about spark tables")],
        "doc_id string, text string",
    )
    idx = str(tmp_path / "lsh")
    li.build_lsh_index(spark, docs, idx)
    assert main(["lsh-index", "delete", idx, "--ids", "0123", "--string-ids"]) == 0
    out = capsys.readouterr().out
    assert "tombstoned" in out
    from dataset_dedupe_estimator_spark.plans._tombstones import tombstones_df

    meta = li._check_meta(idx)
    stones = {r.doc_id for r in tombstones_df(spark, idx, meta, "doc_id").collect()}
    assert stones == {"0123"}  # not 123
