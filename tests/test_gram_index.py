"""Persistent gram index (plans/gram_index.py): incremental exact-substring
dedup must reproduce the batch operator, survive crash windows, and keep
O(batch) admission accounting honest."""

import json
import os
import socket

import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.substring_dedup import (
    duplicate_spans,
)
from dataset_dedupe_estimator_spark.plans.gram_index import (
    admit_docs,
    build_gram_index,
    compact_gram_index,
    index_stats,
    query_docs,
)

K = 3

CORPUS = {
    0: "a b c d e f g h i j",
    1: "x x a b c d e f g h i j y y",
    2: "p q r s t u v w a b c",
    3: "m n o p q",
    4: "z z z z z z z z",  # self-repetition within one doc
    5: "a b c d e f g h i j a b c d e f g h i j",
    6: "q r s completely novel tokens here",
}


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, CORPUS[i]) for i in ids], "doc_id long, text string"
    )


def _spans(df):
    return sorted((r["id"], r["span_start"], r["span_end"]) for r in df.collect())


def test_incremental_equals_single_shot(spark, tmp_path):
    """doc_id-ordered admissions reproduce the batch operator's span set
    for every admitted doc (build batch reports no spans — its internal
    dups are simply not re-recorded as firsts)."""
    idx = tmp_path / "idx"
    build_gram_index(spark, _docs(spark, [0, 1]), idx, k=K)
    s1, rep1 = admit_docs(spark, _docs(spark, [2, 3, 4]), idx)
    s2, rep2 = admit_docs(spark, _docs(spark, [5, 6]), idx)
    got = _spans(s1) + _spans(s2)
    full = duplicate_spans(
        spark.createDataFrame(list(CORPUS.items()), "doc_id long, text string"), K
    )
    expected = [t for t in _spans(full) if t[0] >= 2]
    assert sorted(got) == expected
    assert rep1["generation"] == 1 and rep2["generation"] == 2


def test_accounting_is_o_batch_and_consistent(spark, tmp_path):
    """manifest total_grams tracks the store exactly without re-scans."""
    idx = tmp_path / "idx"
    build_gram_index(spark, _docs(spark, [0]), idx, k=K)
    admit_docs(spark, _docs(spark, [1, 2]), idx)
    admit_docs(spark, _docs(spark, [5]), idx)  # no novel grams at all
    st = index_stats(spark, idx)
    assert st["total_grams"] == st["stored_grams"]
    assert st["generations"] == 3 and st["admissions"] == 3


def test_readmission_reports_full_duplication(spark, tmp_path):
    """Content-gate semantics: re-admitting an indexed doc flags ALL its
    tokens as one full-coverage span and adds zero novel grams."""
    idx = tmp_path / "idx"
    build_gram_index(spark, _docs(spark, [0]), idx, k=K)
    spans, rep = admit_docs(spark, _docs(spark, [0]), idx)
    n = len(CORPUS[0].split(" "))
    assert _spans(spans) == [(0, 0, n)]
    assert rep["novel_grams"] == 0


def test_query_is_readonly_and_ignores_intra_probe_dups(spark, tmp_path):
    idx = tmp_path / "idx"
    build_gram_index(spark, _docs(spark, [0]), idx, k=K)
    meta_before = (idx / "_index_meta.json").read_text()
    # doc 5 = doc 0's text twice: every gram hits the index -> full span
    # doc 4 = pure self-repetition, nothing in the index -> NO span
    hits = query_docs(spark, _docs(spark, [4, 5]), idx)
    n5 = len(CORPUS[5].split(" "))
    assert _spans(hits) == [(5, 0, n5)]
    assert (idx / "_index_meta.json").read_text() == meta_before
    assert len(list(idx.glob("gen-*.parquet"))) == 1


@pytest.mark.slow
def test_compaction_preserves_answers(spark, tmp_path):
    idx = tmp_path / "idx"
    build_gram_index(spark, _docs(spark, [0]), idx, k=K)
    admit_docs(spark, _docs(spark, [1, 2]), idx)
    admit_docs(spark, _docs(spark, [6]), idx)
    before = _spans(query_docs(spark, _docs(spark, [5]), idx))
    st_before = index_stats(spark, idx)
    rep = compact_gram_index(spark, idx)
    assert rep["merged_generations"] == 3
    live = [p.name for p in idx.glob("gen-*.parquet")]
    assert live == [f"gen-{rep['generation']:05d}.parquet"]
    assert _spans(query_docs(spark, _docs(spark, [5]), idx)) == before
    st_after = index_stats(spark, idx)
    assert st_after["stored_grams"] == st_before["stored_grams"]
    assert st_after["total_grams"] == st_before["total_grams"]
    # admissions still work on the compacted index
    spans, rep2 = admit_docs(spark, _docs(spark, [4]), idx)
    assert rep2["novel_grams"] > 0


def test_param_and_scheme_pinning(spark, tmp_path):
    import json

    idx = tmp_path / "idx"
    build_gram_index(spark, _docs(spark, [0]), idx, k=K)
    from dataset_dedupe_estimator_spark.plans.gram_index import _check_meta

    with pytest.raises(ValueError, match="built with k="):
        _check_meta(idx, k=K + 1)
    meta = json.loads((idx / "_index_meta.json").read_text())
    meta["hash_scheme"] = "xxh3(k-gram)"
    (idx / "_index_meta.json").write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="hash scheme"):
        admit_docs(spark, _docs(spark, [1]), idx)


def test_build_refuses_existing(spark, tmp_path):
    idx = tmp_path / "idx"
    build_gram_index(spark, _docs(spark, [0]), idx, k=K)
    with pytest.raises(FileExistsError):
        build_gram_index(spark, _docs(spark, [1]), idx, k=K)


def test_single_writer_lock(spark, tmp_path):
    from dataset_dedupe_estimator_spark.plans._index_lock import (
        ConcurrentWriterError,
    )

    idx = tmp_path / "idx"
    build_gram_index(spark, _docs(spark, [0]), idx, k=K)
    lock = idx / "_writer.lock"
    lock.write_text(f"pid={os.getpid()}\nhost={socket.gethostname()}\n")
    with pytest.raises(ConcurrentWriterError):
        admit_docs(spark, _docs(spark, [1]), idx)
    with pytest.raises(ConcurrentWriterError):
        compact_gram_index(spark, idx)
    lock.write_text(f"pid=999999999\nhost={socket.gethostname()}\n")
    _, rep = admit_docs(spark, _docs(spark, [1]), idx)
    assert rep["generation"] == 1 and not lock.exists()


@pytest.mark.slow
def test_streaming_admission(spark, tmp_path):
    """availableNow streaming admission: each drop becomes one
    generation, restarts never re-admit, and the accumulated span feed
    equals the doc_id-ordered batch-operator span set."""
    from dataset_dedupe_estimator_spark.streaming.incremental import (
        admit_grams_stream,
    )

    idx, inbox = tmp_path / "gram", tmp_path / "inbox"
    ckpt, spans_out = tmp_path / "ckpt", tmp_path / "spans"
    inbox.mkdir()
    build_gram_index(spark, _docs(spark, [0, 1]), idx, k=K)

    _docs(spark, [2, 3, 4]).coalesce(1).write.parquet(str(inbox / "drop-a.parquet"))
    reps = admit_grams_stream(spark, str(inbox), str(idx), str(ckpt), str(spans_out))
    assert [r["generation"] for r in reps] == [1]

    # nothing new pending: a re-run admits nothing (checkpoint replay)
    assert admit_grams_stream(spark, str(inbox), str(idx), str(ckpt), str(spans_out)) == []

    _docs(spark, [5, 6]).coalesce(1).write.parquet(str(inbox / "drop-b.parquet"))
    reps = admit_grams_stream(spark, str(inbox), str(idx), str(ckpt), str(spans_out))
    assert [r["generation"] for r in reps] == [2]

    got = sorted(
        (r["id"], r["span_start"], r["span_end"])
        for r in spark.read.parquet(str(spans_out)).collect()
    )
    full = duplicate_spans(
        spark.createDataFrame(list(CORPUS.items()), "doc_id long, text string"), K
    )
    assert got == [t for t in _spans(full) if t[0] >= 2]
    assert index_stats(spark, idx)["generations"] == 3


def test_observed_report_matches_generation_on_disk(spark, tmp_path):
    """r14: admission accounting rides the generation write as an
    observed metric instead of a read-back — the reported novel count
    must equal what actually landed on disk (build and admit)."""
    idx = tmp_path / "obsgram"
    b = build_gram_index(spark, _docs(spark, [0, 1, 2]), idx, k=K)
    gen0 = spark.read.parquet(str(idx / "gen-00000.parquet"))
    assert b["novel_grams"] == gen0.count() > 0
    _spans_df, rep = admit_docs(spark, _docs(spark, [3, 5, 6]), idx)
    gen1 = spark.read.parquet(str(idx / "gen-00001.parquet"))
    assert rep["novel_grams"] == gen1.count() > 0
    with open(idx / "_index_meta.json") as f:
        meta = json.load(f)
    assert meta["total_grams"] == gen0.count() + gen1.count()
