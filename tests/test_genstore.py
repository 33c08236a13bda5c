"""Crash windows of the generation store (plans/_genstore.py), once for
each of the five persistent indexes that share it: chunk, gram, LSH,
text (plans/*_index.py) and PQ (operators/ann.py).

The manifest is the only commit point, so for every index:
* a build's orphans (no manifest yet) are cleared when the build retries;
* a complete generation at the manifest counter — the state during
  every in-flight admission and after a crash before its commit — is
  invisible to every lock-free reader and cleared by the next writer;
* a superseded dir below the floor — left by a crash between a
  compaction's commit and its cleanup — is invisible, then cleared;
* legacy manifests load (no floor key; PQ's ``floor``);
* generation numbers past five digits parse, order and clear;
* a committed generation missing from disk fails the read instead of
  being skipped."""

import glob
import json
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators import ann
from dataset_dedupe_estimator_spark.plans import chunk_index as ci
from dataset_dedupe_estimator_spark.plans import gram_index as gi
from dataset_dedupe_estimator_spark.plans import lsh_index as li
from dataset_dedupe_estimator_spark.plans import text_index as ti
from dataset_dedupe_estimator_spark.queries.dedupe_text import N_BANDS

PARTS = 3  # disjoint admission batches 0, 1, 2


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class _DocIndex:
    """Harness base for the (doc_id, text) indexes: part p is the docs
    with doc_id % 3 == p among the first 60."""

    def __init__(self, spark, sf):
        self.docs = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .select("doc_id", "text")
            .filter(F.col("doc_id") < 60)
            .localCheckpoint(eager=True)
        )

    def part(self, p):
        return self.docs.filter(F.col("doc_id") % PARTS == p)


class Chunk:
    name, store = "chunk", ci.STORE

    def __init__(self, spark, sf):
        files = sorted(glob.glob(f"{sf}/*.parquet"))
        self.files = [files[0:3], files[3:6], files[6:]]

    def build(self, spark, idx, p):
        ci.build_index(spark, self.files[p], idx)

    def admit(self, spark, idx, p):
        ci.update_index(spark, self.files[p], idx)

    def compact(self, spark, idx):
        ci.compact_index(spark, idx)

    def readers(self, spark, idx):
        st = ci.index_stats(spark, idx).collect()[0]
        return st.unique_chunks, st.unique_bytes, st.compressed_bytes

    def consistent(self, spark, idx):
        meta = self.store.load(idx)
        unique_chunks = self.readers(spark, idx)[0]
        assert unique_chunks == sum(s["novel_chunks"] for s in meta["snapshots"])


class Gram(_DocIndex):
    name, store = "gram", gi.STORE

    def build(self, spark, idx, p):
        gi.build_gram_index(spark, self.part(p), idx, k=5)

    def admit(self, spark, idx, p):
        gi.admit_docs(spark, self.part(p), idx)

    def compact(self, spark, idx):
        gi.compact_gram_index(spark, idx)

    def readers(self, spark, idx):
        st = gi.index_stats(spark, idx)
        spans = _rows(gi.query_docs(spark, self.docs, idx))
        return st["stored_grams"], st["total_grams"], spans

    def consistent(self, spark, idx):
        st = gi.index_stats(spark, idx)
        assert st["stored_grams"] == st["total_grams"]


class Lsh(_DocIndex):
    name, store = "lsh", li.STORE

    def build(self, spark, idx, p):
        li.build_lsh_index(spark, self.part(p), idx)

    def admit(self, spark, idx, p):
        li.admit_docs(spark, self.part(p), idx)

    def compact(self, spark, idx):
        li.compact_lsh_index(spark, idx)

    def readers(self, spark, idx):
        st = li.index_stats(spark, idx)
        hits = _rows(li.query_docs(spark, self.docs, idx))
        return st["docs"], st["band_rows"], hits

    def consistent(self, spark, idx):
        meta = self.store.load(idx)
        st = li.index_stats(spark, idx)
        assert st["docs"] == sum(a["docs"] for a in meta["admissions"])
        assert st["band_rows"] == N_BANDS * st["docs"]


class Text(_DocIndex):
    name, store = "text", ti.STORE

    def build(self, spark, idx, p):
        ti.build_text_index(spark, self.part(p), idx)

    def admit(self, spark, idx, p):
        ti.admit_docs(spark, self.part(p), idx)

    def compact(self, spark, idx):
        ti.compact_text_index(spark, idx)

    def readers(self, spark, idx):
        words = self.docs.orderBy("doc_id").head().text.split(" ")
        hits = _rows(ti.search(spark, idx, words[:3], top=1000))
        phrase = _rows(ti.phrase_search(spark, idx, words[1:3], top=1000))
        return hits, phrase

    def consistent(self, spark, idx):
        n_docs = self.store.read(spark, idx, sub="doclens").count()
        assert n_docs == ti.index_stats(idx)["n_docs"]


class Pq:
    name, store = "pq", ann.PQ_STORE

    def __init__(self, spark, sf):
        self.emb = (
            spark.read.parquet(f"{sf}/embeddings.parquet")
            .filter(F.col("vec_id") < 150)
            .localCheckpoint(eager=True)
        )

    def part(self, p):
        return self.emb.filter(F.col("vec_id") % PARTS == p)

    def build(self, spark, idx, p):
        ann.PqIndex.build(self.part(p), idx, k=2, ks=8, train_sample=64)

    def admit(self, spark, idx, p):
        ann.pq_index_add(spark, idx, self.part(p))

    def compact(self, spark, idx):
        ann.pq_index_compact(spark, idx)

    def readers(self, spark, idx):
        codes = ann.PqIndex.load(idx).codes_df(spark)
        return sorted((r.vec_id, r.cell, tuple(r.codes)) for r in codes.collect())

    def consistent(self, spark, idx):
        assert len(self.readers(spark, idx)) == self.store.load(idx)["total"]


HARNESSES = [Chunk, Gram, Lsh, Text, Pq]


@pytest.fixture(params=HARNESSES, ids=lambda h: h.name)
def h(request, spark, sf_dir):
    return request.param(spark, sf_dir)


def _gen_names(h, idx):
    return sorted(p.name for p in idx.glob("gen-*"))


def test_build_orphans_are_cleared_on_retry(spark, tmp_path, h):
    """No manifest means nothing is committed: every generation dir a
    crashed build left (its own target and any other) goes."""
    idx = tmp_path / "idx"
    for n in (0, 3):
        orphan = h.store.gen_path(idx, n)
        orphan.mkdir(parents=True)
        (orphan / "junk").write_text("crashed build, no manifest")
    h.build(spark, idx, 0)
    assert _gen_names(h, idx) == [h.store.gen_path(idx, 0).name]
    assert not (h.store.gen_path(idx, 0) / "junk").exists()
    h.consistent(spark, idx)


def test_uncommitted_generation_is_invisible(spark, tmp_path, h):
    """A complete generation at the manifest counter (an admission in
    flight, or one that crashed before its commit) adds nothing to any
    lock-free reader, and the next admission replaces it."""
    idx = tmp_path / "idx"
    h.build(spark, idx, 0)
    h.admit(spark, idx, 1)
    before = h.readers(spark, idx)
    n = h.store.load(idx)["generations"]
    shutil.copytree(h.store.gen_path(idx, n - 1), h.store.gen_path(idx, n))
    assert h.readers(spark, idx) == before
    h.admit(spark, idx, 2)
    assert h.store.load(idx)["generations"] == n + 1
    h.consistent(spark, idx)


def test_compaction_crash_windows(spark, tmp_path, h):
    """Before the commit: a leftover at the compaction's target is
    cleared and never merged. After the commit: a superseded dir below
    the floor is invisible, and the next writer removes it."""
    idx = tmp_path / "idx"
    h.build(spark, idx, 0)
    h.admit(spark, idx, 1)
    before = h.readers(spark, idx)
    n = h.store.load(idx)["generations"]
    stash = tmp_path / "stash"
    shutil.copytree(h.store.gen_path(idx, 0), stash)
    shutil.copytree(h.store.gen_path(idx, 1), h.store.gen_path(idx, n))
    h.compact(spark, idx)
    assert h.store.load(idx)["compacted_below"] == n
    assert _gen_names(h, idx) == [h.store.gen_path(idx, n).name]
    assert h.readers(spark, idx) == before
    shutil.copytree(stash, h.store.gen_path(idx, 0))
    assert h.readers(spark, idx) == before
    h.admit(spark, idx, 2)
    assert not h.store.gen_path(idx, 0).exists()
    h.consistent(spark, idx)


@pytest.mark.parametrize("h", [Chunk, Gram, Lsh, Pq], ids=lambda h: h.name)
def test_legacy_manifest_loads(spark, sf_dir, tmp_path, h):
    """A never-compacted chunk/gram/LSH manifest carries no floor key
    (floor 0). A PQ manifest written before the store carries its floor
    as ``floor``: it is honoured, and the next compaction rewrites it as
    ``compacted_below``."""
    h = h(spark, sf_dir)
    idx = tmp_path / "idx"
    h.build(spark, idx, 0)
    h.admit(spark, idx, 1)
    if h.name == "pq":
        h.compact(spark, idx)
        meta = h.store.load(idx)
        meta["floor"] = floor = meta.pop("compacted_below")
        (idx / h.store.manifest).write_text(json.dumps(meta))
        # a superseded dir below the legacy floor stays invisible
        shutil.copytree(h.store.gen_path(idx, floor), h.store.gen_path(idx, 0))
    assert "compacted_below" not in h.store.load(idx)
    h.consistent(spark, idx)
    h.admit(spark, idx, 2)
    h.compact(spark, idx)
    meta = h.store.load(idx)
    assert "floor" not in meta
    assert meta["compacted_below"] == meta["generations"] - 1
    h.consistent(spark, idx)


def test_generation_numbers_past_five_digits(spark, tmp_path, h):
    """A streaming index crosses gen 99999: the full digit run parses,
    an uncommitted gen-100001 is cleared before the admission that
    writes there, and compaction removes superseded 6-digit dirs."""
    idx = tmp_path / "idx"
    h.build(spark, idx, 0)
    before = h.readers(spark, idx)
    h.store.gen_path(idx, 0).rename(h.store.gen_path(idx, 100000))
    meta = h.store.load(idx)
    meta.update(generations=100001, compacted_below=100000)
    h.store.commit(idx, meta)
    assert h.readers(spark, idx) == before
    shutil.copytree(h.store.gen_path(idx, 100000), h.store.gen_path(idx, 100001))
    h.admit(spark, idx, 1)
    assert h.store.load(idx)["generations"] == 100002
    h.consistent(spark, idx)
    h.compact(spark, idx)
    assert _gen_names(h, idx) == [h.store.gen_path(idx, 100002).name]
    h.consistent(spark, idx)


def test_missing_committed_generation_raises(spark, tmp_path, h):
    """Readers list what the manifest committed: a committed generation
    gone from disk fails the read instead of silently shrinking it."""
    idx = tmp_path / "idx"
    h.build(spark, idx, 0)
    h.admit(spark, idx, 1)
    shutil.rmtree(h.store.gen_path(idx, 1))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        h.readers(spark, idx)
