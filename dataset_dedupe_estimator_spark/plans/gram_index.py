"""Persistent sliding-gram index: exact-substring dedup at ingest.

The batch operator (operators/substring_dedup.py) answers "which token
spans are duplicated WITHIN this corpus"; a production ingest gate asks
the incremental question — "which spans of these NEW documents already
exist in everything admitted before?" — without re-hashing history. This
module is that index, log-structured on parquet through the generation
store the chunk, LSH, text and PQ indexes share (plans/_genstore.py):

* ``build_gram_index`` — hash every sliding k-gram of a corpus, keep the
  global first occurrence per hash (provenance), write generation 0 +
  a params manifest.
* ``admit_docs``       — per batch: mark every occurrence whose hash is
  already indexed (or repeats an earlier position within the batch) as
  duplicated, merge marks into maximal spans per doc, append ONLY the
  batch's novel first-occurrence rows as a new generation. Write cost
  is O(novel grams of the batch), never O(index).
* ``query_docs``       — read-only: duplicate spans of a probe set
  against the index (the "have we trained on this passage?"
  contamination probe); nothing is admitted.
* ``compact_gram_index`` / ``index_stats`` — housekeeping.

Layout: ``<dir>/gen-<n>.parquet`` (columns h, doc_id, pos — the first
occurrence of each gram hash) + ``<dir>/_index_meta.json`` (k, hash
scheme, generation counter, admission history). Rows are distinct by
``h`` across ALL generations; the manifest write is the atomic commit
point. Crash orphans are invisible because readers list generations
from the manifest's committed window, never from the disk; the next
build, admission or compaction removes them.

Params discipline: spans are only comparable for the same gram width
and hash; the manifest pins both at build time and every later
operation re-derives grams from the manifest (a mismatched admit would
silently report ~100% novel — impossible by construction).

Scale shape (100 TB): index rows are ~28 bytes per unique gram; the
admission anti-join reads the index hash-column-pruned and shuffles
only the batch's (h, doc_id, pos) triples — history text is never
touched. Re-admitting an already-indexed document reports it as fully
duplicated (its content IS in the index) — that is the content-gate
answer, unlike the LSH index's id-based idempotent skip.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.substring_dedup import (
    DEFAULT_K,
    merged_islands,
    gram_occurrences,
)
from dataset_dedupe_estimator_spark.plans._genstore import GenStore
from dataset_dedupe_estimator_spark.plans._index_lock import writer_lock
from dataset_dedupe_estimator_spark.plans._observed import observed_metrics
from dataset_dedupe_estimator_spark.plans._tombstones import (
    append_tombstone_set,
    minus_tombstones,
    normalize_ids,
    tombstones_df,
)

STORE = GenStore("_index_meta.json", ".parquet", schema="h string, doc_id long, pos int")
_GRAM_COLS = ("h", "doc_id", "pos")
_HASH_SCHEME = "md5(space-joined k-gram)"


def _check_meta(index_dir: str | Path, k: int | None = None) -> dict:
    meta = STORE.load(index_dir)
    if meta.get("hash_scheme") != _HASH_SCHEME:
        raise ValueError(
            f"gram index at {index_dir} uses hash scheme "
            f"{meta.get('hash_scheme')!r}; this engine computes "
            f"{_HASH_SCHEME!r} — rebuild the index"
        )
    if k is not None and meta["k"] != k:
        raise ValueError(
            f"gram index at {index_dir} was built with k={meta['k']}, "
            f"caller asked k={k}; span semantics are incomparable"
        )
    return meta


def _firsts(grams: DataFrame) -> DataFrame:
    """(h, doc_id, pos) of the min-(doc_id, pos) occurrence per hash —
    map-side partial aggregate, hot boilerplate grams collapse per
    partition before the shuffle."""
    return (
        grams.groupBy("h")
        .agg(F.min(F.struct("id", "pos")).alias("first"))
        .select("h", F.col("first.id").alias("doc_id"), F.col("first.pos").alias("pos"))
    )


def build_gram_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str | Path,
    k: int = DEFAULT_K,
) -> dict:
    """Create generation 0 from a (doc_id, text) corpus. Fails if the
    dir already holds an index (use admit_docs to grow one).

    Single-writer: all index mutations (build/admit/compact) take the
    index dir's exclusive writer lock — see plans/_index_lock.py."""
    index_dir = Path(index_dir)
    if STORE.has_manifest(index_dir):
        raise FileExistsError(f"{index_dir} already holds a gram index")
    index_dir.mkdir(parents=True, exist_ok=True)
    with writer_lock(index_dir):
        if STORE.has_manifest(index_dir):  # re-check under the lock
            raise FileExistsError(f"{index_dir} already holds a gram index")
        STORE.clear(index_dir, None)  # a crashed build's orphans
        gen0 = STORE.gen_path(index_dir, 0)
        # the gram count rides the generation write (plans/_observed.py)
        # instead of a read-back of everything just written
        gen0_df, resolve = observed_metrics(
            _firsts(gram_occurrences(docs, k)).select(*_GRAM_COLS),
            n=F.count(F.lit(1)),
        )
        gen0_df.write.mode("errorifexists").parquet(str(gen0))
        n_grams = int(resolve()["n"])
        meta = {
            "k": k,
            "hash_scheme": _HASH_SCHEME,
            "generations": 1,
            "total_grams": n_grams,
            "admissions": [{"gen": 0, "novel_grams": n_grams}],
        }
        STORE.commit(index_dir, meta)
    return {"generation": 0, "novel_grams": n_grams}


def admit_docs(
    spark: SparkSession, docs: DataFrame, index_dir: str | Path
) -> tuple[DataFrame, dict]:
    """Admit a (doc_id, text) batch: return (duplicate_spans, report) and
    append the batch's novel first-occurrence gram rows as a new
    generation.

    ``duplicate_spans`` is (id, span_start, span_end) over the batch —
    token intervals already present in the index OR repeated within the
    batch itself (intra-batch first occurrences stay novel), interval-
    merged exactly like the batch operator. When batches are admitted in
    (doc_id) order the union over admissions equals the single-shot span
    set of the whole corpus (operators/substring_dedup.duplicate_spans);
    out-of-order admission keeps the same dedup GUARANTEE but assigns
    first-occurrence rights by arrival (first-admitted wins).

    Single-writer: holds the index writer lock for the whole
    read-manifest → write-generation → commit cycle."""
    index_dir = Path(index_dir)
    with writer_lock(index_dir):
        return _admit_docs_locked(spark, docs, index_dir)


def _admit_docs_locked(
    spark: SparkSession, docs: DataFrame, index_dir: Path
) -> tuple[DataFrame, dict]:
    meta = _check_meta(index_dir)
    k = meta["k"]
    gen = meta["generations"]
    STORE.clear(index_dir, meta)
    out = STORE.gen_path(index_dir, gen)
    ts = tombstones_df(spark, index_dir, meta, "doc_id")
    if ts is not None:
        # denylist: a tombstoned doc cannot re-enter (its NEW rows would
        # be suppressed by its own tombstone — silent re-forgetting);
        # and deleted docs' first-occurrence rows stop anchoring dups
        docs = docs.join(ts, "doc_id", "left_anti")
    known = minus_tombstones(
        STORE.read(spark, index_dir, meta), ts, "doc_id"
    ).select("h")
    # persist: the batch grams feed the keeper agg, the dup-span flags
    # and (via firsts) the generation write — without it each action
    # re-splits and re-hashes the batch text
    grams = gram_occurrences(docs, k).persist()
    batch_firsts = _firsts(grams)
    # dup occurrence := hash already indexed, or not the batch-first
    # occurrence of a batch-novel hash. Joins are unordered equi-joins
    # on h (AQE may skew-split hot boilerplate hashes freely).
    flagged = (
        grams.join(known.withColumn("indexed", F.lit(True)), "h", "left")
        .join(
            batch_firsts.select(
                "h",
                F.col("doc_id").alias("f_id"),
                F.col("pos").alias("f_pos"),
            ),
            "h",
        )
        .filter(
            F.col("indexed").isNotNull()
            | (F.col("id") != F.col("f_id"))
            | (F.col("pos") != F.col("f_pos"))
        )
        .select("id", "pos")
    )
    spans = merged_islands(flagged, k).select("id", "span_start", "span_end")
    novel = batch_firsts.join(known, "h", "left_anti")
    # O(batch) accounting that rides the generation write itself
    # (plans/_observed.py): the write is the ONLY pass over the novel
    # rows — no read-back of what was just written, and never a full
    # re-scan of the store. The observed frame IS the written frame, so
    # the count resolves on the session executing the write (safe under
    # foreachBatch — see the module docstring's session constraint).
    novel_obs, resolve = observed_metrics(
        novel.select(*_GRAM_COLS), n=F.count(F.lit(1))
    )
    novel_obs.write.mode("errorifexists").parquet(str(out))
    novel_grams = int(resolve()["n"])
    # materialize the (narrow) span set before the manifest commit:
    # callers consume it AFTER this returns, and without the checkpoint
    # that evaluation would re-read the index path we just appended to
    spans = spans.localCheckpoint(eager=True)
    n_span_docs = spans.select("id").distinct().count()
    n_docs = docs.select(F.col("doc_id")).distinct().count()
    grams.unpersist()
    meta["generations"] = gen + 1
    meta["total_grams"] = meta.get("total_grams", 0) + novel_grams
    meta["admissions"].append(
        {"gen": gen, "docs": n_docs, "novel_grams": novel_grams,
         "docs_with_dup_spans": n_span_docs}
    )
    STORE.commit(index_dir, meta)  # commit point
    return spans, {
        "generation": gen,
        "docs": n_docs,
        "novel_grams": novel_grams,
        "docs_with_dup_spans": n_span_docs,
    }


def delete_docs(spark: SparkSession, index_dir: str | Path, ids) -> dict:
    """Delete documents (takedown): append a tombstone set suppressing
    every gram row whose FIRST-OCCURRENCE provenance is a deleted doc;
    compaction physically purges them. ``ids`` is an iterable or a
    one-column frame. O(tombstones) — no generation is rewritten and
    the index is not scanned (``total_grams`` therefore stays the
    admitted running total until compaction recomputes it; the live
    count is ``index_stats``'s ``stored_grams``).

    First-occurrence semantics, documented honestly: the index stores
    one row per unique gram hash — the first admitted occurrence. If a
    deleted doc was first to carry content that OTHER retained docs
    also contain, that hash is forgotten with it (those docs were
    marked duplicate at their admission; their occurrences were never
    stored). The content trace is gone — right-to-be-forgotten — and
    the next admission carrying it is reported novel and re-anchors it
    under the new doc's provenance. A rebuild without the deleted docs
    differs exactly there (it would re-anchor eagerly); dedup
    GUARANTEES are unaffected, first-occurrence RIGHTS move to arrival
    order — the same rule admission already applies out-of-order
    batches (see admit_docs). Tombstoned doc_ids are denylisted from
    re-admission until a compaction clears the sets."""
    index_dir = Path(index_dir)
    with writer_lock(index_dir):
        meta = _check_meta(index_dir)
        ids_df = normalize_ids(spark, ids, "doc_id")
        fresh = append_tombstone_set(spark, index_dir, meta, ids_df, "doc_id")
        if fresh is None:
            return {"denylisted": 0}
        n_new = fresh.count()
        meta.setdefault("deletions", []).append(
            {"set": meta["tombstone_sets"] - 1, "denylisted": n_new}
        )
        STORE.commit(index_dir, meta)  # commit point
    return {"denylisted": n_new}


def query_docs(
    spark: SparkSession, docs: DataFrame, index_dir: str | Path
) -> DataFrame:
    """Read-only span probe: (id, span_start, span_end) intervals of the
    probe docs whose grams already exist in the index — the
    "have we already got this passage?" contamination check. Unlike
    admission, intra-probe repetition is NOT flagged (nothing is being
    admitted, so batch order confers no first-occurrence rights)."""
    meta = _check_meta(index_dir)
    known = minus_tombstones(
        STORE.read(spark, index_dir, meta),
        tombstones_df(spark, index_dir, meta, "doc_id"),
        "doc_id",
    ).select("h")
    hits = (
        gram_occurrences(docs, meta["k"])
        .join(known, "h")
        .select("id", "pos")
    )
    return merged_islands(hits, meta["k"]).select("id", "span_start", "span_end")


def compact_gram_index(
    spark: SparkSession, index_dir: str | Path, files_out: int | None = None
) -> dict:
    """Merge every live generation into one (the generation store's
    crash-safe compaction, plans/_genstore.py: write under the next gen
    number, commit generation + ``compacted_below`` atomically, then
    delete superseded directories — readers never observe a partial
    state)."""
    index_dir = Path(index_dir)
    with writer_lock(index_dir):
        meta = _check_meta(index_dir)
        gen, n_live, n_grams = STORE.merge(spark, index_dir, meta, "doc_id", files_out)
        meta["total_grams"] = n_grams  # deletion debt settles here
        STORE.commit_compaction(
            index_dir, meta, gen,
            {"gen": gen, "merged_generations": n_live, "grams": n_grams},
        )
    return {"generation": gen, "merged_generations": n_live, "grams": n_grams}


def index_stats(spark: SparkSession, index_dir: str | Path) -> dict:
    """Manifest + store summary (manifest totals are authoritative; the
    store count is read for drift detection, not accounting)."""
    meta = _check_meta(index_dir)
    stored = minus_tombstones(
        STORE.read(spark, index_dir, meta),
        tombstones_df(spark, index_dir, meta, "doc_id"),
        "doc_id",
    ).count()
    return {
        "k": meta["k"],
        "generations": meta["generations"],
        "total_grams": meta.get("total_grams"),
        "stored_grams": stored,
        "admissions": len(meta["admissions"]),
        "tombstone_sets": meta.get("tombstone_sets", 0),
    }
