"""Persistent MinHash-LSH document index: continuous-ingestion near-dup.

The batch LSH queries (queries/dedupe_text.py) band a whole corpus in
one shot. A training-data pipeline that ingests continuously needs the
other shape: an index of every document ever admitted, so each incoming
batch is checked against ALL history without re-shingling it. This is
the document-level sibling of the CDC chunk index
(plans/chunk_index.py) — same generation store (plans/_genstore.py),
same manifest-as-commit-point crash discipline:

* ``build_lsh_index`` — band a corpus, write generation 0 of the
  (doc_id, band_id, band_key) rows + a params manifest.
* ``admit_docs``      — band ONLY the new batch, equi-join its band
  rows against history to emit near-dup candidate pairs, append the
  new rows as a new generation. Write cost is O(batch), never
  O(index); history is NEVER re-shingled or re-hashed.
* ``index_stats``     — one-row summary.

Layout: ``<dir>/gen-<n>.parquet`` (doc_id, band_id, band_key) +
``<dir>/_lsh_meta.json``. The manifest pins the signature parameters
(shingle width, permutation count, band count, seed constants digest):
band keys are only comparable under identical parameters, so a
mismatched engine refuses instead of silently finding zero collisions.

Scale shape (100 TB): band rows are ~45 bytes x N_BANDS per document
(~4.5 GB per billion docs per band set) — a narrow table the admission
join reads with band-column pruning, under the store's declared schema
(no schema-inference job). The join shuffles the NEW batch's band rows
against the index on (band_id, band_key); AQE broadcasts the batch side
when it is small, which is the steady state for continuous ingestion.
Already-admitted doc_ids are skipped by anti-joining the batch's
signature rows against the index's ``band_id = 0`` rows (one per
indexed doc, so no distinct aggregate; idempotent re-admission), and
candidate pairs are normalized (least, greatest) + distinct so new-vs-new
collisions across several bands emit once. The report's doc and pair
counts are observed inside the generation write and the candidate
checkpoint (plans/_observed.py): an admission of a parquet batch runs
8 Spark jobs, its read included (tests/test_lsh_index.py pins it).
Generation sprawl is reclaimed by ``compact_lsh_index`` (the generation
store's compaction commit).

Determinism contract: signatures are pure functions of (doc_id, text)
— seeded affine permutations over a cross-engine md5 base hash — so
incremental admission is *provably* equivalent to the single-shot
banding query; the ``lsh_index_incremental`` registry entry checks
exactly that against a DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.plans._genstore import GenStore
from dataset_dedupe_estimator_spark.plans._index_lock import writer_lock
from dataset_dedupe_estimator_spark.plans._observed import observed_metrics
from dataset_dedupe_estimator_spark.plans._tombstones import (
    append_tombstone_set,
    minus_tombstones,
    normalize_ids,
    tombstones_df,
)
from dataset_dedupe_estimator_spark.queries.dedupe_text import (
    MH_A,
    MH_B,
    MH_P,
    N_BANDS,
    N_MINHASH,
    SHINGLE_W,
    band_rows_of,
    minhash_sig_of,
)

STORE = GenStore(
    "_lsh_meta.json", ".parquet", schema="doc_id long, band_id int, band_key string"
)
_BAND_COLS = ("doc_id", "band_id", "band_key")


def _signature_params() -> dict:
    """The parameter fingerprint band keys depend on. The permutation
    constants are digested rather than inlined — equality is what
    matters, and the digest keeps the manifest readable."""
    consts = hashlib.md5(
        json.dumps([MH_P, MH_A, MH_B]).encode()
    ).hexdigest()
    return {
        "shingle_w": SHINGLE_W,
        "n_minhash": N_MINHASH,
        "n_bands": N_BANDS,
        "permutation_digest": consts,
    }


def _check_meta(index_dir: str | Path) -> dict:
    meta = STORE.load(index_dir)
    mine = _signature_params()
    if meta["signature"] != mine:
        raise ValueError(
            f"LSH index at {index_dir} was built with signature params "
            f"{meta['signature']}; this engine computes {mine} — band "
            "keys are incomparable, rebuild the index"
        )
    return meta


def build_lsh_index(
    spark: SparkSession, docs: DataFrame, index_dir: str | Path
) -> dict:
    """Create generation 0 from a (doc_id, text) corpus. Fails if the
    dir already holds an index (use admit_docs to grow one).

    Single-writer: all index mutations (build/admit/compact) take the
    index dir's exclusive writer lock — see plans/_index_lock.py."""
    index_dir = Path(index_dir)
    if STORE.has_manifest(index_dir):
        raise FileExistsError(f"{index_dir} already holds an LSH index")
    index_dir.mkdir(parents=True, exist_ok=True)
    with writer_lock(index_dir):
        if STORE.has_manifest(index_dir):  # re-check under the lock
            raise FileExistsError(f"{index_dir} already holds an LSH index")
        STORE.clear(index_dir, None)  # a crashed build's orphans
        out = STORE.gen_path(index_dir, 0)
        bands = band_rows_of(minhash_sig_of(docs.select("doc_id", "text")))
        bands.select(*_BAND_COLS).write.mode("errorifexists").parquet(str(out))
        # exact at any corpus size: a distributed distinct count over the
        # generation just written, read with the store's schema (no
        # schema-inference job); an observed collect_set would hold
        # every doc id on the driver
        n_docs = STORE.scan(spark, out).agg(F.countDistinct("doc_id")).first()[0]
        meta = {
            "signature": _signature_params(),
            "generations": 1,
            "admissions": [{"gen": 0, "docs": n_docs, "candidate_pairs": None}],
        }
        STORE.commit(index_dir, meta)
    return {"generation": 0, "docs": n_docs}


def admit_docs(
    spark: SparkSession, docs: DataFrame, index_dir: str | Path
) -> tuple[DataFrame, dict]:
    """Admit a (doc_id, text) batch: return (candidate_pairs, report)
    and append the batch's band rows as a new generation.

    ``candidate_pairs`` is (doc_a, doc_b) with doc_a < doc_b — every
    band collision between the batch and history, plus collisions
    within the batch itself; distinct, so the union over all admissions
    equals the single-shot banding of the full corpus. doc_ids already
    in the index are skipped (idempotent re-admission).

    Single-writer: holds the index writer lock (plans/_index_lock.py)
    for the whole read-manifest → write-generation → commit cycle; a
    concurrent writer raises ConcurrentWriterError instead of clobbering
    the in-flight generation.
    """
    index_dir = Path(index_dir)
    with writer_lock(index_dir):
        return _admit_docs_locked(spark, docs, index_dir)


def _admit_docs_locked(
    spark: SparkSession, docs: DataFrame, index_dir: Path
) -> tuple[DataFrame, dict]:
    """Two actions: the generation write and the candidate checkpoint,
    each carrying one observed count of the report (plans/_observed.py).
    Both observed frames derive from ``docs``, so the session that runs
    the action is the one that registered the Observation (in
    ``foreachBatch``, the microbatch's session)."""
    meta = _check_meta(index_dir)
    gen = meta["generations"]
    STORE.clear(index_dir, meta)
    out = STORE.gen_path(index_dir, gen)
    ts = tombstones_df(spark, index_dir, meta, "doc_id")
    # deleted docs collide with nothing (their band rows are suppressed)
    known = minus_tombstones(STORE.read(spark, index_dir, meta), ts, "doc_id")
    # every signature row has exactly one band_id = 0 row: the indexed
    # ids without an aggregate (repeats are harmless to an anti-join)
    known_ids = known.filter(F.col("band_id") == 0).select("doc_id")
    if ts is not None:  # ...but their ids stay denylisted for admission
        known_ids = known_ids.unionByName(ts)
    # signatures of the batch scan itself, anti-joined afterwards: the
    # spread guard in minhash_sig_of reads ``.rdd``, which on a joined
    # AQE plan would execute the join's stages once more
    sigs = minhash_sig_of(docs.select("doc_id", "text"))
    fresh = sigs.join(known_ids, "doc_id", "left_anti")
    # persist: the band rows feed the generation write and both sides of
    # the candidate join; without it each would re-shingle and re-hash
    # the batch
    new_bands = band_rows_of(fresh).persist()
    all_bands = known.unionByName(new_bands)
    cands = (
        new_bands.alias("a")
        .join(all_bands.alias("b"), ["band_id", "band_key"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    # the doc count rides the generation write: exact (a doc id repeated
    # in the batch counts once), and its driver memory is bounded by the
    # batch's distinct ids, never the index's
    gen_df, gen_metrics = observed_metrics(
        new_bands.select(*_BAND_COLS), docs=F.size(F.collect_set("doc_id"))
    )
    gen_df.write.mode("errorifexists").parquet(str(out))
    n_docs = gen_metrics()["docs"]
    # materialize the (narrow) pair set before dropping the band cache:
    # callers consume cands AFTER this returns, and without the
    # checkpoint that evaluation would re-shingle and re-join the batch;
    # the pair count rides the checkpoint's own job
    cands, cand_metrics = observed_metrics(cands, pairs=F.count(F.lit(1)))
    cands = cands.localCheckpoint(eager=True)
    n_pairs = cand_metrics()["pairs"]
    meta["generations"] = gen + 1
    meta["admissions"].append(
        {"gen": gen, "docs": n_docs, "candidate_pairs": n_pairs}
    )
    STORE.commit(index_dir, meta)
    new_bands.unpersist()
    return cands, {"generation": gen, "docs": n_docs, "candidate_pairs": n_pairs}


def query_docs(
    spark: SparkSession, docs: DataFrame, index_dir: str | Path
) -> DataFrame:
    """Read-only near-dup lookup: (probe_doc_id, index_doc_id) for every
    band collision between the probe set and the index. Nothing is
    admitted — the pre-ingest "have we seen this?" check and the
    index-backed contamination audit. Same join shape as admission;
    probes whose doc_id already exists in the index still match their
    OTHER near-dups (self-matches are excluded by doc_id)."""
    meta = _check_meta(index_dir)
    known = minus_tombstones(
        STORE.read(spark, index_dir, meta),
        tombstones_df(spark, index_dir, meta, "doc_id"),
        "doc_id",
    )
    probe_bands = band_rows_of(minhash_sig_of(docs.select("doc_id", "text")))
    return (
        probe_bands.alias("p")
        .join(known.alias("i"), ["band_id", "band_key"])
        .filter(F.col("p.doc_id") != F.col("i.doc_id"))
        .select(
            F.col("p.doc_id").alias("probe_doc_id"),
            F.col("i.doc_id").alias("index_doc_id"),
        )
        .distinct()
    )


def delete_docs(spark: SparkSession, index_dir: str | Path, ids) -> dict:
    """Delete documents (takedown): append a tombstone set — their band
    rows stop matching queries and admissions immediately; compaction
    physically purges them. Tombstoned ids are denylisted from
    re-admission until a compaction clears the sets (shared semantics:
    plans/_tombstones.py). ``ids`` is an iterable or one-column frame.
    O(tombstones), never O(index) — no generation is rewritten here."""
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


def compact_lsh_index(
    spark: SparkSession, index_dir: str | Path, files_out: int | None = None
) -> dict:
    """Merge every live generation into one (the generation store's
    commit protocol, plans/_genstore.py): the merged generation is
    written under the NEXT gen number, the manifest commit atomically
    records both it and ``compacted_below``, and only then are
    superseded directories deleted.

    Single-writer: holds the index writer lock (plans/_index_lock.py)."""
    with writer_lock(index_dir):
        meta = _check_meta(index_dir)
        gen, n_live, n_rows = STORE.merge(spark, index_dir, meta, "doc_id", files_out)
        STORE.commit_compaction(
            index_dir, meta, gen,
            {"gen": gen, "merged_generations": n_live, "band_rows": n_rows},
        )
    return {"generation": gen, "merged_generations": n_live, "band_rows": n_rows}


def index_stats(spark: SparkSession, index_dir: str | Path) -> dict:
    meta = _check_meta(index_dir)
    idx = minus_tombstones(  # live view: tombstoned docs don't count
        STORE.read(spark, index_dir, meta),
        tombstones_df(spark, index_dir, meta, "doc_id"),
        "doc_id",
    )
    n_docs, n_rows = idx.agg(
        F.countDistinct("doc_id"), F.count(F.lit(1))
    ).collect()[0]
    return {
        "generations": meta["generations"],
        "docs": n_docs,
        "band_rows": n_rows,
        "tombstone_sets": meta.get("tombstone_sets", 0),
    }
