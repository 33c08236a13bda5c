"""Persistent chunk-hash index: the content-store side of CDC dedup.

The reference estimates dedup between snapshots it is handed
(``upload_delta``, notebooks/parquet-cdc.md:814-838); a real content
store additionally keeps a *persistent* index of every chunk it has
ever accepted, so each incoming snapshot is measured (and admitted)
against all history, not just the previous snapshot. This module is
that index, log-structured on parquet:

* ``build_index``   — chunk a snapshot, reduce to distinct hashes,
  write generation 0 of the index + a params manifest.
* ``update_index``  — chunk a new snapshot, anti-join against the
  index, append ONLY the novel chunk rows as a new generation file,
  and report the transfer stats (novel chunks/bytes = what a client
  would actually upload).
* ``index_stats``   — one-row summary of the current index.

Index layout: ``<dir>/gen-<n>.parquet`` (columns hash, size, csize) +
``<dir>/_index_meta.json`` (chunker params + generation counter). Rows
are distinct by hash across ALL generations — ``update_index`` appends
a generation rather than rewriting history, so an update's write cost
is O(novel chunks), never O(index). Periodic compaction of the many
small generation files is exactly what ``sources/compact.py`` does.

Scale shape (100 TB): the index holds 24-byte rows per unique chunk
(~1.6B rows / ~40 GB for 100 TB at 64 KiB chunks) — a narrow parquet
table Spark reads with hash-only column pruning for the anti-join. The
update shuffles only narrow hash rows; AQE broadcasts whichever side
is small. Updating NEVER re-chunks history: the new snapshot is
chunked once at the scan edge, history arrives pre-reduced.

Params discipline: chunk boundaries are only comparable under the same
``ChunkerParams``; the manifest pins them at build time and
``update_index`` always re-chunks with the manifest's params, so a
mismatched update (which would silently report ~0% dedup) is
impossible by construction.
"""

from __future__ import annotations

import dataclasses
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.chunker import (
    IDENTITY_HASH,
    ChunkerParams,
    chunk_files_auto,
)
from dataset_dedupe_estimator_spark.plans._genstore import GenStore
from dataset_dedupe_estimator_spark.plans._index_lock import writer_lock
from dataset_dedupe_estimator_spark.plans._observed import observed_metrics
from dataset_dedupe_estimator_spark.plans._tombstones import (
    _clear_stale_sets,
    append_tombstone_set,
    minus_tombstones,
    normalize_ids,
    resurrect_keys,
    tombstones_df,
)
from dataset_dedupe_estimator_spark.plans.estimate import ESTIMATE_PARAMS

STORE = GenStore("_index_meta.json", ".parquet", schema="hash long, size long, csize long")
_CHUNK_COLS = ("hash", "size", "csize")  # csize = chunker "compressed"


def _params_dict(params: ChunkerParams) -> dict:
    d = dataclasses.asdict(params)
    if d.get("gear_table") is not None:
        d["gear_table"] = list(d["gear_table"])
    return d


def build_index(
    spark: SparkSession,
    paths: list[str],
    index_dir: str | Path,
    params: ChunkerParams = ESTIMATE_PARAMS,
) -> dict:
    """Create generation 0 from a snapshot. Fails if the dir already
    holds an index (use update_index to grow one).

    Single-writer: all index mutations (build/update/compact) take the
    index dir's exclusive writer lock — see plans/_index_lock.py."""
    index_dir = Path(index_dir)
    if STORE.has_manifest(index_dir):
        raise FileExistsError(f"{index_dir} already holds an index")
    index_dir.mkdir(parents=True, exist_ok=True)
    with writer_lock(index_dir):
        if STORE.has_manifest(index_dir):  # re-check under the lock
            raise FileExistsError(f"{index_dir} already holds an index")
        STORE.clear(index_dir, None)  # a crashed build's orphans
        gen0 = STORE.gen_path(index_dir, 0)
        chunks = chunk_files_auto(spark, paths, params=params)
        distinct = (
            chunks.groupBy("hash")
            .agg(F.min("size").alias("size"), F.min("compressed").alias("csize"))
        )
        # counts ride the gen-0 write (plans/_observed.py) — no
        # read-back of the rows just written
        distinct_obs, resolve = observed_metrics(
            distinct, n=F.count(F.lit(1)), s=F.sum("size")
        )
        distinct_obs.write.mode("errorifexists").parquet(str(gen0))
        m = resolve()
        n_chunks, n_bytes = m["n"], m["s"]
        meta = {
            "params": _params_dict(params),
            # hashes are only comparable under the same identity hash; pin it
            # so a future engine with a different hash refuses the index
            # instead of silently reporting ~100% novel
            "identity_hash": IDENTITY_HASH,
            "generations": 1,
            "snapshots": [{"gen": 0, "files": len(paths), "novel_chunks": n_chunks, "novel_bytes": n_bytes}],
        }
        STORE.commit(index_dir, meta)
    return {"generation": 0, "novel_chunks": n_chunks, "novel_bytes": n_bytes}


def update_index(
    spark: SparkSession, paths: list[str], index_dir: str | Path
) -> dict:
    """Admit a snapshot: append its novel chunks as a new generation and
    return the transfer stats. Write cost is O(novel), not O(index).

    Single-writer: holds the index writer lock (plans/_index_lock.py)
    for the whole read-manifest → write-generation → commit cycle; a
    concurrent writer raises ConcurrentWriterError instead of clobbering
    the in-flight generation."""
    index_dir = Path(index_dir)
    with writer_lock(index_dir):
        return _update_index_locked(spark, paths, index_dir)


def _update_index_locked(
    spark: SparkSession, paths: list[str], index_dir: Path
) -> dict:
    meta = STORE.load(index_dir)
    pinned_hash = meta.get("identity_hash", IDENTITY_HASH)
    if pinned_hash != IDENTITY_HASH:
        raise ValueError(
            f"index at {index_dir} was built with identity hash "
            f"{pinned_hash!r}; this engine computes {IDENTITY_HASH!r} — "
            "hashes are incomparable, rebuild the index"
        )
    params = ChunkerParams(
        **{
            k: (tuple(v) if k == "gear_table" and v is not None else v)
            for k, v in meta["params"].items()
        }
    )
    gen = meta["generations"]
    STORE.clear(index_dir, meta)
    out = STORE.gen_path(index_dir, gen)
    ts = tombstones_df(spark, index_dir, meta, "hash")
    # content-keyed: a deleted (reclaimed) chunk tests as ABSENT — the
    # client re-uploads it and resurrection below makes it present again
    known = minus_tombstones(
        STORE.read(spark, index_dir, meta), ts, "hash"
    ).select("hash")
    chunks = chunk_files_auto(spark, paths, params=params)
    # persist the per-hash aggregate: it feeds two actions (the novel
    # write and the snapshot stats) and without it each action would
    # re-chunk the entire snapshot — the rows here are ~32 bytes per
    # unique chunk, tiny next to the bytes they describe
    snap = chunks.groupBy("hash").agg(
        F.min("size").alias("size"),
        F.min("compressed").alias("csize"),
        F.count(F.lit(1)).alias("occ"),
    ).persist()
    novel = snap.join(known, "hash", "left_anti")
    resurrected_bytes = n_back = 0
    if ts is not None:
        # a re-uploaded tombstoned chunk: its ORIGINAL row returns to
        # view (tombstone removed) instead of a duplicate row being
        # written — rows stay distinct by hash across generations; the
        # client still transfers the bytes (counted below)
        back = snap.join(ts, "hash", "left_semi").localCheckpoint(eager=True)
        n_back = resurrect_keys(spark, index_dir, meta, back, "hash")
        if n_back:
            novel = novel.join(ts, "hash", "left_anti")
            resurrected_bytes = int(
                back.agg(F.sum("size")).collect()[0][0] or 0
            )
    # novel accounting rides the generation write (plans/_observed.py):
    # the write is the only pass over the novel rows — a runtime-empty
    # novel set (nothing new in the snapshot) resolves to n=0/s=None
    # exactly like the old read-back did
    novel_obs, resolve = observed_metrics(
        novel.select(*_CHUNK_COLS), n=F.count(F.lit(1)), s=F.sum("size")
    )
    novel_obs.write.mode("errorifexists").parquet(str(out))
    m = resolve()
    novel_chunks, novel_bytes = m["n"], m["s"]
    snap_chunks, snap_bytes = (
        snap.agg(F.sum("occ"), F.sum(F.col("occ") * F.col("size"))).collect()[0]
    )
    novel_bytes = (novel_bytes or 0) + resurrected_bytes
    meta["generations"] = gen + 1
    meta["snapshots"].append(
        {"gen": gen, "files": len(paths), "novel_chunks": novel_chunks,
         "novel_bytes": novel_bytes, "resurrected_chunks": n_back}
    )
    STORE.commit(index_dir, meta)
    _clear_stale_sets(index_dir, meta)  # superseded by a resurrection
    snap.unpersist()
    return {
        "generation": gen,
        "snapshot_chunks": snap_chunks,
        "snapshot_bytes": snap_bytes,
        "novel_chunks": novel_chunks,
        "resurrected_chunks": n_back,
        # novel includes re-uploaded previously-deleted bytes: both move
        "novel_bytes": novel_bytes,
        # what a client uploads: the novel fraction of the snapshot
        "transfer_ratio": (novel_bytes / snap_bytes) if snap_bytes else 0.0,
    }


def delete_chunks(spark: SparkSession, index_dir: str | Path, hashes) -> dict:
    """Delete chunks (store GC / takedown of content-addressed blocks):
    append a tombstone set — the hashes test as ABSENT from the next
    update on (a client re-uploading them transfers the bytes and the
    original rows RETURN to view: content-keyed resurrection, unlike
    the doc-id indexes' denylist). Compaction physically purges
    still-tombstoned rows. ``hashes`` is an iterable or one-column
    frame. O(tombstones) — no generation is rewritten here."""
    index_dir = Path(index_dir)
    with writer_lock(index_dir):
        meta = STORE.load(index_dir)
        ids_df = normalize_ids(spark, hashes, "hash")
        fresh = append_tombstone_set(spark, index_dir, meta, ids_df, "hash")
        if fresh is None:
            return {"tombstoned": 0}
        n_new = fresh.count()
        meta.setdefault("deletions", []).append(
            {"set": meta["tombstone_sets"] - 1, "chunks": n_new}
        )
        STORE.commit(index_dir, meta)  # commit point
    return {"tombstoned": n_new}


def compact_index(spark: SparkSession, index_dir: str | Path, files_out: int | None = None) -> dict:
    """Merge every live generation into one, reclaiming the many small
    files a long admission history accumulates (same job as
    sources/compact.py, specialized to the index's commit protocol).

    Crash safety is the generation store's (plans/_genstore.py): the
    merged generation is written under the NEXT gen number, one manifest
    commit records both it and ``compacted_below``, and only then are
    the superseded directories deleted.

    Single-writer: holds the index writer lock (plans/_index_lock.py)."""
    with writer_lock(index_dir):
        meta = STORE.load(index_dir)
        gen, n_live, n_chunks = STORE.merge(spark, index_dir, meta, "hash", files_out)
        STORE.commit_compaction(
            index_dir, meta, gen,
            {"gen": gen, "merged_generations": n_live, "chunks": n_chunks},
        )
    return {"generation": gen, "merged_generations": n_live, "chunks": n_chunks}


def index_stats(spark: SparkSession, index_dir: str | Path) -> DataFrame:
    """One row: generations, unique chunks, unique bytes, compressed bytes."""
    meta = STORE.load(index_dir)
    idx = minus_tombstones(  # live view: tombstoned chunks don't count
        STORE.read(spark, index_dir, meta),
        tombstones_df(spark, index_dir, meta, "hash"),
        "hash",
    )
    return idx.agg(
        F.lit(meta["generations"]).alias("generations"),
        F.count(F.lit(1)).alias("unique_chunks"),
        F.sum("size").alias("unique_bytes"),
        F.sum("csize").alias("compressed_bytes"),
    )
