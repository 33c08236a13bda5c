"""Shared tombstone-set machinery for the persistent indexes.

All five indexes (chunk, LSH, gram, text — plans/*.py — and PQ,
operators/ann.py) keep their rows in the generation store
(plans/_genstore.py): immutable parquet generations, a JSON manifest as
the single commit point, one writer lock. Deletion (takedown,
right-to-be-forgotten, retraction of a contaminated source) gets the
same treatment: a delete appends an immutable TOMBSTONE SET — a small
parquet of deleted keys under ``<index>/tombstones/`` — and commits by
bumping ``tombstone_sets`` in the index's manifest. Readers anti-join
live rows against the union of committed sets (tiny → AQE
broadcasts); COMPACTION physically drops tombstoned rows, and the
store's compaction commit (``GenStore.commit_compaction``) zeroes the
set window in the same manifest write that advances the floor, then
calls :func:`clear_tombstones` — so the bytes are actually gone, not
just hidden.

Semantics (shared across indexes, pinned by each index's tests):

* deleting is DENYLISTING the key: a tombstoned key is suppressed from
  every read AND skipped by admission (it may arrive again from a
  re-crawl), until a compaction purges the rows and clears the set —
  after which the key is unknown and admissible again;
* deleting a key the index never held is allowed (it just denylists);
* re-deleting is idempotent (already-tombstoned keys are not re-added,
  so per-delete accounting never double-counts);
* crash between the set write and the manifest commit leaves an orphan
  at ``>= tombstone_sets`` that the next delete clears — readers go by
  the manifest and never see it.

At 100 TB the tombstone sets are keys-only parquet (a full-source
takedown of 10M docs is ~80 MB), read once per query and broadcast;
the anti-join adds no shuffle to any serving plan.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_TS_DIR = "tombstones"


def _ts_path(index_dir: str | Path, n: int) -> Path:
    return Path(index_dir) / _TS_DIR / f"ts-{n:05d}.parquet"


def normalize_ids(spark: SparkSession, ids, key_col: str) -> DataFrame:
    """Accept a one-column DataFrame (any column name) or a plain
    iterable of keys; return a distinct single-column frame named
    ``key_col``."""
    if isinstance(ids, DataFrame):
        if key_col in ids.columns:
            df = ids.select(key_col)
        elif len(ids.columns) == 1:
            df = ids.select(ids.columns[0]).toDF(key_col)
        else:
            raise ValueError(
                f"ids frame must carry a {key_col!r} column or exactly "
                f"one column, got {ids.columns}"
            )
        return df.distinct()
    rows = [(i,) for i in ids]
    if not rows:
        raise ValueError("no ids to delete")
    return spark.createDataFrame(rows, [key_col]).distinct()


def tombstones_df(
    spark: SparkSession, index_dir: str | Path, meta: dict, key_col: str
) -> DataFrame | None:
    """Union of committed tombstone sets, or None when the manifest
    records none — callers skip the anti-join entirely. Live sets are
    ``[tombstone_floor, tombstone_sets)`` — the floor advances when a
    consolidation supersedes earlier sets (see :func:`resurrect_keys`),
    exactly like ``compacted_below`` for generations. The keys are
    distinct without an aggregate: each set is written distinct, and
    holds only keys no earlier live set holds. The read declares the
    key's type, taken from one set's footer on the driver, so it runs
    no schema-inference job: integer keys read as ``long`` (a narrower
    column widens), string keys (the CLI's ``--string-ids``) as
    ``string``; any other type is inferred."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lo = meta.get("tombstone_floor", 0)
    k = meta.get("tombstone_sets", 0)
    if lo >= k:
        return None
    paths = [str(_ts_path(index_dir, i)) for i in range(lo, k)]
    part = next(Path(paths[0]).glob("*.parquet"))
    t = pq.read_schema(part).field(key_col).type
    ddl = (
        "long" if pa.types.is_integer(t)
        else "string" if pa.types.is_string(t) or pa.types.is_large_string(t)
        else None
    )
    reader = spark.read if ddl is None else spark.read.schema(f"{key_col} {ddl}")
    return reader.parquet(*paths).select(key_col)


def minus_tombstones(df: DataFrame, ts: DataFrame | None, key_col: str) -> DataFrame:
    """Anti-join helper: identity when no tombstones exist."""
    return df if ts is None else df.join(ts, key_col, "left_anti")


def append_tombstone_set(
    spark: SparkSession,
    index_dir: str | Path,
    meta: dict,
    ids: DataFrame,
    key_col: str,
) -> DataFrame | None:
    """Write the next tombstone set (requested ids minus those already
    tombstoned) and bump ``meta['tombstone_sets']`` IN MEMORY — the
    caller commits via its own manifest write, keeping the set file +
    manifest ordering (file first, commit second) that makes a crash
    between them an invisible orphan.

    Returns the frame of newly-tombstoned keys (localCheckpointed, so
    callers can count/join it after the write without re-reading), or
    None when every requested id was already tombstoned (nothing
    written, manifest untouched).
    """
    n = meta.get("tombstone_sets", 0)
    _clear_stale_sets(index_dir, meta)
    prior = tombstones_df(spark, index_dir, meta, key_col)
    fresh = minus_tombstones(ids.select(key_col).distinct(), prior, key_col)
    fresh = fresh.localCheckpoint(eager=True)
    if not fresh.count():
        return None
    fresh.coalesce(1).write.parquet(str(_ts_path(index_dir, n)))
    meta["tombstone_sets"] = n + 1
    return fresh


def _clear_stale_sets(index_dir: str | Path, meta: dict) -> None:
    """Remove set files OUTSIDE the committed live window: at/above the
    counter (a crashed write, or stale slots after a compaction reset
    the counter) and below the floor (a consolidation superseded them —
    a crash between its commit and its cleanup leaves them behind)."""
    lo = meta.get("tombstone_floor", 0)
    n = meta.get("tombstone_sets", 0)
    ts_root = Path(index_dir) / _TS_DIR
    if ts_root.is_dir():
        for p in ts_root.glob("ts-*.parquet"):
            slot = int(p.name.removeprefix("ts-").removesuffix(".parquet"))
            if slot >= n or slot < lo:
                shutil.rmtree(p)


def resurrect_keys(
    spark: SparkSession,
    index_dir: str | Path,
    meta: dict,
    keys: DataFrame,
    key_col: str,
) -> int:
    """Remove ``keys`` from the tombstones (content-keyed indexes: a
    re-admitted key must test as present again — id-keyed indexes keep
    denylist semantics instead and never call this). Consolidates the
    live sets minus ``keys`` into the next slot and advances
    ``tombstone_floor`` past the old ones — both IN MEMORY; the caller
    commits via its manifest write, then calls
    :func:`_clear_stale_sets` (or lets the next mutation do it) for
    the superseded files. Returns the number of keys resurrected; 0
    means nothing intersected and nothing was staged."""
    ts = tombstones_df(spark, index_dir, meta, key_col)
    if ts is None:
        return 0
    hit = keys.select(key_col).distinct().join(ts, key_col, "left_semi")
    n_hit = hit.count()
    if not n_hit:
        return 0
    n = meta["tombstone_sets"]
    remaining = ts.join(hit, key_col, "left_anti").localCheckpoint(eager=True)
    if remaining.count():
        remaining.coalesce(1).write.parquet(str(_ts_path(index_dir, n)))
        meta["tombstone_floor"] = n
        meta["tombstone_sets"] = n + 1
    else:  # empty window — no file needed
        meta["tombstone_floor"] = n
    return n_hit


def clear_tombstones(index_dir: str | Path) -> None:
    """Remove every tombstone set file — called AFTER a compaction
    commit whose manifest already records ``tombstone_sets: 0`` (the
    purge is durable before the files go; a crash in between leaves
    orphans the next delete clears)."""
    shutil.rmtree(Path(index_dir) / _TS_DIR, ignore_errors=True)
