"""Generation store: the storage protocol of the five persistent indexes.

The chunk, LSH, gram and text indexes (plans/*_index.py) and the PQ
index (operators/ann.py) are log-structured the same way, and this
module is the only code that knows how:

* rows live in immutable generation dirs ``gen-NNNNN<suffix>`` (the
  suffix is ``.parquet`` for chunk/gram/LSH, empty for text/PQ); the
  number is the full digit run, so ``gen-100000`` follows ``gen-99999``;
* a JSON manifest, replaced atomically (``os.replace``), is the ONLY
  commit point: ``generations`` is the counter, ``compacted_below`` the
  floor. The live window is ``[compacted_below, generations)``, read
  FROM THE MANIFEST — never from a disk listing. A dir at or above the
  counter is an uncommitted write (in flight, or left by a crash before
  its commit); a dir below the floor was superseded by a committed
  compaction and survives only if a crash hit before its cleanup. Both
  are invisible to every reader. Legacy manifests load: PQ's ``floor``
  key is read as ``compacted_below``, and a manifest with neither key
  (never compacted) has floor 0;
* writers hold ``_index_lock.writer_lock`` and call :meth:`clear` when a
  build, admission or compaction starts: every generation dir outside
  the window goes, so the write never meets a leftover at its path;
* compaction writes the merged generation at the counter (:meth:`merge`
  for the flat payloads), one output file per ~128 MB merged
  (:func:`target_files`); :meth:`commit_compaction` advances the window
  past everything it merged in one manifest commit, then removes the
  superseded dirs and the tombstone sets it purged
  (plans/_tombstones.py).

Each index keeps only what is its own: payload schema, params pin,
admission logic, empty-batch rule, report dicts and manifest ledger.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from dataset_dedupe_estimator_spark.plans._tombstones import (
    clear_tombstones,
    minus_tombstones,
    tombstones_df,
)

# compaction output sizing: one file (task) per ~this many merged bytes
TARGET_BYTES = 128 << 20


@dataclasses.dataclass(frozen=True)
class GenStore:
    """One index kind's generation layout: its manifest filename, the
    generation dir suffix, the manifest's JSON indent (None for PQ,
    whose manifest carries the trained centroids and codebooks), and the
    declared payload schema of a flat parquet payload (a DDL string, in
    on-disk column order; None infers it). Methods take the index dir."""

    manifest: str
    suffix: str = ""
    indent: int | None = 1
    schema: str | None = None

    def gen_path(self, index_dir: str | Path, n: int) -> Path:
        return Path(index_dir) / f"gen-{n:05d}{self.suffix}"

    def has_manifest(self, index_dir: str | Path) -> bool:
        return (Path(index_dir) / self.manifest).exists()

    def load(self, index_dir: str | Path) -> dict:
        """The committed manifest. A dir without one is not an index:
        this raises rather than reading generations with a guessed floor."""
        with open(Path(index_dir) / self.manifest) as f:
            return json.load(f)

    def commit(self, index_dir: str | Path, meta: dict) -> None:
        """Atomic replace: a crash mid-write never corrupts the manifest."""
        index_dir = Path(index_dir)
        tmp = index_dir / (self.manifest + ".tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=self.indent)
        os.replace(tmp, index_dir / self.manifest)

    @staticmethod
    def window(meta: dict | None) -> range:
        """Committed generation numbers; empty when there is no manifest."""
        if meta is None:
            return range(0)
        floor = meta.get("compacted_below", meta.get("floor", 0))
        return range(floor, meta["generations"])

    def live(self, index_dir: str | Path, meta: dict) -> list[Path]:
        """Committed generation dirs, in order. A committed dir missing
        from disk is not skipped: the read that lists it fails."""
        gens = [self.gen_path(index_dir, n) for n in self.window(meta)]
        if not gens:
            raise FileNotFoundError(f"no index generations under {index_dir}")
        return gens

    def scan(self, spark: SparkSession, *paths: str | Path) -> DataFrame:
        """A parquet scan of ``paths`` with the declared payload schema.
        Without one, ``spark.read.parquet`` first runs a Spark job to
        infer the schema from a footer. Spark reads every column as
        nullable either way, so what a compaction writes is unchanged."""
        reader = spark.read if self.schema is None else spark.read.schema(self.schema)
        return reader.parquet(*(str(p) for p in paths))

    def read(
        self,
        spark: SparkSession,
        index_dir: str | Path,
        meta: dict | None = None,
        sub: str = "",
    ) -> DataFrame:
        """One scan over every live generation (or over its ``sub`` dir),
        for unpartitioned payloads. ``meta`` defaults to a fresh manifest
        read; pass the caller's copy so the generation list and the
        tombstone window come from the same commit."""
        meta = self.load(index_dir) if meta is None else meta
        return self.scan(spark, *(g / sub for g in self.live(index_dir, meta)))

    def read_each(
        self, spark: SparkSession, index_dir: str | Path, meta: dict, sub: str = ""
    ) -> DataFrame:
        """Union of one scan per live generation (or per ``sub`` dir), for
        partitioned payloads: Spark refuses a multi-path read of several
        partitioned roots, and per-root scans keep partition pruning."""
        reads = [spark.read.parquet(str(g / sub)) for g in self.live(index_dir, meta)]
        return functools.reduce(DataFrame.unionByName, reads)

    def clear(self, index_dir: str | Path, meta: dict | None) -> None:
        """Remove every generation dir outside the committed window
        (``meta=None``: no manifest yet, so every one). Writers only,
        under the writer lock; readers never list these dirs."""
        pat = re.compile(r"gen-(\d+)" + re.escape(self.suffix))
        live = self.window(meta)
        for p in Path(index_dir).glob("gen-*"):
            m = pat.fullmatch(p.name)
            if m and int(m.group(1)) not in live:
                shutil.rmtree(p)

    def merge(
        self,
        spark: SparkSession,
        index_dir: str | Path,
        meta: dict,
        key_col: str,
        files_out: int | None = None,
    ) -> tuple[int, int, int]:
        """Compaction's write for a flat payload (chunk, gram, LSH): clear
        leftovers, then merge the live window minus tombstoned ``key_col``
        rows into one generation at the counter, in ``files_out`` files
        (default: sized by :func:`target_files`). Returns (generation,
        generations merged, rows written); the caller adds its ledger
        entry and calls :meth:`commit_compaction`."""
        gen = meta["generations"]
        self.clear(index_dir, meta)
        live = self.live(index_dir, meta)
        if files_out is None:
            files_out = target_files(live)
        merged = minus_tombstones(  # physically purge deleted keys
            self.read(spark, index_dir, meta),
            tombstones_df(spark, index_dir, meta, key_col),
            key_col,
        )
        out = self.gen_path(index_dir, gen)
        merged.coalesce(int(files_out)).write.parquet(str(out))
        return gen, len(live), self.scan(spark, out).count()

    def commit_compaction(
        self, index_dir: str | Path, meta: dict, gen: int, entry: dict | None = None
    ) -> None:
        """Commit generation ``gen`` (written at the counter) as the
        merge of the whole window: it becomes the only live generation,
        and the tombstone sets it purged are dropped in the same commit,
        which also appends ``entry`` to the index's ``compactions``
        ledger. Then remove the superseded dirs and the set files. A
        crash after the commit leaves dirs below the floor that no reader
        lists and the next writer clears."""
        meta["generations"] = gen + 1
        meta["compacted_below"] = gen
        meta.pop("floor", None)  # legacy PQ key, superseded
        meta["tombstone_sets"] = 0
        meta["tombstone_floor"] = 0
        if entry is not None:
            meta.setdefault("compactions", []).append(entry)
        self.commit(index_dir, meta)  # commit point
        self.clear(index_dir, meta)
        clear_tombstones(index_dir)


def target_files(dirs) -> int:
    """Output file count for a merge of ``dirs``: one per TARGET_BYTES
    of parquet in them (at least one)."""
    n = sum(f.stat().st_size for d in dirs for f in Path(d).rglob("*.parquet"))
    return max(1, -(-n // TARGET_BYTES))
