"""Versioned parquet tables: reproducible dataset snapshots + time travel.

The missing lifecycle piece for a 100 TB training corpus is not another
operator but *reproducibility*: "train on corpus@v3" must mean the same
bytes next month, while ingestion keeps appending and compaction keeps
rewriting. The lakehouse answer (Delta/Iceberg-style) is a transaction
log over immutable data files, and it maps cleanly onto the primitives
this repo already uses for its persistent indexes
(`plans/_index_lock.py` single-writer lock; manifest-commit protocol of
`plans/chunk_index.py`):

* Every commit writes its parquet to a fresh immutable directory
  ``data/c<version>/``, then creates ``_vlog/v<version>.json`` with
  ``O_CREAT|O_EXCL``. **The log-entry create is the atomic commit
  point** — a crash before it leaves an orphan data directory that no
  reader ever resolves (and ``vacuum`` removes); a crash after it is a
  completed commit. Nothing is ever modified in place, so readers never
  take a lock and any historical version stays byte-stable until
  ``vacuum`` retires versions older than the retention floor.
* Writers hold the shared single-writer lock for the (read log →
  write data → commit) cycle, so version numbers never race; even
  without the lock, O_EXCL on the entry file means two racing writers
  cannot both commit the same version.
* ``read_version`` resolves the live set by folding the log: an
  ``append`` adds its directory to the live set, an ``overwrite``
  replaces it. Reads are plain parquet scans of the live directories
  (predicate pushdown, partition pruning, and the z-order layout of
  `operators/layout.py` all apply unchanged — commit directories are
  just parquet).
* The METADATA path is kept O(live set + tail), never O(all history)
  (r8): every ``_CKPT_EVERY`` commits the writer folds the log into a
  parquet checkpoint (``_vlog/ckpt-v*.parquet``) holding only the
  entries a latest-version reader needs — live-dir entries (dead,
  fully-masked dirs dropped), accumulated masks, active constraints,
  inherited declarations — and hot-path readers load checkpoint + JSON
  tail. Bloom bitmaps live in per-commit parquet SIDECARS
  (``_blooms/``), loaded lazily per probed commit, never inlined in
  the JSON entries. Raw entries remain the source of truth: explicit
  time travel, ``history``, the change feed, and vacuum read them, and
  deleting every checkpoint/sidecar only slows or disables an
  optimization (pinned by test).

At 100 TB: the log holds one small JSON file per commit plus a folded
checkpoint; snapshot isolation costs zero data movement; storage
overhead is bounded by the overwritten-but-retained generations, which
``vacuum`` reclaims after their retention expires.

Reference parity note: the reference engine has no table format; this
is part of the beyond-reference lifecycle surface (SURVEY.md training-
data-pipeline scope), like `operators/matview.py` and
`queries/maintenance.py`.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from collections.abc import Callable
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from dataset_dedupe_estimator_spark.plans._index_lock import writer_lock

_VLOG = "_vlog"
_DATA = "data"
_CDF = "_cdf"  # per-commit change-data files (row-level CDC at rest)
_BLOOMS = "_blooms"  # per-commit bloom-bitmap parquet sidecars
_DV = "_dv"  # per-commit deletion vectors (position-delete sidecars)

# DV row identity: the percent-ENCODED `cNNNNNNNN/<rel>` suffix of
# `_metadata.file_path` (greedy prefix takes the LAST '/data/'
# occurrence, so a root path containing '/data/' can't shadow it;
# partition values can never contain a literal '/'), plus the row's
# position within the file. Both the DV writer and every reader derive
# the key from the SAME JVM expression over the same metadata column,
# so encoding is consistent by construction and the key survives a
# table relocation.
_DV_KEY = r"^.*/data/(c[0-9]{8}/.*)$"


def _cf_active(live_entries: list[dict]) -> bool:
    """Change feed is ENABLE-ONLY (the Delta property shape): active
    from the first commit that sets ``change_feed`` onward."""
    return any(e.get("change_feed") for e in live_entries)


def _active_constraints(live_entries: list[dict]) -> dict | None:
    """The LATEST ``set_constraints`` entry wins (replace semantics);
    None when no constraints were ever set or the latest set is empty."""
    for e in reversed(live_entries):
        if e["action"] == "set_constraints":
            cons = {
                "not_null": e.get("not_null") or [],
                "checks": [tuple(c) for c in (e.get("checks") or [])],
            }
            return cons if (cons["not_null"] or cons["checks"]) else None
    return None


def _enforce_constraints(df: DataFrame, cons: dict | None) -> None:
    """Raise if any incoming row violates the active constraints —
    one O(batch) filter+limit job, never a table scan. CHECK uses the
    same null-rejecting (column, op, value) language as zone maps: a
    NULL in a check column VIOLATES (use not_null-less checks plus an
    explicit coalesce upstream if NULLs should pass)."""
    from pyspark.sql import functions as F

    if not cons:
        return
    viol = F.lit(False)
    for c in cons["not_null"]:
        viol = viol | F.col(c).isNull()
    if cons["checks"]:
        ok = _predicate_cond(df, cons["checks"])
        viol = viol | ~F.coalesce(ok, F.lit(False))
    bad = df.filter(viol).limit(3).collect()
    if bad:
        raise ValueError(
            "constraint violation: commit rejected "
            f"(not_null={cons['not_null']}, checks={cons['checks']}); "
            f"example rows: {[tuple(r) for r in bad]}"
        )


def set_constraints(
    root: str | Path,
    not_null: list[str] | None = None,
    checks: list[tuple] | None = None,
) -> dict:
    """Declare table constraints (the Delta CHECK / NOT NULL shape) as
    a dir-less property commit — REPLACE semantics: the latest
    ``set_constraints`` entry defines the active set, and
    ``set_constraints(root)`` with no arguments drops all constraints.

    From the next commit onward, ``append`` / ``overwrite`` /
    ``upsert_pruned`` validate INCOMING rows with one O(batch)
    filter-and-limit job and refuse the whole commit on the first
    violation (atomic: nothing lands). ``checks`` use the zone-map
    predicate language — ``(column, op, value)`` conjunctions, op in
    ==/</<=/>/>=/between — and are null-rejecting: a NULL in a check
    column violates. Deletes, compaction, and other row-preserving
    commits are exempt (they add no rows). Existing rows are NOT
    retro-validated (declare before first ingest, or validate a
    snapshot read yourself).
    """
    root = Path(root)
    (root / _VLOG).mkdir(parents=True, exist_ok=True)
    for p in checks or []:
        if len(p) != 3 or p[1] not in _PRUNE_OPS:
            raise ValueError(
                f"check {p!r} must be (column, op, value) with op in "
                f"{sorted(_PRUNE_OPS)}"
            )
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _snapshot_entries(root)
        if not entries:
            raise VersionNotFoundError(
                f"{root} has no committed versions — constraints attach "
                "to an existing table (commit an empty append first if "
                "you need declare-before-ingest)"
            )
        last = entries[-1]
        mapping = _column_mapping(entries)
        entry = {
            "version": last["version"] + 1,
            "action": "set_constraints",
            "dir": None,
            # property commits must replicate the inheritable table
            # metadata: the next data commit reads it from entries[-1]
            "columns": last["columns"],
            "partition_by": last.get("partition_by") or [],
            # callers speak logical; enforcement runs on physical frames
            "not_null": sorted(_names_to_physical(not_null or [], mapping)),
            "checks": [
                [_name_to_physical(c, mapping), op, v]
                for c, op, v in (checks or [])
            ],
            "ts": time.time(),
        }
        if last.get("stats_columns"):
            entry["stats_columns"] = last["stats_columns"]
        if last.get("bloom_columns"):
            entry["bloom_columns"] = last["bloom_columns"]
            entry["bloom_bits"] = last.get("bloom_bits") or 65_536
        if last.get("change_feed"):
            entry["change_feed"] = True
        _commit(root, entry)
    return entry


class VersionNotFoundError(LookupError):
    """Requested version is not committed (never existed or vacuumed)."""


class VersionVacuumedError(LookupError):
    """The version's log entry exists (history stays auditable) but its
    data directories were retired by vacuum past retention — time
    travel to it is no longer possible."""


def _entry_path(root: Path, version: int) -> Path:
    return root / _VLOG / f"v{version:08d}.json"


def _committed_entries(root: Path) -> list[dict]:
    """All committed log entries, oldest first. Unparseable or torn
    entries cannot exist: the O_EXCL create writes via a temp file +
    rename within _commit, so a visible entry is complete. Entries
    below the archive floor (see :func:`archive_log`) come from the
    newest ``archive-v*.parquet`` bundle; the JSON tail rides on top —
    a reader racing an archive rotation merges by version (identical
    content on both sides), so full history stays exact while the
    ``v*.json`` file count stays bounded."""
    vlog = root / _VLOG
    if not vlog.is_dir():
        return []
    by_version: dict[int, dict] = {}
    for _attempt in range(3):
        arcs = sorted(vlog.glob("archive-v*.parquet"))
        if not arcs:
            break
        try:
            import pyarrow.parquet as pq

            for s in pq.read_table(str(arcs[-1]))["entry"].to_pylist():
                e = json.loads(s)
                by_version[e["version"]] = e
            break
        except (FileNotFoundError, OSError):
            continue  # the newest archive rotated away mid-read: re-glob
    for f in sorted(vlog.glob("v*.json")):
        try:
            e = json.loads(f.read_text())
        except FileNotFoundError:  # archived + unlinked mid-glob
            continue
        by_version[e["version"]] = e
    return [by_version[v] for v in sorted(by_version)]


def _commit(root: Path, entry: dict) -> None:
    """Atomically publish a log entry. O_EXCL guarantees a version number
    is committed at most once even if the writer lock were bypassed; the
    temp-write + rename inside the same directory guarantees readers
    never observe a partial JSON."""
    target = _entry_path(root, entry["version"])
    tmp = target.with_suffix(".tmp-%d" % os.getpid())
    tmp.write_text(json.dumps(entry, sort_keys=True))
    try:
        # hard link = atomic claim WITH content: the entry appears fully
        # written or not at all (an O_EXCL create + replace would expose
        # a momentarily-empty file to readers)
        os.link(tmp, target)
    except FileExistsError:
        raise RuntimeError(
            f"version {entry['version']} already committed at {target}"
        ) from None
    finally:
        tmp.unlink(missing_ok=True)
    if entry["version"] and entry["version"] % _CKPT_EVERY == 0:
        # checkpoint cadence (the Delta shape): fold the log so far into
        # one parquet file, so the hot latest-version path reads
        # checkpoint + JSON tail — O(live set + tail), never O(history).
        # The commit above already succeeded: a checkpoint failure must
        # degrade to the slower raw-log path, not fail the commit.
        try:
            _write_checkpoint(root)
        except OSError:  # pragma: no cover - fs-level races only
            pass
        except Exception as exc:  # pragma: no cover - fold logic bugs
            # Never fail the already-committed write, but a persistent
            # fold failure silently disables checkpointing — surface it.
            import warnings

            warnings.warn(
                "checkpoint fold failed (raw log remains authoritative): "
                f"{exc!r}",
                stacklevel=2,
            )


# Checkpoint cadence: every N commits the writer folds the log into
# `_vlog/ckpt-v<version>.parquet`. 20 keeps the JSON tail short while
# amortizing the fold; tests shrink it to exercise the machinery.
_CKPT_EVERY = 20


class ConcurrentModificationError(RuntimeError):
    """A concurrent commit landed that this write cannot be rebased
    over — overlapping files, a table-wide rewrite, or a metadata
    change. Delta-style: re-run the operation on the new snapshot."""


# How long a writer waits for the commit critical section. Data writes
# happen OUTSIDE the lock (staged + renamed at publish), so holders keep
# it for milliseconds; the generous budget only matters when a whole-op
# holder (restore / vacuum / pruned rewrite) is mid-flight.
_LOCK_WAIT = 120.0


def _tail_after(root: Path, version: int) -> list[dict]:
    """Entries committed after ``version`` — O(tail) probes, no
    directory listing (versions are gapless)."""
    out: list[dict] = []
    v = version
    while True:
        f = _entry_path(root, v + 1)
        try:
            out.append(json.loads(f.read_text()))
        except FileNotFoundError:
            return out
        v += 1


def _touched_files(root: Path, e: dict) -> set:
    """The live files a commit rewrites, masks, or hides — the unit of
    Delta-style conflict detection — as ``<dir>/<rel>`` in filesystem
    form. Blind appends touch nothing."""
    out: set = set()
    for d, rels in (e.get("removed") or {}).items():
        out.update(f"{d}/{r}" for r in rels)
    if e.get("dv_files"):
        out.update(e["dv_files"])
    elif e.get("dv_ref"):
        # entry predates the dv_files summary: read the KB-sized sidecar
        from urllib.parse import unquote

        import pyarrow.parquet as pq

        p = root / _DV / e["dv_ref"]
        if p.exists():
            t = pq.read_table(str(p), columns=["_dv_key"])
            out.update(unquote(k) for k in set(t["_dv_key"].to_pylist()))
    return out


def _meta_signature(e: dict) -> tuple:
    """The inheritable table metadata a commit carries forward. Any
    concurrent change to it conflicts with every in-flight write: the
    in-flight commit validated and staged against the OLD metadata."""
    return (
        list(e.get("partition_by") or []),
        list(e.get("stats_columns") or []),
        list(e.get("bloom_columns") or []),
        e.get("bloom_bits"),
        sorted(e.get("columns") or []),
    )


def _check_rebase(
    root: Path,
    mine_action: str,
    mine_touched: set,
    base_last: dict | None,
    landed: list[dict],
) -> None:
    """Semantic conflict detection (the Delta WriteSerializable shape):
    decide whether an in-flight commit can be REBASED on top of the
    entries that landed since its snapshot. Returning means every
    landed commit commutes with it: blind appends commute with
    everything; file-rewriting commits (delete / upsert / DV delete /
    compaction) commute when their touched-file sets are disjoint;
    overwrite / restore are table-wide and commute with nothing; any
    metadata change (schema, partitioning, declarations, constraints,
    change-feed enablement) conflicts with every in-flight write."""
    if base_last is None and landed:
        raise ConcurrentModificationError(
            "the table was created concurrently by another writer "
            f"(v{landed[0]['version']} landed first) — re-run against "
            "the existing table"
        )
    base_sig = _meta_signature(base_last) if base_last else None
    for L in landed:
        why = None
        if L["action"] == "set_constraints":
            why = "constraints changed"
        elif L["action"] == "rename_column":
            why = "columns were renamed"
        elif L["action"] == "drop_column":
            why = "columns were dropped"
        elif L.get("change_feed"):
            why = "change feed was enabled"
        elif L.get("type_widened"):
            # my staged entry re-publishes the types I validated
            # against — landing it on top would NARROW the widened
            # declaration back while the files stay mixed
            why = "column types were widened"
        elif L.get("columns") and _meta_signature(L) != base_sig:
            why = "table metadata changed (schema/partitioning/declarations)"
        elif mine_action in ("overwrite", "restore"):
            # a table-wide rewrite rebased over ANY landed data commit
            # would silently drop that commit's effect
            why = f"this {mine_action} rewrites the whole table"
        elif L["action"] == "append":
            pass  # blind appends commute (rows can't be in my read set)
        elif mine_action == "append":
            pass  # and everything else commutes with a blind append
        elif L["action"] in ("overwrite", "restore"):
            why = f"a concurrent {L['action']} rewrote the whole table"
        else:
            overlap = _touched_files(root, L) & mine_touched
            if overlap:
                why = (
                    "overlapping files "
                    f"{sorted(overlap)[:3]}{'…' if len(overlap) > 3 else ''}"
                )
        if why:
            raise ConcurrentModificationError(
                f"concurrent commit v{L['version']} ({L['action']!r}) "
                f"conflicts with this {mine_action}: {why}. Re-run the "
                "operation on the new snapshot."
            )



def _column_mapping(entries: list[dict]) -> dict:
    """logical -> PHYSICAL column names at the snapshot's version (the
    Delta column-mapping shape, minus field IDs). Physical names are
    frozen at column creation — data files, per-file stats, blooms,
    masks, DV keys and change-data files all speak physical forever —
    and a ``rename_column`` commit is pure metadata: it re-publishes
    the full accumulated mapping. Identity (no renames) is ``{}``.
    Time travel below the rename naturally sees the old names; a
    restore never resets the mapping (names are table metadata, not
    live-set state)."""
    for e in reversed(entries):
        if "column_mapping" in e:
            return dict(e["column_mapping"])
    return {}


def _prior_types(entries: list[dict]) -> dict | None:
    """PHYSICAL column name -> Spark dtype string, from the newest
    entry that recorded types (staged data commits do; property
    commits don't and legacy tables never did — None then, and the
    commit-time type guard is skipped)."""
    for e in reversed(entries):
        if "types" in e:
            return dict(e["types"])
    return None


# Safe type-widening lattice (the Delta type-widening feature's
# integer/float promotions): every pair is losslessly readable by
# scanning the OLD files under the NEW type — Spark 4.x's vectorized
# parquet reader upcasts INT32->long / FLOAT->double in the scan when
# the requested schema is wider. Anything off-lattice (narrowing,
# int->string, ...) keeps refusing: mixed footers a scan can't
# reconcile are a late read-time failure on every multi-file read.
_SAFE_WIDENINGS = frozenset(
    {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
    }
)


def _is_safe_widening(prior: str, new: str) -> bool:
    """True when re-typing ``prior`` -> ``new`` is on the safe lattice,
    descending into struct fields and array elements (same field names,
    same order — only leaf types may widen). The parquet reader's
    schema-driven upcast handles nested promotions the same way it
    handles top-level ones (probed on Spark 4.1)."""
    if (prior, new) in _SAFE_WIDENINGS:
        return True
    if prior.startswith("struct<") and new.startswith("struct<"):
        pi = _split_struct_items(prior[len("struct<"):-1])
        ni = _split_struct_items(new[len("struct<"):-1])
        if len(pi) != len(ni):
            return False
        for a, b in zip(pi, ni):
            an, _, at = a.partition(":")
            bn, _, bt = b.partition(":")
            if an != bn or (at != bt and not _is_safe_widening(at, bt)):
                return False
        return True
    if prior.startswith("array<") and new.startswith("array<"):
        return _is_safe_widening(
            prior[len("array<"):-1], new[len("array<"):-1]
        )
    return False


def _types_vary(entries: list[dict]) -> bool:
    """True when two live commits recorded DIFFERENT types for the
    same physical column (possible only via a type-widening append) —
    the signal that a multi-file scan needs an explicit read schema
    instead of trusting uniform footers."""
    seen: dict[str, str] = {}
    for e in entries:
        for c, t in (e.get("types") or {}).items():
            if seen.setdefault(c, t) != t:
                return True
    return False


def _read_schema_ddl(entries: list[dict], schema_cols: list[str]) -> str | None:
    """DDL read schema (declared = widest types) for a multi-path scan
    over footers of mixed width. None when any column's type was never
    recorded (legacy log) — callers then fall back to footer inference,
    which is correct for tables that never widened."""
    t = _prior_types(entries) or {}
    if not all(c in t for c in schema_cols):
        return None
    return ", ".join(f"`{c}` {t[c]}" for c in schema_cols)


def _dropped_columns(entries: list[dict]) -> set:
    """PHYSICAL names of every column ever dropped, at the snapshot's
    version. Like ``column_mapping``, the accumulated set is
    re-published whole by each ``drop_column`` commit (latest entry
    carrying the key wins), so lookup never walks below the newest
    drop. The set only grows: a dropped physical name is retired
    FOREVER — pre-drop data files still hold its values, so a later
    widening re-using the name would silently resurrect them."""
    for e in reversed(entries):
        if "dropped_columns" in e:
            return set(e["dropped_columns"])
    return set()


def _to_logical(df: DataFrame, mapping: dict) -> DataFrame:
    """Surface a physical-schema DataFrame under its logical names
    (top-level renames plus one-level struct leaf renames)."""
    if not mapping:
        return df
    df = _apply_nested_renames_to_logical(df, mapping)
    flat = {p: l for l, p in mapping.items() if "." not in l}
    return df.withColumnsRenamed(flat) if flat else df


def _name_to_physical(c: str, mapping: dict) -> str:
    """Longest-suffix recursion: an exact mapping entry wins; otherwise
    the parent path translates and the leaf rides along unchanged —
    composing renames of any ancestor at any depth."""
    if c in mapping:
        return mapping[c]
    parent, _, leaf = c.rpartition(".")
    if parent:
        return f"{_name_to_physical(parent, mapping)}.{leaf}"
    return c


def _names_to_physical(names, mapping: dict) -> list:
    return [_name_to_physical(c, mapping) for c in names]


def _names_to_logical(names, mapping: dict) -> list:
    inv = {p: l for l, p in mapping.items()}

    def one(c):
        if c in inv:
            return inv[c]
        parent, _, leaf = c.rpartition(".")
        if parent:
            return f"{one(parent)}.{leaf}"
        return c
    return [one(c) for c in names]


def _preds_to_physical(predicates, mapping: dict) -> list:
    if not mapping or not predicates:
        return predicates
    return [(_name_to_physical(c, mapping), op, v) for c, op, v in predicates]


# --- nested fields (dotted paths into struct columns, any depth) ------------
#
# The table layer treats struct/array columns as first-class payloads:
# they append/read as-is, and dotted struct paths of ANY depth
# ("a.b", "a.b.c", ...) participate in per-file zone maps, read_where
# predicates, and path-based rename/drop (the realistic subset of
# Delta's field-ID scheme — parquet footers already record leaf stats
# under the dotted path, and Spark resolves `F.col("a.b.c")` natively).
# Paths never descend through arrays or maps: an array<struct<...>>
# element is an opaque payload (no per-element zone maps exist in a
# footer's dotted-path namespace Spark predicates can address).


def _split_path(name: str):
    """("top", "leaf") for a one-level path, ("name", None) for flat."""
    top, dot, leaf = name.partition(".")
    return (top, leaf) if dot else (name, None)


def _struct_leaves(schema) -> set:
    """Every dotted struct path of the schema at EVERY depth —
    intermediate struct-typed fields included (each is itself a
    nameable path for rename/drop)."""
    from pyspark.sql.types import StructType

    out = set()

    def walk(prefix: str, st) -> None:
        for f in st.fields:
            p = f"{prefix}.{f.name}"
            out.add(p)
            if isinstance(f.dataType, StructType):
                walk(p, f.dataType)

    for f in schema.fields:
        if isinstance(f.dataType, StructType):
            walk(f.name, f.dataType)
    return out


def _field_at_path(schema, name: str):
    """The StructField a dotted path resolves to (descending structs
    only — never arrays/maps); None when the path doesn't resolve."""
    from pyspark.sql.types import StructType

    fields = schema.fields
    f = None
    for i, seg in enumerate(name.split(".")):
        if i > 0:
            if not isinstance(f.dataType, StructType):
                return None
            fields = f.dataType.fields
        f = next((x for x in fields if x.name == seg), None)
        if f is None:
            return None
    return f


def _dtype_of_path(df: DataFrame, name: str) -> str | None:
    """Spark dtype string for a flat column or a dotted struct path of
    any depth; None when the path doesn't resolve."""
    f = _field_at_path(df.schema, name)
    return f.dataType.simpleString() if f is not None else None


def _rename_struct_field(df: DataFrame, parent: str, old: str, new: str):
    """Order-preserving rename of field ``old`` -> ``new`` inside the
    struct at dotted path ``parent`` (any depth): rebuild each struct
    level with the one field aliased (``withField`` would append
    instead), keeping NULL structs NULL at every level. No-op when the
    path or the field doesn't resolve (frames that don't carry the
    column pass through unchanged)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    segs = parent.split(".")
    f0 = _field_at_path(df.schema, segs[0])
    if f0 is None or not isinstance(f0.dataType, StructType):
        return df

    def rebuild(expr, st, rest):
        # rest: path segments still to descend; [] = rename at this level
        if not rest and not any(s.name == old for s in st.fields):
            return None
        parts = []
        for sub in st.fields:
            sube = expr.getField(sub.name)
            if not rest:
                parts.append(sube.alias(new if sub.name == old else sub.name))
            elif sub.name == rest[0]:
                if not isinstance(sub.dataType, StructType):
                    return None
                inner = rebuild(sube, sub.dataType, rest[1:])
                if inner is None:
                    return None
                if sub.nullable:  # a NULL struct must stay NULL, not {}
                    inner = F.when(sube.isNotNull(), inner)
                parts.append(inner.alias(sub.name))
            else:
                parts.append(sube.alias(sub.name))
        if rest and not any(s.name == rest[0] for s in st.fields):
            return None
        return F.struct(*parts)

    built = rebuild(F.col(segs[0]), f0.dataType, segs[1:])
    if built is None:
        return df
    if f0.nullable:
        built = F.when(F.col(segs[0]).isNotNull(), built)
    return df.withColumn(segs[0], built)


def _drop_struct_field(df: DataFrame, parent: str, leaf: str):
    """Drop field ``leaf`` from the struct at dotted path ``parent``
    (any depth); no-op when the path or field doesn't resolve."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    f = _field_at_path(df.schema, parent)
    if f is None or not isinstance(f.dataType, StructType):
        return df
    if not any(sub.name == leaf for sub in f.dataType.fields):
        return df
    top, _, below = parent.partition(".")
    rel = f"{below}.{leaf}" if below else leaf
    return df.withColumn(top, F.col(top).dropFields(rel))


def _apply_nested_renames_to_logical(df: DataFrame, mapping: dict):
    """Surface physical leaf names under their logical names (the
    nested counterpart of :func:`_to_logical`'s top-level renames).
    Deepest entries first: while a deeper rename runs, every ancestor
    still carries its physical name, so the entry's physical parent
    path addresses the frame directly."""
    for logical, physical in sorted(
        mapping.items(), key=lambda kv: -kv[1].count(".")
    ):
        if "." not in logical:
            continue
        pparent, _, pleaf = physical.rpartition(".")
        lleaf = logical.rsplit(".", 1)[1]
        df = _rename_struct_field(df, pparent, pleaf, lleaf)
    return df


def _apply_nested_renames_to_physical(df: DataFrame, mapping: dict):
    """Inverse: incoming frames speak logical leaf names; storage
    speaks the frozen physical ones. Call AFTER the flat top-level
    renames — the frame's top names are physical by then. Shallowest
    entries first: once an ancestor's rename has been applied, the
    frame addresses it by its PHYSICAL name, which is exactly how a
    deeper entry's physical parent path spells it."""
    for logical, physical in sorted(
        mapping.items(), key=lambda kv: kv[0].count(".")
    ):
        if "." not in logical:
            continue
        pparent, _, pleaf = physical.rpartition(".")
        lleaf = logical.rsplit(".", 1)[1]
        df = _rename_struct_field(df, pparent, lleaf, pleaf)
    return df


def _split_struct_items(inner: str) -> list[str]:
    """Top-level comma split of a struct simpleString's field list,
    depth-aware so nested ``struct<...>`` / ``array<...>`` value types
    don't break the parse."""
    parts, depth, cur = [], 0, []
    for ch in inner:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _strip_dropped_leaves(col: str, dtype: str, dropped) -> str:
    """A struct column's recorded type signature minus its dropped
    leaves — at any nesting depth — what the NEXT append's frame
    legitimately carries (the retired fields may never reappear, so
    the guard must compare against the post-drop shape)."""
    rel = {p[len(col) + 1:] for p in dropped if p.startswith(col + ".")}
    if not rel or not dtype.startswith("struct<"):
        return dtype

    def strip(sig: str, paths: set) -> str:
        if not sig.startswith("struct<"):
            return sig
        here = {p for p in paths if "." not in p}
        deeper: dict[str, set] = {}
        for p in paths:
            if "." in p:
                h, _, rest = p.partition(".")
                deeper.setdefault(h, set()).add(rest)
        items = []
        for it in _split_struct_items(sig[len("struct<"):-1]):
            n, _, t = it.partition(":")
            if n in here:
                continue
            if n in deeper:
                t = strip(t, deeper[n])
            items.append(f"{n}:{t}")
        return "struct<" + ",".join(items) + ">"

    return strip(dtype, rel)


def _apply_nested_drops(df: DataFrame, dropped) -> DataFrame:
    """Hide dropped struct leaves — at any depth — from a
    reader-facing frame (the physical bytes stay in pre-drop files
    until a rewrite). A path under an already-dropped subtree resolves
    to nothing and no-ops, so iteration order doesn't matter."""
    for name in dropped:
        parent, _, leaf = name.rpartition(".")
        if parent:
            df = _drop_struct_field(df, parent, leaf)
    return df


def _physical_struct_fields(
    root: Path, entries: list[dict], ppath: str
) -> list[str] | None:
    """Physical field names of the struct at dotted physical path
    ``ppath`` (any depth), read from the newest live data file that
    carries it (one footer read — property commits stay metadata-only
    otherwise). None if the path is not a struct (or descends through
    a non-struct) or no live file carries it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    segs = ppath.split(".")
    seen_dirs = set()
    for e in reversed(entries):
        d = e.get("dir")
        if not d or d in seen_dirs:
            continue
        seen_dirs.add(d)
        for f in sorted((root / _DATA / d).rglob("*.parquet")):
            sch = pq.read_schema(str(f))
            if segs[0] in sch.names:
                t = sch.field(segs[0]).type
                for seg in segs[1:]:
                    if not pa.types.is_struct(t):
                        return None
                    sub = next(
                        (
                            t.field(i)
                            for i in range(t.num_fields)
                            if t.field(i).name == seg
                        ),
                        None,
                    )
                    if sub is None:
                        return None
                    t = sub.type
                if pa.types.is_struct(t):
                    return [t.field(i).name for i in range(t.num_fields)]
                return None
            break  # one footer per dir is enough (uniform within)
    return None


def _resolve_struct_parent(
    root: Path, entries: list[dict], mapping: dict, parent: str
):
    """Shared rename/drop validation for a nested path's PARENT: the
    logical parent path (any depth) must resolve — through the mapping
    and outside every dropped subtree — to a materialized struct.
    Returns ``(pparent, pfields, logical_leaves)``: the physical parent
    path, ALL physical field names (dropped included — retired names may
    not be re-taken), and a map of each live leaf's LOGICAL name to its
    physical field name."""
    pparent = _name_to_physical(parent, mapping)
    segs = pparent.split(".")
    dropped = _dropped_columns(entries)
    if segs[0] not in entries[-1]["columns"] or any(
        ".".join(segs[: i + 1]) in dropped for i in range(len(segs))
    ):
        raise ValueError(f"column {parent!r} not in table schema")
    pfields = _physical_struct_fields(root, entries, pparent)
    if pfields is None:
        raise ValueError(
            f"column {parent!r} is not a struct column with live data "
            "— nested rename/drop needs a materialized struct field"
        )
    logical_leaves = {
        _names_to_logical([f"{pparent}.{pf}"], mapping)[0].rsplit(".", 1)[1]: pf
        for pf in pfields
        if f"{pparent}.{pf}" not in dropped
    }
    return pparent, pfields, logical_leaves


def _rename_nested_leaf(root: Path, old: str, new: str) -> dict:
    """Nested-path rename under the path-based column mapping (any
    depth): a metadata-only commit re-publishing the mapping with
    ``parent.new -> pparent.pleaf``. Composes with renames of any
    ancestor in either order (the write path applies flat renames
    first, then nested renames shallowest-first, each keyed by its
    physical parent path); renaming an intermediate STRUCT field
    re-keys the mapping entries of everything beneath it."""
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _snapshot_entries(root)
        if not entries:
            raise VersionNotFoundError(
                f"{root} has no committed versions — rename needs an "
                "existing table"
            )
        last = entries[-1]
        mapping = _column_mapping(entries)
        parent, _, oleaf = old.rpartition(".")
        nparent, _, nleaf = new.rpartition(".")
        if nparent != parent or not nleaf:
            raise ValueError(
                f"nested rename must stay inside its struct: "
                f"{old!r} -> {new!r}"
            )
        pparent, pfields, logical_leaves = _resolve_struct_parent(
            root, entries, mapping, parent
        )
        if oleaf not in logical_leaves:
            raise ValueError(
                f"struct field {old!r} not in table schema "
                f"(fields: {sorted(logical_leaves)})"
            )
        if nleaf in logical_leaves and logical_leaves[nleaf] != logical_leaves[oleaf]:
            raise ValueError(f"struct field {new!r} already exists")
        pleaf = logical_leaves[oleaf]
        physical = f"{pparent}.{pleaf}"
        if nleaf != pleaf and nleaf in pfields:
            raise ValueError(
                f"field name {nleaf!r} is the PHYSICAL name of another "
                "leaf — pre-rename files would become ambiguous"
            )
        # drop this leaf's own entry; re-key everything BENEATH the
        # renamed path (an intermediate struct rename moves the logical
        # prefix of its descendants, physical side frozen)
        new_mapping = {}
        for l, p in mapping.items():
            if p == physical and "." in l:
                continue
            if l == old or l.startswith(old + "."):
                new_mapping[new + l[len(old):]] = p
            else:
                new_mapping[l] = p
        if nleaf != pleaf:  # renaming back to the original drops it
            new_mapping[new] = physical
        entry = {
            "version": last["version"] + 1,
            "action": "rename_column",
            "dir": None,
            "columns": last["columns"],
            "partition_by": last.get("partition_by") or [],
            "column_mapping": new_mapping,
            "renamed": [old, new],
            "ts": time.time(),
        }
        for k in ("stats_columns", "bloom_columns"):
            if last.get(k):
                entry[k] = last[k]
        if last.get("bloom_columns"):
            entry["bloom_bits"] = last.get("bloom_bits") or 65_536
        if last.get("change_feed"):
            entry["change_feed"] = True
        _commit(root, entry)
    return entry


def rename_column(root: str | Path, old: str, new: str) -> dict:
    """RENAME a column as a METADATA-ONLY commit (the Delta
    column-mapping shape): zero data bytes move — the commit
    re-publishes the logical->physical mapping and every reader
    projects through it. Readers at or above this version (including
    time travel INTO older data and post-restore reads) see ``new``;
    reads pinned below it see the names of their own version.

    Partition columns rename too: the frozen PHYSICAL name stays the
    hive directory key (no directory moves), and readers project it to
    the logical name like any other column. Limit of the non-UUID
    simplification (physical names are the creation-time names, not
    field IDs): a later ``allow_new_columns`` append may not reuse a
    renamed-away physical name (it would collide with the old column's
    data in pre-rename files — the writer refuses with a clear error).

    A dotted struct path of any depth (``rename_column(root, "a.b.c",
    "a.b.d")``) renames a nested FIELD under the same path-based
    mapping — equally metadata-only, composing with renames of any
    ancestor in either order; renaming an intermediate struct field
    re-keys the mapping of everything beneath it.
    """
    root = Path(root)
    if "." in old:
        return _rename_nested_leaf(root, old, new)
    if "." in new:
        raise ValueError(
            f"cannot rename flat column {old!r} to a nested path {new!r}"
        )
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _snapshot_entries(root)
        if not entries:
            raise VersionNotFoundError(
                f"{root} has no committed versions — rename needs an "
                "existing table"
            )
        last = entries[-1]
        mapping = _column_mapping(entries)
        physical_cols = last["columns"]
        logical_cols = [
            next((l for l, p in mapping.items() if p == c), c)
            for c in physical_cols
        ]
        if old not in logical_cols:
            raise ValueError(
                f"column {old!r} not in table schema {logical_cols}"
            )
        if new in logical_cols:
            raise ValueError(f"column {new!r} already exists")
        reserved = {"_dv_key", "_dv_rid", "_change", "_commit_version"}
        if new in reserved:
            raise ValueError(
                f"column name {new!r} is reserved by the table protocol"
            )
        physical = mapping.get(old, old)
        # Partition columns rename fine under the mapping: their
        # PHYSICAL name stays the hive directory key (existing dirs
        # untouched, future commits keep writing it), and every
        # surface — snapshot reads, read_where partition pruning,
        # appends, pruned rewrites, the stream's dir-value inference —
        # already projects physical -> logical. Only DROP stays
        # refused (a partitioned live set can't lose its layout
        # column without a rewrite).
        if new != physical and new in physical_cols:
            raise ValueError(
                f"column name {new!r} is the PHYSICAL name of another "
                "column — pre-rename files would become ambiguous"
            )
        new_mapping = {}
        for l, p in mapping.items():
            if l == old:
                continue
            ltop, lleaf = _split_path(l)
            if lleaf is not None and ltop == old:
                # leaf renames under this column follow the new top
                # name on their logical side (physical side is frozen)
                new_mapping[f"{new}.{lleaf}"] = p
            else:
                new_mapping[l] = p
        if new != physical:  # renaming back to the original drops it
            new_mapping[new] = physical
        entry = {
            "version": last["version"] + 1,
            "action": "rename_column",
            "dir": None,
            # property commits replicate the inheritable metadata: the
            # next data commit reads it from entries[-1]
            "columns": physical_cols,
            "partition_by": last.get("partition_by") or [],
            "column_mapping": new_mapping,
            "renamed": [old, new],
            "ts": time.time(),
        }
        if last.get("stats_columns"):
            entry["stats_columns"] = last["stats_columns"]
        if last.get("bloom_columns"):
            entry["bloom_columns"] = last["bloom_columns"]
            entry["bloom_bits"] = last.get("bloom_bits") or 65_536
        if last.get("change_feed"):
            entry["change_feed"] = True
        _commit(root, entry)
    return entry


def _drop_nested_leaf(root: Path, name: str) -> dict:
    """Nested-path drop (any depth): metadata-only — retires the
    PHYSICAL path forever (pre-drop files keep the bytes; re-using the
    field name would resurrect them) and sheds stats declarations and
    mapping entries on it AND on everything beneath it (dropping an
    intermediate STRUCT field drops its whole subtree)."""
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _snapshot_entries(root)
        if not entries:
            raise VersionNotFoundError(
                f"{root} has no committed versions — drop needs an "
                "existing table"
            )
        last = entries[-1]
        mapping = _column_mapping(entries)
        parent, _, leaf = name.rpartition(".")
        pparent, _pfields, logical_leaves = _resolve_struct_parent(
            root, entries, mapping, parent
        )
        dropped = _dropped_columns(entries)
        if leaf not in logical_leaves:
            raise ValueError(
                f"struct field {name!r} not in table schema "
                f"(fields: {sorted(logical_leaves)})"
            )
        if len(logical_leaves) == 1:
            raise ValueError(
                f"cannot drop the only field of struct {parent!r} — drop "
                "the whole column instead"
            )
        physical = f"{pparent}.{logical_leaves[leaf]}"

        def under(p: str) -> bool:
            return p == physical or p.startswith(physical + ".")

        cons = _active_constraints(entries)
        if cons is not None:
            used = set(cons["not_null"]) | {c for c, _, _ in cons["checks"]}
            if any(under(c) for c in used):
                raise ValueError(
                    f"struct field {name!r} is referenced by an active "
                    "constraint — drop or replace the constraints first "
                    "(set_constraints)"
                )
        entry = {
            "version": last["version"] + 1,
            "action": "drop_column",
            "dir": None,
            "columns": last["columns"],  # the struct column stays
            "partition_by": last.get("partition_by") or [],
            # the subtree's mapping entries go with it
            "column_mapping": {
                l: p for l, p in mapping.items() if not under(p)
            },
            "dropped_columns": sorted(dropped | {physical}),
            "dropped": [name, physical],
            "ts": time.time(),
        }
        stats_cols = [
            c for c in (last.get("stats_columns") or []) if not under(c)
        ]
        if stats_cols:
            entry["stats_columns"] = stats_cols
        bloom_cols = [
            c for c in (last.get("bloom_columns") or []) if not under(c)
        ]
        if bloom_cols:
            entry["bloom_columns"] = bloom_cols
            entry["bloom_bits"] = last.get("bloom_bits") or 65_536
        if last.get("change_feed"):
            entry["change_feed"] = True
        _commit(root, entry)
    return entry


def drop_column(root: str | Path, name: str) -> dict:
    """DROP a column as a METADATA-ONLY commit (the Delta DROP COLUMN
    shape under column mapping): zero data bytes move — the commit
    re-publishes the schema without the column, and every reader stops
    projecting it. Pre-drop data files keep the physical column (time
    travel below the drop still reads it); the physical bytes are
    purged only when a rewrite (``optimize`` / ``compact_small`` /
    ``delete_where``) re-materializes the live set, which selects the
    current schema.

    The dropped PHYSICAL name is retired forever (recorded in the
    accumulated ``dropped_columns`` set): a later ``allow_new_columns``
    append may not re-use it — pre-drop files still hold the old
    values, and a mergeSchema read would silently resurrect them. Drop
    refuses on: the last remaining column, a partition column
    (directory paths bake the name), and a column referenced by an
    active constraint (drop or replace the constraint first).
    Stats / bloom declarations shed the column automatically.

    A dotted struct path of any depth (``drop_column(root, "a.b.c")``)
    drops a nested FIELD: the struct column stays, readers stop
    projecting the field (``dropFields``), its physical path is
    retired forever (subtree included when the field is itself a
    struct), and the bytes persist in pre-drop files until a rewrite.
    """
    root = Path(root)
    if "." in name:
        return _drop_nested_leaf(root, name)
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _snapshot_entries(root)
        if not entries:
            raise VersionNotFoundError(
                f"{root} has no committed versions — drop needs an "
                "existing table"
            )
        last = entries[-1]
        mapping = _column_mapping(entries)
        physical_cols = last["columns"]
        logical_cols = [
            next((l for l, p in mapping.items() if p == c), c)
            for c in physical_cols
        ]
        if name not in logical_cols:
            raise ValueError(
                f"column {name!r} not in table schema {logical_cols}"
            )
        if len(physical_cols) == 1:
            raise ValueError("cannot drop the only column of a table")
        physical = mapping.get(name, name)
        if physical in (last.get("partition_by") or []):
            raise ValueError(
                f"column {name!r} is a partition column — its physical "
                "name is baked into directory paths and cannot be "
                "dropped under this mapping scheme"
            )
        cons = _active_constraints(entries)
        if cons is not None:
            used = set(cons["not_null"]) | {c for c, _, _ in cons["checks"]}
            if physical in used:
                raise ValueError(
                    f"column {name!r} is referenced by an active "
                    "constraint — drop or replace the constraints first "
                    "(set_constraints)"
                )
        entry = {
            "version": last["version"] + 1,
            "action": "drop_column",
            "dir": None,
            # property commits replicate the inheritable metadata: the
            # next data commit reads it from entries[-1]
            "columns": [c for c in physical_cols if c != physical],
            "partition_by": last.get("partition_by") or [],
            # leaf mappings under the dropped column go with it
            "column_mapping": {
                l: p for l, p in mapping.items()
                if l != name and _split_path(p)[0] != physical
            },
            "dropped_columns": sorted(
                _dropped_columns(entries) | {physical}
            ),
            "dropped": [name, physical],
            "ts": time.time(),
        }
        stats_cols = [
            c for c in (last.get("stats_columns") or [])
            if c != physical and _split_path(c)[0] != physical
        ]
        if stats_cols:
            entry["stats_columns"] = stats_cols
        bloom_cols = [
            c for c in (last.get("bloom_columns") or [])
            if c != physical and _split_path(c)[0] != physical
        ]
        if bloom_cols:
            entry["bloom_columns"] = bloom_cols
            entry["bloom_bits"] = last.get("bloom_bits") or 65_536
        if last.get("change_feed"):
            entry["change_feed"] = True
        _commit(root, entry)
    return entry


def set_partitioning(root: str | Path, partition_by: list[str]) -> dict:
    """PARTITION EVOLUTION as a metadata-only property commit (the
    Iceberg shape — Delta cannot do this): FUTURE data commits write
    under the new layout; existing commit directories keep theirs, and
    every reader already resolves layout PER DIRECTORY (each entry
    records its own ``partition_by``), so mixed-layout tables read,
    prune, delete, upsert and compact without rewrites. Old-layout
    directories migrate organically: any rewrite that touches them
    (``optimize`` / ``compact_small`` / copy-on-write delete) re-emits
    survivors under the current layout.

    ``partition_by=[]`` unpartitions future commits. Columns are
    logical names; a former partition column becomes an ordinary
    stored column for new data (old directories keep serving it from
    their hive paths)."""
    root = Path(root)
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _snapshot_entries(root)
        if not entries:
            raise VersionNotFoundError(
                f"{root} has no committed versions — partitioning "
                "attaches to an existing table"
            )
        last = entries[-1]
        mapping = _column_mapping(entries)
        physical = _names_to_physical(list(partition_by), mapping)
        known = set(last["columns"])
        unknown = [
            p for l, p in zip(partition_by, physical) if p not in known
        ]
        if unknown:
            raise ValueError(
                f"partition columns {unknown} not in table schema"
            )
        if physical == (last.get("partition_by") or []):
            return {"version": last["version"], "committed": False}
        entry = {
            "version": last["version"] + 1,
            "action": "set_partitioning",
            "dir": None,
            # property commits replicate the inheritable metadata: the
            # next data commit reads it from entries[-1]
            "columns": last["columns"],
            "partition_by": physical,
            "ts": time.time(),
        }
        # stats/bloom declarations may not cover partition columns —
        # the new layout sheds any that just became partition columns
        stats_cols = [
            c for c in (last.get("stats_columns") or []) if c not in physical
        ]
        if stats_cols:
            entry["stats_columns"] = stats_cols
        bloom_cols = [
            c for c in (last.get("bloom_columns") or []) if c not in physical
        ]
        if bloom_cols:
            entry["bloom_columns"] = bloom_cols
            entry["bloom_bits"] = last.get("bloom_bits") or 65_536
        if last.get("change_feed"):
            entry["change_feed"] = True
        _commit(root, entry)
    return entry


def _fold_entries(root: Path, entries: list[dict]) -> list[dict]:
    """Compact a full entry list into the MINIMAL list that resolves
    the LATEST version identically: the live-directory entries (their
    per-file stats / bloom pointers intact, folding to the same live
    set), the latest ``set_constraints`` entry, and the true last entry
    carrying the accumulated ``removed`` masks (live dirs only), the
    change-feed flag, and the union of ``added_columns``. Consumers of
    the latest snapshot — _resolve, _live_masks, _cf_active,
    _active_constraints, schema/metadata inheritance from entries[-1] —
    see exactly what the raw log gives them. Intermediate-version time
    travel MUST keep using the raw log: a truncated fold is not the
    historical live set."""
    if not entries:
        return []
    last = entries[-1]
    by_dir_all = {e["dir"]: e for e in entries if e.get("dir")}
    live: list[dict] = []
    for e in entries:
        if e["action"] == "overwrite":
            live = [e]
        elif e["action"] == "restore":
            live = [by_dir_all[d] for d in e["dirs"]]
        elif e.get("dir"):
            live.append(e)
    live_names = {e["dir"] for e in live}
    masks: dict[str, set] = {}
    for e in entries:
        if e["action"] == "restore":  # reset, mirroring _live_masks
            masks = {
                d: set(rels)
                for d, rels in (e.get("removed") or {}).items()
                if d in live_names
            }
            continue
        for d, rels in (e.get("removed") or {}).items():
            if d in live_names:  # a retired dir's mask can never apply
                masks.setdefault(d, set()).update(rels)

    # FULLY-masked dirs are dead forever (masks only accumulate): a
    # compaction/delete that consumed every file of a commit leaves the
    # dir contributing nothing to any read at or after this version —
    # folding it away is what keeps the checkpoint O(live data), not
    # O(ingest commits), under the append+compact maintenance loop
    def _dead(e: dict) -> bool:
        m = masks.get(e["dir"])
        if not m:
            return False
        stats = e.get("stats")
        if stats is not None:  # stats list EVERY file of the commit
            universe = set(stats)
        else:
            d = root / _DATA / e["dir"]
            universe = {str(f.relative_to(d)) for f in d.rglob("*.parquet")}
        return universe <= m

    # When the retained last entry is a restore, its replay RESETS the
    # live set to e["dirs"] and the masks to lastc["removed"] — so every
    # dir it names must keep its entry AND its mask in the fold, even if
    # fully masked (dead). Dropping one would make checkpoint+tail
    # readers resolve the dir live and unmasked: deleted rows would
    # silently resurrect (raw log and fold must always agree).
    protected: set = set(last["dirs"]) if last["action"] == "restore" else set()
    live = [e for e in live if e["dir"] in protected or not _dead(e)]
    live_names = {e["dir"] for e in live}
    masks = {d: v for d, v in masks.items() if d in live_names}
    cons = next(
        (e for e in reversed(entries) if e["action"] == "set_constraints"),
        None,
    )
    widened = sorted(
        {c for e in entries for c in (e.get("added_columns") or [])}
    )
    by_version: dict[int, dict] = {}
    for e in live:
        c = dict(e)
        c.pop("removed", None)
        by_version[c["version"]] = c
    if cons is not None:
        by_version.setdefault(cons["version"], dict(cons))
    lastc = by_version.get(last["version"])
    if lastc is None:
        lastc = dict(last)
        lastc.pop("removed", None)
        by_version[last["version"]] = lastc
    if masks:
        lastc["removed"] = {d: sorted(v) for d, v in masks.items()}
    if widened:
        lastc["added_columns"] = widened
    if _cf_active(entries):
        lastc["change_feed"] = True
    dv_refs = _live_dv_refs(entries)
    if dv_refs:
        # replace semantics: includes lastc's own dv_ref if any
        lastc["dv_all"] = [list(r) for r in dv_refs]
    mapping = _column_mapping(entries)
    if mapping:
        # rename commits are dir-less and fold away: the accumulated
        # logical->physical mapping must ride the retained last entry
        lastc["column_mapping"] = mapping
    dropped = _dropped_columns(entries)
    if dropped:
        # same for drop commits: the retired-physical-name set must
        # survive the fold or a checkpoint+tail writer could re-use one
        lastc["dropped_columns"] = sorted(dropped)
    txns = _latest_txns(entries)
    if txns:
        # idempotent-ingestion watermarks (Delta SetTransaction shape)
        # must survive the fold: a compacted-away append may be the
        # only record that its source batch was already committed
        lastc["txns"] = txns
    return [by_version[v] for v in sorted(by_version)]


def _ckpt_version(path: Path) -> int:
    return int(path.name[len("ckpt-v"): -len(".parquet")])


# Pointer file naming the newest checkpoint (Delta's `_last_checkpoint`
# shape): readers resolve the snapshot with O(1) stats — pointer +
# probe-the-tail — instead of LISTING `_vlog/` (O(all commits), and a
# paginated LIST on object stores). Purely an optimization: missing,
# stale, or corrupt pointers fall back to the directory glob.
_LAST_CKPT = "_last_checkpoint"


def _advance_last_checkpoint(root: Path, version: int) -> None:
    vlog = root / _VLOG
    ptr = vlog / _LAST_CKPT
    try:
        cur = json.loads(ptr.read_text())["version"]
        if cur >= version:  # never regress under racing folders
            return
    except (OSError, ValueError, KeyError):
        pass
    tmp = vlog / f".{_LAST_CKPT}.tmp-{os.getpid()}"
    tmp.write_text(json.dumps({"version": version}))
    os.replace(tmp, ptr)  # atomic, never visible torn


def _latest_checkpoint(root: Path) -> Path | None:
    vlog = root / _VLOG
    if not vlog.is_dir():
        return None
    ptr = vlog / _LAST_CKPT
    try:
        v = int(json.loads(ptr.read_text())["version"])
        cand = vlog / f"ckpt-v{v:08d}.parquet"
        if cand.exists():
            return cand
    except (OSError, ValueError, KeyError, TypeError):
        pass
    cks = sorted(vlog.glob("ckpt-v*.parquet"))
    return cks[-1] if cks else None


def _write_checkpoint(root: Path) -> None:
    """Fold the committed log into ``ckpt-v<latest>.parquet`` (one row
    per compacted entry). Built from the PREVIOUS checkpoint + tail —
    folding is idempotent, so the cost of each checkpoint is O(live
    set + tail), keeping the amortized metadata cost per commit O(1).
    Published with the same tmp + hard-link discipline as log entries:
    readers never see a torn file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    entries = _snapshot_entries(root)
    if not entries:
        return
    try:
        folded = _fold_entries(root, entries)
    except KeyError:
        # a tail restore resurrected a dir the previous checkpoint had
        # folded away as dead — refold from the raw log, which holds
        # every entry (rare: only the first checkpoint after that)
        folded = _fold_entries(root, _committed_entries(root))
    table = pa.table(
        {
            "version": pa.array([e["version"] for e in folded], pa.int64()),
            "entry": pa.array(
                [json.dumps(e, sort_keys=True) for e in folded], pa.string()
            ),
        }
    )
    ck_version = entries[-1]["version"]
    target = root / _VLOG / f"ckpt-v{ck_version:08d}.parquet"
    if target.exists():
        _advance_last_checkpoint(root, ck_version)
        return
    tmp = target.with_suffix(".tmp-%d" % os.getpid())
    pq.write_table(table, str(tmp))
    try:
        os.link(tmp, target)
    except FileExistsError:
        pass  # another writer raced the same fold: identical content
    finally:
        tmp.unlink(missing_ok=True)
    _advance_last_checkpoint(root, ck_version)


def _snapshot_entries(root: Path) -> list[dict]:
    """Log entries sufficient to resolve the LATEST version: the newest
    checkpoint's folded entries + the JSON tail committed after it.
    Cost is O(live set + tail) — with no checkpoint yet it degrades to
    the raw log. Listing order is race-safe for lock-free readers: a
    commit landing mid-read only extends the tail; a checkpoint landing
    mid-read is simply not used until the next call."""
    ck = _latest_checkpoint(root)
    if ck is None:
        entries = _committed_entries(root)
        _check_reader_features(root, entries)  # writers snapshot here too
        return entries
    base = _read_checkpoint(ck)
    # versions are gapless (O_EXCL claims last+1), so the tail is
    # discoverable by PROBING v{N+1}, v{N+2}, … until absent — O(tail)
    # stats, no directory listing (which is O(all commits), and a
    # paginated LIST per table op on object stores)
    base.extend(_tail_after(root, _ckpt_version(ck)))
    _check_reader_features(root, base)
    return base


def _read_checkpoint(path: Path) -> list[dict]:
    import pyarrow.parquet as pq

    return [
        json.loads(s) for s in pq.read_table(str(path))["entry"].to_pylist()
    ]


def _entries_for(root: Path, version: int | None) -> list[dict]:
    """The hot path (``version is None``, i.e. latest) reads checkpoint
    + tail; explicit time travel reads the raw log — a fold truncated
    at an intermediate version would not be that version's live set."""
    if version is None:
        return _snapshot_entries(root)
    return _committed_entries(root)


# Zone-map-eligible Spark dtypes: exact-integer and float columns whose
# parquet footer min/max round-trip JSON losslessly, plus dates and NAIVE
# timestamps (both encoded to integers at collect time: ordinal days /
# epoch microseconds — one unambiguous comparison space shared by stats
# and predicates). Strings are excluded on purpose — parquet may TRUNCATE
# string statistics, and a truncated max is a prefix that compares LOW,
# which would wrongly prune files (data loss, not a slowdown). Zone-aware
# timestamps are excluded: a session-timezone-dependent comparison space
# risks WRONG pruning — store event time as timestamp_ntz or epoch ints.
_STATS_DTYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp_ntz",
}


def _encode_stat(v):
    """Collapse a parquet footer min/max value into the JSON-stable
    integer comparison space: naive datetime -> epoch microseconds,
    date -> ordinal day, numbers unchanged."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            raise ValueError("zone-aware timestamp stats are not supported")
        delta = v - _dt.datetime(1970, 1, 1)
        return (
            delta.days * 86_400_000_000
            + delta.seconds * 1_000_000
            + delta.microseconds
        )
    if isinstance(v, _dt.date):
        return v.toordinal()
    return v


def _encode_pred_value(v, kind: str):
    """Bring a predicate value into the recorded stats' comparison
    space. ``kind`` is the column's recorded stats type: 'date' expects
    a date/ISO day string (ordinal-day space), 'timestamp_ntz' a naive
    datetime/ISO string (epoch-microsecond space), anything else a
    number."""
    import datetime as _dt

    if kind == "date":
        if isinstance(v, str):
            v = _dt.date.fromisoformat(v)
        if isinstance(v, _dt.datetime):
            raise ValueError(
                f"predicate value {v!r} is a datetime but the column's "
                "zone maps are DATE-typed — pass a date or 'YYYY-MM-DD'"
            )
        if not isinstance(v, _dt.date):
            raise ValueError(f"date zone maps need a date value, got {v!r}")
        return v.toordinal()
    if kind == "timestamp_ntz":
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if not isinstance(v, _dt.datetime):
            raise ValueError(
                f"timestamp zone maps need a naive datetime value, got {v!r}"
            )
        return _encode_stat(v)
    if isinstance(v, (int, float)):
        return v
    raise ValueError(
        f"numeric zone maps need a numeric predicate value, got {v!r}"
    )


_BLOOM_K = 4  # four 32-bit slices of one md5: both sides derive them
_BLOOM_DTYPES = {"string", "bigint", "int", "smallint", "tinyint"}


def _bloom_positions_py(value, bits: int) -> list[int]:
    """The k bit positions for ``value`` — md5 over Spark's string cast
    (str(int) == CAST(long AS STRING), strings are identity), four
    big-endian 32-bit slices mod ``bits``. MUST stay in lockstep with
    the Spark-side expression in :func:`_collect_file_blooms`: the
    build hashes JVM-side, membership tests run pure-Python driver-side
    (zero Spark jobs, preserving zone_map_prune's zero-byte contract)."""
    import hashlib

    digest = hashlib.md5(str(value).encode()).digest()
    return [
        int.from_bytes(digest[4 * i : 4 * (i + 1)], "big") % bits
        for i in range(_BLOOM_K)
    ]


_BLOOM_INT_DTYPES = {"bigint", "int", "smallint", "tinyint"}


def _bloom_probe_value(value, dtype: str | None):
    """Normalize a probe literal into the column's string-cast space
    (the build hashes ``CAST(col AS STRING)``), or return None when the
    literal's type can't be brought there EXACTLY — callers must then
    SKIP bloom pruning for that value (keep the file): a mis-typed
    literal (``3.0`` or ``True`` probing a bigint column would hash
    ``"3.0"``/``"True"`` while the build hashed ``"3"``/``"1"``) must
    degrade to a scan, never become a false-negative prune. ``dtype``
    is the column dtype recorded at build time (``bloom_types``); a
    legacy entry without it only trusts same-type probes."""
    if dtype is None:
        if isinstance(value, bool):
            return None
        return value if isinstance(value, (str, int)) else None
    if dtype == "string":
        return value if isinstance(value, str) else None
    if dtype in _BLOOM_INT_DTYPES:
        if isinstance(value, bool):
            return int(value)  # Spark compares BOOLEAN to ints numerically
        if isinstance(value, int):
            return value
        if isinstance(value, float) and value.is_integer():
            return int(value)
        return None
    return None


def _bloom_may_contain(bloom: dict, positions: list[int]) -> bool:
    import base64

    data = bloom.get("raw")
    if data is None:
        data = base64.b64decode(bloom["b64"])
    for p in positions:
        lane, bit = divmod(p, 64)
        word = int.from_bytes(data[8 * lane : 8 * lane + 8], "little")
        if not (word >> bit) & 1:
            return False
    return True


def _collect_file_blooms(
    spark, data_dir: Path, cols: list[str], bits: int
) -> dict:
    """Per-file Bloom bitmaps for a just-written commit directory:
    ``{rel_file: {col: {"bits": m, "k": 4, "b64": ...}}}``. Built
    DISTRIBUTED in one pass over the new files only (O(commit), never
    O(table)): md5 each value JVM-side, explode the k positions, fold
    64-bit lanes with bit_or, collect ≤ files × bits/64 lane rows.
    A file absent for a column had NO non-null value there — readers
    may prune it for equality outright."""
    import base64

    from pyspark.sql import functions as F

    df = spark.read.parquet(str(data_dir))
    exploded = None
    for c in cols:
        hexcol = F.md5(F.col(c).cast("string"))
        pos = F.array(
            *[
                (
                    F.conv(F.substring(hexcol, 1 + 8 * i, 8), 16, 10)
                    .cast("long") % bits
                )
                for i in range(_BLOOM_K)
            ]
        )
        e = (
            df.where(F.col(c).isNotNull())
            .select(
                F.input_file_name().alias("_f"),
                F.explode(pos).alias("_p"),
            )
            .withColumn("_c", F.lit(c))
        )
        exploded = e if exploded is None else exploded.unionByName(e)
    lanes = (
        exploded.select(
            "_f",
            "_c",
            (F.col("_p") / 64).cast("long").alias("_lane"),
            # shiftleft's bit count must be column-valued here: SQL form
            F.expr("shiftleft(1L, cast(_p % 64 as int))").alias("_bit"),
        )
        .groupBy("_f", "_c", "_lane")
        .agg(F.bit_or("_bit").alias("_m"))
        .collect()
    )
    import urllib.parse

    base = str(data_dir)
    maps: dict[tuple, bytearray] = {}
    n_lanes = bits // 64
    for r in lanes:
        f = r._f
        if f.startswith("file:"):
            f = f[len("file:"):]
        # input_file_name() is a URI: percent-decode it so the key
        # matches the FILESYSTEM listing that stats, removed-masks and
        # readers use (a partition value with a space/%/non-ASCII char
        # would otherwise record 'region=North%20America/...' here and
        # 'region=North America/...' everywhere else — and the missing
        # bloom reads as a provable miss, silently pruning a live file)
        f = urllib.parse.unquote(f)
        rel = str(Path(f).relative_to(base))
        buf = maps.setdefault((rel, r._c), bytearray(8 * n_lanes))
        word = int(r._m) & 0xFFFFFFFFFFFFFFFF
        buf[8 * int(r._lane) : 8 * int(r._lane) + 8] = word.to_bytes(
            8, "little"
        )
    out: dict = {}
    for (rel, c), buf in maps.items():
        out.setdefault(rel, {})[c] = {
            "bits": bits,
            "k": _BLOOM_K,
            "b64": base64.b64encode(bytes(buf)).decode(),
        }
    return out


def _write_bloom_sidecar(root: Path, dir_name: str, blooms: dict) -> str:
    """Write a commit's per-file bloom bitmaps to a parquet SIDECAR
    (``_blooms/<dir>.parquet``, one row per (file, column)) and return
    its relative name for the log entry's ``blooms_file`` pointer.
    Bitmaps must never ride the JSON log entry itself: at 64 Ki bits
    they are ~10.7 KB of base64 per file per column, and every table
    operation parses the log — inlining them makes the METADATA path
    O(history x files x bits), the one scale-killer the data path
    doesn't have. The sidecar is written before the commit link
    (file-first/commit-second — a crash leaves an orphan for vacuum)
    and loaded lazily, only when an equality/IN probe or a key-bounded
    merge actually touches a bloom column."""
    import base64

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (rel, col, b["bits"], b["k"], base64.b64decode(b["b64"]))
        for rel, per_col in sorted(blooms.items())
        for col, b in sorted(per_col.items())
    ]
    table = pa.table(
        {
            "file": pa.array([r[0] for r in rows], pa.string()),
            "col": pa.array([r[1] for r in rows], pa.string()),
            "bits": pa.array([r[2] for r in rows], pa.int64()),
            "k": pa.array([r[3] for r in rows], pa.int64()),
            "bitmap": pa.array([r[4] for r in rows], pa.binary()),
        }
    )
    side = root / _BLOOMS
    side.mkdir(parents=True, exist_ok=True)
    name = f"{dir_name}.parquet"
    pq.write_table(table, str(side / name))
    return name


# Sidecars are immutable once linked (named by their commit dir), so a
# small process-level cache keyed by (path, stat identity) is safe: a
# vacuumed-then-recreated path can never alias a live entry's key. This
# keeps a point-read service's probe cost O(tail) instead of re-opening
# every live commit's sidecar per query.
_BLOOM_CACHE: dict[tuple, dict] = {}
_BLOOM_CACHE_MAX = 256


def _entry_blooms(root: Path, entry: dict) -> dict | None:
    """The per-file bloom bitmaps for a commit entry: the parquet
    sidecar named by ``blooms_file`` (normal), or the legacy inlined
    ``blooms`` dict (pre-sidecar tables keep reading). Returns None
    when the entry declares bloom columns but the payload is
    UNAVAILABLE (sidecar vacuumed/lost) — callers must then disable
    bloom pruning for this commit entirely: an absent per-file bitmap
    normally means "no non-null value in this file" (a provable miss),
    so an empty dict here would wrongly prune every file."""
    if "blooms" in entry:
        return entry["blooms"] or {}
    ref = entry.get("blooms_file")
    if not ref:
        return None
    path = root / _BLOOMS / ref
    try:
        st = path.stat()
    except OSError:
        return None
    key = (str(path), st.st_ino, st.st_mtime_ns, st.st_size)
    hit = _BLOOM_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    table = pq.read_table(str(path))
    out: dict = {}
    for rel, col, bits, k, raw in zip(
        table["file"].to_pylist(),
        table["col"].to_pylist(),
        table["bits"].to_pylist(),
        table["k"].to_pylist(),
        table["bitmap"].to_pylist(),
    ):
        out.setdefault(rel, {})[col] = {"bits": bits, "k": k, "raw": raw}
    if len(_BLOOM_CACHE) >= _BLOOM_CACHE_MAX:
        _BLOOM_CACHE.pop(next(iter(_BLOOM_CACHE)))
    _BLOOM_CACHE[key] = out
    return out


def _validate_bloom_columns(
    df: DataFrame, bloom_columns: list[str], partition_by: list[str]
) -> list[str]:
    for c in bloom_columns:
        dt = _dtype_of_path(df, c)  # flat column or dotted struct path
        if dt is None:
            raise ValueError(f"bloom column {c!r} not in commit schema")
        if c in partition_by:
            raise ValueError(
                f"bloom column {c!r} is a partition column — partition "
                "pruning already covers it"
            )
        if dt not in _BLOOM_DTYPES:
            raise ValueError(
                f"bloom column {c!r} has type {dt} — blooms need "
                f"a cast-stable string form, supported: {sorted(_BLOOM_DTYPES)}"
            )
    return list(bloom_columns)


def _validate_stats_columns(
    df: DataFrame, stats_columns: list[str], partition_by: list[str]
) -> list[str]:
    for c in stats_columns:
        dt = _dtype_of_path(df, c)  # flat column or dotted struct path
        if dt is None:
            raise ValueError(f"stats column {c!r} not in commit schema")
        if c in partition_by:
            raise ValueError(
                f"stats column {c!r} is a partition column — partition "
                "pruning already covers it; zone maps track file contents"
            )
        if dt not in _STATS_DTYPES:
            raise ValueError(
                f"stats column {c!r} has type {dt} — zone maps "
                f"support {sorted(_STATS_DTYPES)} only (string parquet "
                "stats may be truncated, which would prune wrongly)"
            )
    return list(stats_columns)


def _collect_file_stats(data_dir: Path, stats_columns: list[str]) -> dict:
    """Per-file min/max zone maps for a just-written commit directory:
    ``{relative_file: {col: [min, max]}}``, EVERY file listed (a file
    whose footer lacks usable stats for a column simply omits that
    column — readers must scan it). Cost is O(files in this commit)
    footer reads by the committing writer — the metadata mirror of
    Delta's per-file stats in the transaction log; at 100 TB it scales
    with the commit, never the table."""
    import pyarrow.parquet as pq

    stats: dict[str, dict] = {}
    for f in sorted(data_dir.rglob("*.parquet")):
        meta = pq.ParquetFile(str(f)).metadata
        # dotted leaf path — equals the name for flat columns, and
        # uniquely addresses one-level struct paths ('a.b')
        idx = {meta.schema.column(i).path: i for i in range(meta.num_columns)}
        per_col: dict[str, list] = {}
        for c in stats_columns:
            if c not in idx:
                continue
            lo = hi = None
            usable = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    usable = False  # e.g. float columns containing NaN
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if usable and lo is not None:
                per_col[c] = [_encode_stat(lo), _encode_stat(hi)]
        stats[str(f.relative_to(data_dir))] = per_col
    return stats


def _stage_dir(root: Path) -> Path:
    """A unique staging directory under the data root. Invisible to
    readers (only dirs named by log entries are ever read) and to
    vacuum within its retention window; renamed to its final
    ``c<version>`` name inside the commit critical section."""
    return root / _DATA / f"stage-{os.getpid()}-{os.urandom(4).hex()}"


def _stage_commit(
    root: Path,
    entries: list[dict],
    df: DataFrame,
    action: str,
    num_files: int | None,
    partition_by: list[str] | None,
    allow_new_columns: bool,
    stats_columns: list[str] | None,
    extra_entry: dict | None = None,
    change_feed: bool = False,
    bloom_columns: list[str] | None = None,
    bloom_bits: int = 65_536,
    allow_type_widening: bool = False,
) -> dict:
    """The EXPENSIVE half of a commit, run lock-free against a base
    snapshot (``entries``): validate, write the data files into a
    staging directory, collect per-file stats and bloom bitmaps (both
    keyed by file paths RELATIVE to the directory, so the later rename
    to the final version name invalidates nothing). Returns the
    prepared state for :func:`_publish_staged`."""
    reserved = {"_dv_key", "_dv_rid", "_change", "_commit_version"} & set(
        df.columns
    )
    if reserved:
        raise ValueError(
            f"column names {sorted(reserved)} are reserved by the table "
            "protocol (deletion vectors / change feed) — rename them"
        )
    mapping = _column_mapping(entries)
    if mapping:
        # callers speak LOGICAL names; storage (files, stats, blooms,
        # masks) speaks the frozen physical names
        taken = set(mapping.values())
        clash = [
            c for c in df.columns if c not in mapping and c in taken
        ]
        if clash:
            raise ValueError(
                f"column names {clash} are the PHYSICAL names of renamed "
                "columns — reusing them would make pre-rename files "
                "ambiguous; pick different names"
            )
        for logical, physical in mapping.items():
            if "." not in logical:
                continue
            lparent, _, lleaf = logical.rpartition(".")
            pleaf = physical.rsplit(".", 1)[1]
            if pleaf != lleaf and _dtype_of_path(
                df, f"{lparent}.{pleaf}"
            ) is not None and _dtype_of_path(df, logical) is not None:
                raise ValueError(
                    f"struct field {lparent}.{pleaf!r} is the PHYSICAL "
                    f"name of renamed leaf {logical!r} — reusing it would "
                    "make pre-rename files ambiguous; pick a different name"
                )
        df = df.withColumnsRenamed(
            {l: p for l, p in mapping.items() if "." not in l}
        )
        df = _apply_nested_renames_to_physical(df, mapping)
        if partition_by:
            partition_by = _names_to_physical(partition_by, mapping)
        if stats_columns:
            stats_columns = _names_to_physical(stats_columns, mapping)
        if bloom_columns:
            bloom_columns = _names_to_physical(bloom_columns, mapping)
    retired = _dropped_columns(entries) & (
        set(df.columns) | _struct_leaves(df.schema)
    )
    if retired:
        raise ValueError(
            f"column names {sorted(retired)} were DROPPED from this "
            "table — their physical names are retired forever (pre-drop "
            "files still hold the old values; re-using the name would "
            "resurrect them); pick different names"
        )
    # type guard: the same physical column may never change its type
    # across live commits (mixed footers make every multi-file scan a
    # late read-time failure). An overwrite replaces ALL live data, so
    # it may re-type freely — only it.
    types = dict(df.dtypes)
    prior_t = _prior_types(entries) if action != "overwrite" else None
    widened_types: dict[str, tuple] = {}
    if prior_t:
        # recorded struct signatures still carry dropped leaves (drop
        # commits are metadata-only); the incoming frame legitimately
        # lacks them — compare against the post-drop shape
        dropped_now = _dropped_columns(entries)
        prior_t = {
            c: _strip_dropped_leaves(c, t, dropped_now)
            for c, t in prior_t.items()
        }
        mismatch = {
            c: (prior_t[c], types[c])
            for c in types
            if c in prior_t and types[c] != prior_t[c]
        }
        if mismatch and allow_type_widening:
            widened_types = {
                c: m for c, m in mismatch.items() if _is_safe_widening(*m)
            }
            mismatch = {
                c: m for c, m in mismatch.items() if c not in widened_types
            }
        if mismatch:
            raise ValueError(
                "column type mismatch vs the table's recorded types "
                f"{mismatch} — cast the incoming frame; safe widenings "
                "(int->bigint, float->double) need "
                "allow_type_widening=True; anything else needs "
                "overwrite (which replaces all live data) to re-type"
            )
    if entries:
        prior_cols = set(entries[-1]["columns"])
        cols = set(df.columns)
        widened = cols - prior_cols
        if (cols != prior_cols and not allow_new_columns) or not (
            cols >= prior_cols
        ):
            raise ValueError(
                f"schema mismatch: table has {sorted(prior_cols)}, "
                f"commit has {sorted(cols)}"
                + (
                    "" if cols >= prior_cols
                    else " (columns may be added with allow_new_columns;"
                    " dropping one is its own commit: drop_column)"
                )
            )
        prior_part = entries[-1].get("partition_by") or []
        if partition_by is None:
            partition_by = prior_part
        elif list(partition_by) != prior_part:
            raise ValueError(
                f"partitioning mismatch: table uses {prior_part}, "
                f"commit requested {list(partition_by)}"
            )
        if stats_columns is None:
            stats_columns = entries[-1].get("stats_columns") or []
        if bloom_columns is None:
            bloom_columns = entries[-1].get("bloom_columns") or []
            bloom_bits = entries[-1].get("bloom_bits") or bloom_bits
    else:
        widened = set()
        partition_by = list(partition_by or [])
        stats_columns = list(stats_columns or [])
        bloom_columns = list(bloom_columns or [])
    if stats_columns:
        stats_columns = _validate_stats_columns(df, stats_columns, partition_by)
    if bloom_columns:
        bloom_columns = _validate_bloom_columns(df, bloom_columns, partition_by)
    if entries and (extra_entry or {}).get("data_change") is not False:
        # row-preserving commits (optimize) are exempt: no new rows
        _enforce_constraints(df, _active_constraints(entries))
    stage = _stage_dir(root)
    out = df.coalesce(num_files) if num_files else df
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(stage))
    entry = {
        "action": action,
        "columns": df.columns,
        "partition_by": partition_by,
        "types": types,
    }
    if widened_types:
        # audit trail + reader gate: pre-widening library versions
        # would hand the mixed footers to a plain multi-path scan and
        # crash mid-read — fail them loudly at resolve time instead
        entry["type_widened"] = {c: list(m) for c, m in widened_types.items()}
        entry["reader_features"] = sorted(
            set(entry.get("reader_features") or ()) | {"type_widening"}
        )
    stats = blooms = None
    if stats_columns:
        entry["stats_columns"] = stats_columns
        entry["stats_types"] = {
            c: _dtype_of_path(df, c) for c in stats_columns
        }
        stats = _collect_file_stats(stage, stats_columns)
    if bloom_columns:
        entry["bloom_columns"] = bloom_columns
        entry["bloom_bits"] = bloom_bits
        entry["bloom_types"] = {
            c: _dtype_of_path(df, c) for c in bloom_columns
        }
        blooms = _collect_file_blooms(
            df.sparkSession, stage, bloom_columns, bloom_bits
        )
    if widened:
        entry["added_columns"] = sorted(widened)
    if change_feed:
        entry["change_feed"] = True
    if extra_entry:
        entry.update(extra_entry)
    return {"stage": stage, "entry": entry, "stats": stats, "blooms": blooms}


def _latest_txns(entries: list[dict]) -> dict[str, int]:
    """Highest committed batch id per idempotent-writer app id (the
    Delta ``SetTransaction`` shape). Reads both the per-commit ``txn``
    stamps and the accumulated ``txns`` map a checkpoint fold carries
    on its retained last entry — so dedup state survives compaction of
    the very commits that recorded it. Accumulate-only: RESTORE undoes
    data, not the fact that a source batch was already ingested."""
    out: dict[str, int] = {}
    for e in entries:
        for app, b in (e.get("txns") or {}).items():
            if b > out.get(app, -1):
                out[app] = b
        t = e.get("txn")
        if t and t["batch"] > out.get(t["app"], -1):
            out[t["app"]] = t["batch"]
    return out


def _publish_staged(
    root: Path,
    base: list[dict],
    prep: dict,
    max_attempts: int = 50,
) -> dict | None:
    """The CHEAP half of a commit, run inside the writer-lock critical
    section: semantic conflict check against every entry that landed
    since the base snapshot (rebase-and-retry, the Delta optimistic-
    concurrency shape), rename the stage directory to its final
    ``c<version>`` name, write the bloom sidecar, O_EXCL-commit the
    log entry. The O_EXCL retry loop also covers writers that bypass
    the advisory lock (another host): a collision re-reads the tail,
    re-checks conflicts, and re-stamps the version-derived names."""
    base_last = base[-1] if base else None
    base_v = base_last["version"] if base_last else -1
    action = prep["entry"]["action"]
    txn = prep["entry"].get("txn")
    for _ in range(max_attempts):
        landed = _tail_after(root, base_v)
        if txn is not None:
            # exactly-once ingestion (the Delta txnAppId/txnVersion
            # shape), decided INSIDE the critical section so a racing
            # duplicate of the same source batch cannot double-commit:
            # if this (app, batch) already landed, publish nothing
            seen = _latest_txns(base + landed)
            if txn["batch"] <= seen.get(txn["app"], -1):
                return None
        _check_rebase(root, action, set(), base_last, landed)
        v = (landed[-1]["version"] if landed else base_v) + 1
        dir_name = f"c{v:08d}"
        data_dir = root / _DATA / dir_name
        try:
            os.rename(prep["stage"], data_dir)
        except OSError:
            # a foreign (cross-host, lock-bypassing) writer staged this
            # name and hasn't committed yet: wait for its entry to land,
            # then rebase past it
            time.sleep(0.05)
            continue
        entry = dict(prep["entry"])
        entry["version"] = v
        entry["dir"] = dir_name
        # operation metrics (the Delta DESCRIBE HISTORY shape): an
        # O(this commit's files) walk of the just-renamed directory —
        # never a table scan
        nf = nb = 0
        for f in data_dir.rglob("*.parquet"):
            nf += 1
            nb += f.stat().st_size
        entry["num_files"] = nf
        entry["bytes"] = nb
        if prep["stats"] is not None:
            entry["stats"] = prep["stats"]
        if prep["blooms"] is not None:
            entry["blooms_file"] = _write_bloom_sidecar(
                root, dir_name, prep["blooms"]
            )
        entry["ts"] = time.time()
        try:
            _commit(root, entry)
            return entry
        except RuntimeError:
            # a dir-less commit (set_constraints / DV delete) claimed v
            # between our tail read and the link: undo the rename and
            # rebase past it
            os.rename(data_dir, prep["stage"])
            if entry.get("blooms_file"):
                (root / _BLOOMS / f"{dir_name}.parquet").unlink(
                    missing_ok=True
                )
    raise ConcurrentModificationError(
        f"commit to {root} did not land after {max_attempts} rebase "
        "attempts — a foreign writer is monopolizing the log"
    )


def _write_commit(
    root: str | Path,
    df: DataFrame,
    action: str,
    num_files: int | None,
    partition_by: list[str] | None = None,
    allow_new_columns: bool = False,
    stats_columns: list[str] | None = None,
    extra_entry: dict | None = None,
    change_feed: bool = False,
    bloom_columns: list[str] | None = None,
    bloom_bits: int = 65_536,
    allow_type_widening: bool = False,
    txn: tuple[str, int] | None = None,
) -> dict | None:
    """Optimistic commit (the Delta shape): the expensive Spark write
    runs LOCK-FREE against a base snapshot into a staging directory;
    only the rename + conflict check + log link take the writer lock —
    milliseconds, so concurrent writers queue on the critical section
    instead of serializing their data writes. Conflicting concurrent
    commits raise :class:`ConcurrentModificationError`; commuting ones
    (blind appends, disjoint-file rewrites) are rebased and land.

    ``txn=(app_id, batch_id)`` makes the commit IDEMPOTENT per app
    (the Delta txnAppId/txnVersion shape): if a commit stamped with
    the same app and a batch id >= this one is already in the log,
    nothing is written and ``None`` is returned — the streaming sink's
    exactly-once contract. Checked cheaply against the base snapshot
    before the data write, and authoritatively under the writer lock."""
    root = Path(root)
    (root / _VLOG).mkdir(parents=True, exist_ok=True)
    base = _snapshot_entries(root)
    if txn is not None:
        app, batch = str(txn[0]), int(txn[1])
        if batch <= _latest_txns(base).get(app, -1):
            return None  # replayed batch: skip the write entirely
    prep = _stage_commit(
        root, base, df, action, num_files,
        partition_by, allow_new_columns, stats_columns,
        extra_entry=extra_entry, change_feed=change_feed,
        bloom_columns=bloom_columns, bloom_bits=bloom_bits,
        allow_type_widening=allow_type_widening,
    )
    if txn is not None:
        prep["entry"]["txn"] = {"app": app, "batch": batch}
    try:
        with writer_lock(root, wait_seconds=_LOCK_WAIT):
            return _publish_staged(root, base, prep)
    finally:
        shutil.rmtree(prep["stage"], ignore_errors=True)


def append(
    root: str | Path,
    df: DataFrame,
    num_files: int | None = None,
    partition_by: list[str] | None = None,
    allow_new_columns: bool = False,
    stats_columns: list[str] | None = None,
    extra_entry: dict | None = None,
    change_feed: bool = False,
    bloom_columns: list[str] | None = None,
    bloom_bits: int = 65_536,
    allow_type_widening: bool = False,
    txn: tuple[str, int] | None = None,
) -> dict | None:
    """Commit ``df`` as a new version that ADDS to the live set.

    ``txn=(app_id, batch_id)`` makes the append IDEMPOTENT per app id
    (the Delta txnAppId/txnVersion shape): a batch id at or below the
    app's highest committed batch is skipped and ``None`` returned —
    the exactly-once hook the streaming sink
    (``sources/table_sink.py``) keys on (queryId, batchId).

    ``partition_by`` (first commit only — later commits must match)
    hive-partitions every commit directory, so snapshot reads prune
    partitions per commit scan (evolve later with
    :func:`set_partitioning`). ``allow_new_columns`` permits widening
    the schema; older commits surface NULL for the new columns on read.
    An incoming frame may never silently narrow the schema — dropping
    a column is its own auditable commit (:func:`drop_column`).
    ``extra_entry`` attaches custom keys (e.g. a ``user_metadata``
    string) to the log entry; ``history`` surfaces them.
    ``stats_columns`` records per-file min/max zone maps in the log
    entry (Delta data-skipping shape) that ``read_where`` uses to drop
    whole files before the scan; once set, later commits inherit it
    unless they pass their own list. ``extra_entry`` merges
    caller-supplied keys into the log entry — the hook idempotent
    ingestion uses to tag commits with their source batch id.
    ``change_feed=True`` turns on row-level change tracking from this
    commit onward (ENABLE-ONLY, the Delta property shape): later
    deletes/upserts write per-commit change-data files that
    :func:`read_change_feed` and the streaming source's
    ``readChangeFeed`` mode serve at O(changed rows) cost.
    ``bloom_columns`` records a per-file Bloom bitmap (``bloom_bits``
    bits, default 64 Ki ≈ 8 KB/file/column — size ≈ 10× the expected
    distinct values per file) for string/integer columns in the log
    entry: equality predicates and merge/delete keys then prune files
    the value provably isn't in — the pruning zone maps can't offer
    for STRINGS (parquet may truncate string min/max). Inherited by
    later commits like ``stats_columns``.
    ``allow_type_widening=True`` permits an append whose columns WIDEN
    the recorded types along the safe lattice (int->bigint,
    float->double and the smaller-integer promotions — descending into
    struct fields and array elements): the table's
    declared type becomes the wider one, existing files stay in place,
    and scans upcast them in the parquet reader. Narrowing — and any
    off-lattice re-typing — still refuses; a widening commit stamps
    the ``type_widening`` reader feature and conflicts with every
    concurrent in-flight write (it changes table metadata).
    """
    return _write_commit(
        root, df, "append", num_files, partition_by, allow_new_columns,
        stats_columns, extra_entry, change_feed=change_feed,
        bloom_columns=bloom_columns, bloom_bits=bloom_bits,
        allow_type_widening=allow_type_widening, txn=txn,
    )


def overwrite(
    root: str | Path,
    df: DataFrame,
    num_files: int | None = None,
    partition_by: list[str] | None = None,
    allow_new_columns: bool = False,
    stats_columns: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    bloom_bits: int = 65_536,
) -> dict:
    """Commit ``df`` as a new version that REPLACES the live set.

    Prior versions stay readable (time travel) until ``vacuum`` retires
    them — overwrite never deletes data files. ``stats_columns`` and
    ``bloom_columns`` as in :func:`append`.
    """
    return _write_commit(
        root, df, "overwrite", num_files, partition_by, allow_new_columns,
        stats_columns, bloom_columns=bloom_columns, bloom_bits=bloom_bits,
    )


def history(root: str | Path) -> list[dict]:
    """Committed log entries, oldest first."""
    return _committed_entries(Path(root))


# Reader feature flags (the Delta protocol shape): a FUTURE writer that
# introduces a format capability this code cannot read correctly must
# stamp it in its entries' ``reader_features``; every reader below then
# fails LOUDLY instead of silently returning wrong rows. Capabilities
# this codebase reads are listed here; everything the current writers
# produce is implied (pre-flag tables carry no key).
_READER_FEATURES = frozenset(
    {
        "deletion_vectors",
        "column_mapping",
        "dropped_columns",
        "partition_evolution",
        "checkpoint_v1",
        "restore",
        "type_widening",
    }
)


def _check_reader_features(root, entries: list[dict]) -> None:
    for e in entries:
        unknown = set(e.get("reader_features") or ()) - _READER_FEATURES
        if unknown:
            raise ValueError(
                f"table {root} requires reader features {sorted(unknown)} "
                f"(introduced at v{e['version']}) that this version of "
                "the library does not support — upgrade to read it; "
                "time travel BELOW that version still works"
            )


def _resolve(root: Path, entries: list[dict], version: int | None):
    """(version, live data dirs, live entries ≤ version) from ONE log
    snapshot — callers must not re-read the log afterwards, or a commit
    landing in between makes schema and data disagree (readers are
    lock-free by design)."""
    if not entries:
        raise VersionNotFoundError(f"{root} has no committed versions")
    if version is None:
        version = entries[-1]["version"]
    have = {e["version"] for e in entries}
    if version not in have:
        raise VersionNotFoundError(
            f"version {version} not committed in {root} "
            f"(have {sorted(have)})"
        )
    # feature gate scoped to the entries this read actually resolves:
    # time travel below a future feature's introduction keeps working
    _check_reader_features(
        root, [e for e in entries if e["version"] <= version]
    )
    live: list[str] = []
    for e in entries:
        if e["version"] > version:
            break
        if e["action"] == "overwrite":
            live = [e["dir"]]
        elif e["action"] == "restore":
            live = list(e["dirs"])  # rollback: the target's live set
        elif e.get("dir"):  # a delete with zero survivors commits dir=None
            live.append(e["dir"])
    dirs = [str(root / _DATA / d) for d in live]
    return version, dirs, [e for e in entries if e["version"] <= version]


def _live_masks(live_entries: list[dict]) -> dict[str, set[str]]:
    """dir-name -> masked dir-relative parquet paths, accumulated from
    ``delete`` entries at or below the resolved version. Applied only
    to dirs actually live (a later overwrite retires the dir and the
    mask with it — dir names never repeat, so a stale mask can never
    mis-apply). Reading a version BEFORE a delete never sees its mask:
    the entry list is already truncated at the requested version."""
    masks: dict[str, set[str]] = {}
    for e in live_entries:
        if e["action"] == "restore":
            # rollback RESETS the masks to the target version's set
            # (recorded in the entry) — deletes committed between the
            # target and the restore must not reach restored files
            masks = {
                d: set(rels) for d, rels in (e.get("removed") or {}).items()
            }
            continue
        for d, rels in (e.get("removed") or {}).items():
            masks.setdefault(d, set()).update(rels)
    return masks


def _surviving_files(dirs: list[str], masks: dict[str, set[str]]) -> list[str]:
    """Explicit per-file scan list for the live dirs minus masked files
    (only called when some live dir carries a mask)."""
    out: list[str] = []
    for d in dirs:
        masked = masks.get(Path(d).name, ())
        for f in sorted(Path(d).rglob("*.parquet")):
            if str(f.relative_to(d)) not in masked:
                out.append(str(f))
    return out


def _live_dv_refs(live_entries: list[dict]) -> list[tuple[str, int]]:
    """(dv sidecar name, row count) pairs active at the resolved
    version, oldest first. Deletion vectors accumulate like masks and
    RESET the same way: an overwrite retires every earlier DV with the
    files it retires; a restore reinstates exactly the target's set
    (recorded in its entry); a checkpoint fold emits the accumulated
    set as ``dv_all`` (replace semantics, includes the entry's own)."""
    refs: list[tuple[str, int]] = []
    for e in live_entries:
        if "dv_all" in e:
            refs = [tuple(r) for r in e["dv_all"]]
            continue
        if e["action"] == "overwrite":
            refs = []
        elif e["action"] == "restore":
            refs = [tuple(r) for r in (e.get("dv") or [])]
        if e.get("dv_ref"):
            refs.append((e["dv_ref"], int(e.get("dv_rows") or 0)))
    return refs


def _dv_frame(spark: SparkSession, root: Path, live_entries: list[dict]):
    """The union of the live deletion vectors as (``_dv_key``,
    ``_dv_rid``), broadcast-hinted while the total stays comfortably
    under the broadcast budget — the common case: DVs exist precisely
    because the delete was small relative to its files. Returns None
    when no DV is active (every read stays exactly the pre-DV plan)."""
    from pyspark.sql import functions as F

    refs = _live_dv_refs(live_entries)
    if not refs:
        return None
    paths = [str(root / _DV / name) for name, _ in refs]
    df = spark.read.parquet(*paths).select("_dv_key", "_dv_rid").distinct()
    if sum(n for _, n in refs) <= 2_000_000:  # ~50 MB broadcast ceiling
        df = F.broadcast(df)
    return df


def _dv_filter(df: DataFrame, dvf) -> DataFrame:
    """Apply the live deletion vectors to a FILE-SCAN DataFrame (must be
    called directly on the scan, before any projection drops the hidden
    ``_metadata`` column): anti-join on (encoded file suffix, row
    position). No DV ⇒ the input is returned untouched."""
    from pyspark.sql import functions as F

    if dvf is None:
        return df
    cols = df.columns
    probe = df.withColumns(
        {
            "_dv_key": F.regexp_extract(
                F.col("_metadata.file_path"), _DV_KEY, 1
            ),
            "_dv_rid": F.col("_metadata.row_index"),
        }
    )
    return probe.join(dvf, ["_dv_key", "_dv_rid"], "left_anti").select(*cols)


def live_dirs(root: str | Path, version: int | None = None) -> list[str]:
    """Data directories visible at ``version`` (default: latest)."""
    root = Path(root)
    return _resolve(root, _entries_for(root, version), version)[1]


def clone_table(
    src: str | Path,
    dst: str | Path,
    version: int | None = None,
    timestamp=None,
) -> dict:
    """ZERO-COPY CLONE of the table at ``version`` / ``timestamp``
    (default: latest) into a fresh, fully independent table at ``dst``
    — the Delta SHALLOW CLONE use case (dev/test forks, experiment
    branches, blue/green migrations) without its dangling-reference
    hazard: data files are HARD-LINKED (O(files) metadata ops, zero
    data bytes; same-filesystem), so vacuuming the source can never
    break the clone — the inodes stay alive until both sides retire
    them. Cross-device targets degrade to per-file copies
    (``copied_files`` in the result says how many).

    The clone materializes the RESOLVED state, not the history: masks
    are folded in by not linking masked files, live deletion vectors
    are re-keyed to the clone's directory names and carried (the KB
    sidecars are the only rewritten bytes), per-file zone-map stats and
    bloom sidecars ride along, and schema metadata (column mapping,
    dropped names, declarations, constraints, change-feed flag) is
    replicated. The clone's log starts at v0 — writes to either side
    never affect the other. Source time travel below the cloned
    version is not carried (clone the older version instead)."""
    import shutil as _sh

    src, dst = Path(src), Path(dst)
    version = _resolve_as_of(src, version, timestamp)
    entries = _entries_for(src, version)
    version, dirs, live_entries = _resolve(src, entries, version)
    if _committed_entries(dst):
        raise ValueError(f"{dst} already has committed versions")
    last = live_entries[-1]
    masks = _live_masks(live_entries)
    dv_refs = _live_dv_refs(live_entries)
    by_dir = {e["dir"]: e for e in live_entries if e.get("dir")}
    widened = sorted(
        {c for e in live_entries for c in (e.get("added_columns") or [])}
    )
    mapping = _column_mapping(live_entries)
    dropped = _dropped_columns(live_entries)
    cons = _active_constraints(live_entries)
    (dst / _VLOG).mkdir(parents=True, exist_ok=True)
    (dst / _DATA).mkdir(parents=True, exist_ok=True)

    from concurrent.futures import ThreadPoolExecutor

    def _link_one(pair):
        f, tgt = pair
        try:
            os.link(f, tgt)
            return 0
        except OSError:  # cross-device (or FS without links): copy
            _sh.copy2(f, tgt)
            return 1

    linked = copied = 0
    name_map: dict[str, str] = {}
    clone_entries: list[dict] = []
    pool = ThreadPoolExecutor(max_workers=32)  # links are tiny syscalls:
    # a serial driver loop is the bottleneck at millions of live files
    try:
        for i, d in enumerate(dirs):
            sname = Path(d).name
            dname = f"c{i:08d}"
            name_map[sname] = dname
            src_e = by_dir[sname]
            masked = masks.get(sname, set())
            ddir = dst / _DATA / dname
            stats = src_e.get("stats")
            new_stats: dict = {}
            jobs = []
            for f in sorted(Path(d).rglob("*.parquet")):
                rel = str(f.relative_to(d))
                if rel in masked:
                    continue
                tgt = ddir / rel
                tgt.parent.mkdir(parents=True, exist_ok=True)
                jobs.append((f, tgt))
                if stats and rel in stats:
                    new_stats[rel] = stats[rel]
            for r in pool.map(_link_one, jobs):
                copied += r
                linked += 1 - r
            entry = {
                "version": i,
                "action": "append",
                "clone_of": str(src),
                "clone_src_dir": sname,
                "dir": dname,
                "columns": src_e["columns"],
                # layout is per directory (partition evolution): each
                # cloned dir keeps ITS OWN source layout
                "partition_by": src_e.get("partition_by") or [],
            }
            if src_e.get("types"):
                # per-dir footer types ride along so _types_vary (and
                # with it the explicit-schema read path a type-widened
                # live set needs) keeps working inside the clone
                entry["types"] = src_e["types"]
            if src_e.get("type_widened"):
                entry["type_widened"] = src_e["type_widened"]
                entry["reader_features"] = sorted(
                    set(src_e.get("reader_features") or ())
                    | {"type_widening"}
                )
            if new_stats:
                entry["stats"] = new_stats
                entry["stats_columns"] = src_e.get("stats_columns") or []
                if src_e.get("stats_types"):
                    entry["stats_types"] = src_e["stats_types"]
            side = src / _BLOOMS / (src_e.get("blooms_file") or "")
            if src_e.get("blooms_file") and side.is_file():
                dside = dst / _BLOOMS / f"{dname}.parquet"
                dside.parent.mkdir(parents=True, exist_ok=True)
                try:
                    os.link(side, dside)
                except OSError:
                    _sh.copy2(side, dside)
                entry["blooms_file"] = f"{dname}.parquet"
                entry["bloom_columns"] = src_e.get("bloom_columns") or []
                entry["bloom_bits"] = src_e.get("bloom_bits") or 65_536
                if src_e.get("bloom_types"):
                    entry["bloom_types"] = src_e["bloom_types"]
            clone_entries.append(entry)
    finally:
        pool.shutdown(wait=True)

    # live deletion vectors: re-key the (KB-sized) sidecars to the
    # clone's directory names; sidecar dir names deliberately do NOT
    # look like c<version> so a future DV delete in the clone can never
    # collide with them
    dv_all: list[list] = []
    for j, (name, _rows) in enumerate(dv_refs):
        sdir = src / _DV / name
        if not sdir.is_dir():
            raise VersionNotFoundError(
                f"cannot clone {src} at v{version}: deletion vector "
                f"{name} was vacuumed"
            )
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        parts = [
            pq.read_table(str(f)) for f in sorted(sdir.rglob("*.parquet"))
        ]
        tbl = pa.concat_tables(parts)
        # vectorized re-key: the dir-name prefix of a key is plain
        # [c0-9]+ (never percent-encoded), so a string prefix rewrite
        # on the ENCODED keys is exact; one pass per live source dir
        # (bounded by live-dir count), arrow-side throughout — DV
        # sidecars can be millions of rows, a Python row loop would be
        # the clone's only non-O(files) cost
        keys = tbl["_dv_key"]
        if isinstance(keys, pa.ChunkedArray):
            keys = keys.combine_chunks()
        keep = pa.array([False] * len(tbl))
        out_keys = keys
        for sname_dv, nname in name_map.items():
            m = pc.starts_with(keys, f"{sname_dv}/")
            keep = pc.or_(keep, m)
            out_keys = pc.if_else(
                m,
                pc.replace_substring_regex(
                    out_keys, f"^{sname_dv}/", f"{nname}/"
                ),
                out_keys,
            )
        rekeyed = pa.table(
            {"_dv_key": out_keys, "_dv_rid": tbl["_dv_rid"]}
        ).filter(keep)  # rows of non-live dirs are stale here
        if not len(rekeyed):
            continue
        ddv = dst / _DV / f"clone{j:04d}"
        ddv.mkdir(parents=True, exist_ok=True)
        pq.write_table(rekeyed, str(ddv / "part-0.parquet"))
        dv_all.append([f"clone{j:04d}", len(rekeyed)])

    if not clone_entries:  # empty live set: one dir-less schema carrier
        clone_entries.append(
            {
                "version": 0,
                "action": "append",
                "clone_of": str(src),
                "dir": None,
                "columns": last["columns"],
                "partition_by": last.get("partition_by") or [],
            }
        )
    final = clone_entries[-1]
    final["columns"] = last["columns"]  # current schema rides the tail
    src_types = _prior_types(live_entries)
    if src_types:
        final["types"] = src_types  # commit-time type guard carries over
    if last.get("stats_columns"):
        final["stats_columns"] = last["stats_columns"]
    if last.get("bloom_columns"):
        final["bloom_columns"] = last["bloom_columns"]
        final["bloom_bits"] = last.get("bloom_bits") or 65_536
    if widened:
        final["added_columns"] = widened
    if mapping:
        final["column_mapping"] = mapping
    if dropped:
        final["dropped_columns"] = sorted(dropped)
    if dv_all:
        final["dv_all"] = dv_all
    if _cf_active(live_entries):
        final["change_feed"] = True
    declared_part = last.get("partition_by") or []
    if declared_part != (final.get("partition_by") or []):
        # the source declared a NEW layout (partition evolution) that
        # its newest live dir predates: replicate the declaration as a
        # property commit so future clone commits write the new layout
        clone_entries.append(
            {
                "version": len(clone_entries),
                "action": "set_partitioning",
                "dir": None,
                "columns": final["columns"],
                "partition_by": declared_part,
                **(
                    {"stats_columns": final["stats_columns"]}
                    if final.get("stats_columns") else {}
                ),
                **(
                    {
                        "bloom_columns": final["bloom_columns"],
                        "bloom_bits": final["bloom_bits"],
                    }
                    if final.get("bloom_columns") else {}
                ),
                **(
                    {"change_feed": True}
                    if final.get("change_feed") else {}
                ),
            }
        )
    for e in clone_entries:
        e["ts"] = time.time()
        _commit(dst, e)
    if cons is not None:
        _commit(
            dst,
            {
                "version": len(clone_entries),
                "action": "set_constraints",
                "dir": None,
                "columns": final["columns"],
                "partition_by": declared_part,
                "not_null": cons["not_null"],
                "checks": [list(c) for c in cons["checks"]],
                **(
                    {"stats_columns": final["stats_columns"]}
                    if final.get("stats_columns") else {}
                ),
                **(
                    {
                        "bloom_columns": final["bloom_columns"],
                        "bloom_bits": final["bloom_bits"],
                    }
                    if final.get("bloom_columns") else {}
                ),
                **(
                    {"change_feed": True}
                    if final.get("change_feed") else {}
                ),
                "ts": time.time(),
            },
        )
    return {
        "src_version": version,
        "versions": len(clone_entries) + (cons is not None),
        "linked_files": linked,
        "copied_files": copied,
        "dv_sidecars": len(dv_all),
        "dv_rows": sum(n for _, n in dv_all),
    }


def _to_epoch(timestamp) -> float:
    """Normalize a user timestamp — epoch seconds, ``datetime``, or an
    ISO-8601 string — to epoch seconds. A naive datetime / ISO string
    is interpreted in LOCAL time (what ``datetime.timestamp()`` does),
    matching how a user reads their own wall clock; pass an offset
    (``...+00:00``) or an epoch float for timezone-exact queries."""
    import datetime as _dt

    if isinstance(timestamp, bool):
        raise TypeError("timestamp must be epoch seconds, datetime or str")
    if isinstance(timestamp, (int, float)):
        return float(timestamp)
    if isinstance(timestamp, _dt.datetime):
        return timestamp.timestamp()
    if isinstance(timestamp, str):
        try:
            return float(timestamp)  # "1755300000.5": epoch passthrough
        except ValueError:
            pass
        try:
            return _dt.datetime.fromisoformat(timestamp).timestamp()
        except ValueError:
            raise ValueError(
                f"timestamp string {timestamp!r} is neither epoch "
                "seconds nor ISO-8601 (e.g. '2026-08-16T12:30:00' or "
                "'...+00:00')"
            ) from None
    raise TypeError(
        f"timestamp must be epoch seconds, datetime or ISO string, "
        f"got {type(timestamp).__name__}"
    )


def _effective_ts(root: Path, entries: list[dict]) -> dict[int, float]:
    """version -> commit time for the AS OF / startingTimestamp
    surfaces. Prefers the writer clock recorded at commit
    (``entry['ts']``); an entry that predates ts recording falls back
    to its ``_vlog/v*.json`` mtime (a real record of when the commit
    landed) and, when the file was folded into a checkpoint, to the
    previous entry's time. The series is then forced monotone
    non-decreasing by running max, so neither clock skew nor mtime
    weirdness can make a LATER version resolve for an EARLIER time —
    without this, a missing ts defaulted to epoch 0 and a legacy
    commit newer than the request would satisfy ``ts <= t``."""
    eff: dict[int, float] = {}
    run = 0.0
    for e in entries:
        ts = e.get("ts")
        if ts is None:
            p = _entry_path(root, e["version"])
            try:
                ts = p.stat().st_mtime
            except OSError:
                ts = run  # folded into a checkpoint: carry forward
        run = max(run, float(ts))
        eff[e["version"]] = run
    return eff


def version_at(root: str | Path, timestamp) -> int:
    """The version a reader at ``timestamp`` would have seen: the
    NEWEST commit whose commit time is <= the requested time (the
    Delta/Iceberg TIMESTAMP AS OF shape). Commit times are the
    writers' clocks recorded at commit (``entry['ts']``) — monotone
    with version on a single log in practice, but resolution is
    defined as max(version | ts <= t) so a small clock skew between
    writers can never make the answer ambiguous. Raises if the table
    had no committed version yet at that time."""
    root = Path(root)
    ts = _to_epoch(timestamp)
    entries = _committed_entries(root)  # raw log: audit path, like history
    eff = _effective_ts(root, entries)
    cand = [v for v, t in eff.items() if t <= ts]
    if not cand:
        raise VersionNotFoundError(
            f"{root} had no committed version at timestamp {timestamp!r}"
            + (
                f" (first commit at epoch {entries[0].get('ts')})"
                if entries else " (no commits at all)"
            )
        )
    return max(cand)


def _resolve_as_of(root: Path, version, timestamp):
    """Shared version/timestamp argument handling for the AS OF
    surfaces: exactly one of the two may be given."""
    if timestamp is None:
        return version
    if version is not None:
        raise ValueError("pass either version or timestamp, not both")
    return version_at(root, timestamp)


def read_version(
    spark: SparkSession,
    root: str | Path,
    version: int | None = None,
    timestamp=None,
) -> DataFrame:
    """Snapshot read of the table at ``version`` (default: latest), or
    AS OF ``timestamp`` (epoch seconds, datetime, or ISO string — the
    newest commit at or before that time; see :func:`version_at`).

    Plain parquet scans of the live commit directories, unioned by name
    — pushdown and (for partitioned tables) partition pruning apply per
    scan; per-directory reads sidestep the conflicting-partitioned-roots
    refusal of a multi-path read. Commits written before a schema
    widening surface NULL for the later columns; the column order is the
    as-of-``version`` schema.
    """
    root = Path(root)
    version = _resolve_as_of(root, version, timestamp)
    version, dirs, live_entries = _resolve(root, _entries_for(root, version), version)
    gone = [Path(d).name for d in dirs if not Path(d).is_dir()]
    if gone:
        # the log entry outlives its data (history stays auditable);
        # label the failure instead of a raw Spark PATH_NOT_FOUND
        raise VersionVacuumedError(
            f"version {version} of {root} references retired "
            f"directories {gone} — vacuum removed them past retention; "
            "time travel to this version is no longer possible"
        )
    schema_cols = live_entries[-1]["columns"]
    mapping = _column_mapping(live_entries)
    # layout is PER DIRECTORY (partition evolution): any live dir with
    # a hive layout forces the per-dir union path; a table whose live
    # dirs are all unpartitioned keeps the single multi-path scan even
    # if the DECLARED (future-commit) layout is partitioned
    _per_dir = {
        e["dir"]: bool(e.get("partition_by"))
        for e in live_entries if e.get("dir")
    }
    partitioned = any(_per_dir.get(Path(d).name, False) for d in dirs)
    widened = any("added_columns" in e for e in live_entries)
    masks = _live_masks(live_entries)
    masked = any(Path(d).name in masks for d in dirs)
    dvf = _dv_frame(spark, root, live_entries)

    dropped_paths = {c for c in _dropped_columns(live_entries) if "." in c}

    def _backfill(df):
        # a widened column can be absent from every surviving file once
        # deletes mask files out — NULL is what those rows would read
        from pyspark.sql import functions as F

        for c in schema_cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None))
        # dropped struct leaves are hidden (their bytes persist in
        # pre-drop files until a rewrite re-materializes the live set)
        df = _apply_nested_drops(df, dropped_paths)
        # files/stats speak PHYSICAL names; the caller sees LOGICAL
        return _to_logical(df.select(*schema_cols), mapping)

    if not partitioned:
        # one multi-path scan node — a 120-commit live set plans as a
        # single FileSourceScan instead of a 120-leaf union (the
        # conflicting-roots refusal only applies to PARTITIONED dirs);
        # mergeSchema covers commits written before a schema widening
        reader = spark.read
        # type widening leaves footers of mixed width: an explicit
        # declared-types schema makes the vectorized reader upcast old
        # files in the scan (a plain or mergeSchema read fails) — and
        # covers pre-widening files' missing columns with NULL too
        ddl = (
            _read_schema_ddl(live_entries, schema_cols)
            if _types_vary(live_entries) else None
        )
        if ddl:
            reader = reader.schema(ddl)
        elif widened:
            reader = reader.option("mergeSchema", "true")
        # _backfill, not a bare select: a restore can make a live set
        # that predates a schema widening current again — the widened
        # column then exists in NO live file and must read as NULL
        if not masked:
            return _backfill(_dv_filter(reader.parquet(*dirs), dvf))
        files = _surviving_files(dirs, masks)
        if not files:
            return _backfill(reader.parquet(*dirs)).limit(0)
        return _backfill(_dv_filter(reader.parquet(*files), dvf))
    df = None
    for d in dirs:
        if not masked:
            part = spark.read.parquet(d)
        else:
            plist = _surviving_files([d], masks)
            if not plist:
                continue  # every file of this commit dir is masked
            part = spark.read.option("basePath", d).parquet(*plist)
        part = _dv_filter(part, dvf)
        df = part if df is None else df.unionByName(part, allowMissingColumns=True)
    if df is None:  # every live file masked out
        return _backfill(spark.read.parquet(dirs[0]).limit(0))
    return _backfill(df)


_PRUNE_OPS = {"==", "<", "<=", ">", ">=", "between", "in"}


def _typed_lit(df, col, value):
    """Literal in the COLUMN's type: naive datetimes / dates / ISO
    strings cast via string to timestamp_ntz or date (timezone-free
    by construction — a bare Python-datetime literal would become a
    session-zoned TIMESTAMP and shift against an NTZ column)."""
    import datetime as _dt

    from pyspark.sql import functions as F

    dtype = _dtype_of_path(df, col)
    if dtype in ("timestamp_ntz", "timestamp", "date"):
        if isinstance(value, (_dt.datetime, _dt.date)):
            value = value.isoformat(sep=" ") if isinstance(
                value, _dt.datetime
            ) else value.isoformat()
        return F.lit(value).cast(dtype)
    return F.lit(value)


def _predicate_cond(df, predicates):
    """The (column, op, value) conjunction as a typed Column — the same
    predicate language zone_map_prune evaluates against file stats,
    applied as a real row filter (shared by read_where and
    delete_where_pruned so pruning and filtering can never diverge)."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for col, op, value in predicates:
        c = F.col(col)
        if op == "between":
            term = (c >= _typed_lit(df, col, value[0])) & (
                c <= _typed_lit(df, col, value[1])
            )
        elif op == "in":
            term = c.isin(*[_typed_lit(df, col, v) for v in value])
        else:
            v = _typed_lit(df, col, value)
            term = {
                "==": c == v, "<": c < v, "<=": c <= v,
                ">": c > v, ">=": c >= v,
            }[op]
        cond = cond & term
    return cond


def _range_may_match(lo, hi, op: str, value) -> bool:
    """Can any row in a file whose column spans [lo, hi] satisfy the
    predicate? Conservative by construction: only a provable miss
    returns False. NULLs are safe to ignore — parquet min/max stats
    exclude them and every supported operator is null-rejecting."""
    if op == "==":
        return lo <= value <= hi
    if op == "in":
        return any(lo <= v <= hi for v in value)
    if op == "<":
        return lo < value
    if op == "<=":
        return lo <= value
    if op == ">":
        return hi > value
    if op == ">=":
        return hi >= value
    a, b = value
    return hi >= a and lo <= b


def zone_map_prune(
    root: str | Path,
    predicates: list[tuple],
    version: int | None = None,
) -> dict:
    """Evaluate a conjunction of ``(column, op, value)`` predicates
    (``op`` in ``==/</<=/>/>=/between/in``; ``between`` takes an
    inclusive ``(lo, hi)`` pair, ``in`` a value collection) against the
    per-file zone maps — and, for ``==``/``in``, the per-file Bloom
    bitmaps — recorded in the
    commit log, WITHOUT touching any data file. Returns::

        {"files": [abs paths to scan], "dirs": [no-stats dirs to scan],
         "total_files": N, "kept_files": K, "skipped_files": N - K,
         "skip_fraction": (N - K) / N}

    A file is dropped only when some predicate provably misses its
    [min, max] range; files lacking stats for a predicate column — and
    whole commits written without ``stats_columns`` — are always kept,
    so pruning can only skip work, never rows. Cost is O(live files)
    driver-side arithmetic over the already-parsed log: the Delta
    data-skipping read shape — at 100 TB the decision reads zero bytes
    of data.
    """
    for p in predicates:
        if len(p) != 3 or p[1] not in _PRUNE_OPS:
            raise ValueError(
                f"predicate {p!r} must be (column, op, value) with op in "
                f"{sorted(_PRUNE_OPS)}"
            )
    root = Path(root)
    _, dirs, live_entries = _resolve(root, _entries_for(root, version), version)
    # predicates arrive in LOGICAL names; stats/blooms speak physical
    predicates = _preds_to_physical(predicates, _column_mapping(live_entries))
    known = set(live_entries[-1]["columns"])
    gone = _dropped_columns(live_entries)

    def _in_schema(c):
        segs = c.split(".")
        if segs[0] not in known:
            return False
        # neither the path nor any ancestor may be dropped (a dropped
        # subtree's data still sits in pre-drop files)
        return not any(
            ".".join(segs[: i + 1]) in gone for i in range(len(segs))
        )
    unknown = sorted({c for c, _, _ in predicates if not _in_schema(c)})
    if unknown:
        # a dropped column's data still sits in pre-drop files — a
        # silent filter over it would resurrect retired values
        raise ValueError(
            f"predicate columns {unknown} are not in the table schema "
            f"at this version"
        )
    by_dir = {e["dir"]: e for e in live_entries if e.get("dir")}
    masks = _live_masks(live_entries)
    files: list[str] = []
    plain_dirs: list[str] = []  # pre-stats commits: scan whole dir
    total = kept = 0
    bloom_pos_cache: dict[tuple, list[int]] = {}
    for d in dirs:
        # .get: a dir can be live yet have no entry in a CHECKPOINTED
        # snapshot — the fold drops fully-masked dead dirs, and a later
        # restore can resurrect exactly those. Degrade to a stats-less
        # whole scan (conservative: keeps files, never loses rows).
        entry = by_dir.get(Path(d).name) or {}
        masked = masks.get(Path(d).name, set())
        stats = entry.get("stats")
        bloom_cols = set(entry.get("bloom_columns") or [])
        btypes = entry.get("bloom_types") or {}
        # equality predicates this entry's blooms can answer (blooms
        # cover strings, which zone maps refuse); IN is a value set —
        # the file may match if ANY member may be present. Probe
        # values are normalized to the column's recorded dtype; a
        # value that can't be normalized exactly COULD be present
        # (hash space mismatch), so its whole column probe is dropped
        # for this entry — degrade to scan, never a wrong prune.
        eq = []
        for col, op, value in predicates:
            if op not in ("==", "in") or col not in bloom_cols:
                continue
            vals = [value] if op == "==" else list(value)
            norm = [_bloom_probe_value(v, btypes.get(col)) for v in vals]
            if all(v is not None for v in norm):
                eq.append((col, norm))
        if stats is None and not eq:
            # masked files are not live — list the survivors explicitly
            # (a fully-unmasked no-stats dir stays a whole-dir scan)
            if masked:
                survivors = _surviving_files([d], masks)
                total += len(survivors)
                kept += len(survivors)
                files.extend(survivors)
            else:
                n = sum(1 for _ in Path(d).rglob("*.parquet"))
                total += n
                kept += n
                plain_dirs.append(d)
            continue
        # per-column stats kind; entries written before kinds were
        # recorded hold plain numbers
        types = entry.get("stats_types") or {
            c: "numeric" for c in entry.get("stats_columns", [])
        }
        # bring predicate values into this entry's recorded comparison
        # space once (date -> ordinal day, naive ts -> epoch micros);
        # a predicate column this entry has no stats for can never prune
        # here, so it is skipped rather than mis-encoded
        enc: list[tuple] = []
        for col, op, value in predicates:
            if col not in types:
                continue
            kind = types[col]
            if op == "between":
                enc.append((col, op, (
                    _encode_pred_value(value[0], kind),
                    _encode_pred_value(value[1], kind),
                )))
            elif op == "in":
                enc.append((col, op, [
                    _encode_pred_value(v, kind) for v in value
                ]))
            else:
                enc.append((col, op, _encode_pred_value(value, kind)))
        # file universe: stats keys when recorded, else the dir listing
        # (blooms-only commits still need per-file decisions)
        if stats is not None:
            universe = list(stats.keys())
        else:
            universe = [
                str(f.relative_to(d))
                for f in sorted(Path(d).rglob("*.parquet"))
            ]
        live_rels = [rel for rel in universe if rel not in masked]
        if eq and live_rels:
            # sidecar loaded lazily, and only for dirs with a surviving
            # file: a fully-masked commit dir must cost nothing here
            blooms = _entry_blooms(root, entry)
            if blooms is None:
                eq_d = []  # sidecar unavailable: bloom pruning off here
            else:
                eq_d = eq
        else:
            blooms, eq_d = {}, []
        for rel in live_rels:
            total += 1
            keep = True
            per_col = (stats or {}).get(rel, {})
            for col, op, value in enc:
                rng = per_col.get(col)
                if rng is not None and not _range_may_match(rng[0], rng[1], op, value):
                    keep = False
                    break
            if keep:
                for col, values in eq_d:
                    b = blooms.get(rel, {}).get(col)
                    if b is None:
                        # bloom was computed for this commit and the file
                        # has NO non-null value of col: provable miss
                        keep = False
                        break
                    hit = False
                    for value in values:
                        ck = (col, str(value), b["bits"])
                        pos = bloom_pos_cache.get(ck)
                        if pos is None:
                            pos = _bloom_positions_py(value, b["bits"])
                            bloom_pos_cache[ck] = pos
                        if _bloom_may_contain(b, pos):
                            hit = True
                            break
                    if not hit:
                        keep = False
                        break
            if keep:
                kept += 1
                files.append(str(Path(d) / rel))
    return {
        "files": files,
        "dirs": plain_dirs,
        "total_files": total,
        "kept_files": kept,
        "skipped_files": total - kept,
        "skip_fraction": (total - kept) / total if total else 0.0,
    }


def read_where(
    spark: SparkSession,
    root: str | Path,
    predicates: list[tuple],
    version: int | None = None,
    timestamp=None,
) -> DataFrame:
    """Snapshot read with zone-map file skipping: files whose recorded
    [min, max] ranges provably miss the predicate conjunction never
    enter the scan, and the predicates are ALSO applied as a real
    filter (pruning is file-granular; surviving files still hold
    non-matching rows). Result rows are identical to
    ``read_version(...).filter(...)`` — pruning only changes the plan.

    Partitioned tables read per surviving commit directory with
    ``basePath`` set so hive partition columns survive the explicit
    file list; unpartitioned tables stay one multi-path scan node.
    """
    from pyspark.sql import functions as F

    root = Path(root)
    version = _resolve_as_of(root, version, timestamp)
    # one log read for both the prune and the schema (lock-free reader
    # TOCTOU discipline: never resolve the log twice)
    version, live_data_dirs, live_entries = _resolve(
        root, _entries_for(root, version), version
    )
    mapping = _column_mapping(live_entries)
    phys_preds = _preds_to_physical(predicates, mapping)
    report = zone_map_prune(root, phys_preds, version)
    schema_cols = live_entries[-1]["columns"]
    _per_dir = {
        e["dir"]: bool(e.get("partition_by"))
        for e in live_entries if e.get("dir")
    }
    partitioned = any(
        _per_dir.get(Path(d).name, False) for d in live_data_dirs
    )
    widened = any("added_columns" in e for e in live_entries)

    def _cond(df):
        return _predicate_cond(df, phys_preds)

    dropped_paths = {c for c in _dropped_columns(live_entries) if "." in c}

    def _with_schema(df):
        # a schema-widened column can be absent from EVERY surviving
        # file (all post-widening files pruned, or the predicate names a
        # column older commits lack entirely) — surface it as NULL, which
        # is exactly what read_version would return for those rows, so
        # null-rejecting predicates on it correctly drop them
        for c in schema_cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None))
        df = df.filter(_cond(df))
        df = _apply_nested_drops(df, dropped_paths)
        return _to_logical(df.select(*schema_cols), mapping)

    paths = report["dirs"] + report["files"]
    if not paths:
        snap = read_version(spark, root, version)  # already logical
        return snap.filter(
            _predicate_cond(snap, predicates)
        ).limit(0)
    dvf = _dv_frame(spark, root, live_entries)
    if not partitioned:
        reader = spark.read
        # mixed-width footers after type widening: explicit declared
        # schema (see read_version) instead of footer inference
        ddl = (
            _read_schema_ddl(live_entries, schema_cols)
            if _types_vary(live_entries) else None
        )
        if ddl:
            reader = reader.schema(ddl)
        elif widened:
            reader = reader.option("mergeSchema", "true")
        return _with_schema(_dv_filter(reader.parquet(*paths), dvf))
    # partitioned: group surviving files by commit dir so basePath can
    # recover the hive partition columns per scan
    by_base: dict[str, list[str]] = {d: [d] for d in report["dirs"]}
    for f in report["files"]:
        base = next(d for d in live_data_dirs if f.startswith(d + os.sep))
        by_base.setdefault(base, []).append(f)
    df = None
    for base, plist in by_base.items():
        part = _dv_filter(
            spark.read.option("basePath", base).parquet(*plist), dvf
        )
        df = part if df is None else df.unionByName(part, allowMissingColumns=True)
    return _with_schema(df)


def changes_between(
    spark: SparkSession,
    root: str | Path,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between two versions: each output row is a
    distinct row whose MULTIPLICITY differs between the snapshots,
    tagged ``_change`` = 'insert'/'delete' with ``_n`` = how many copies
    appeared/vanished (tables are multisets — appends can duplicate a
    row, and a set-based anti-join would miss the second copy).  An
    UPDATE appears as its delete+insert pair.  The diff compares full
    rows over the columns both schemas share (a key-only join would
    miss value changes): per-side row counts, one full-outer join on
    the row, emit where the counts differ.  This is exactly the signed
    changelog ``operators/matview.refresh_mv_parquet`` consumes — map
    ``_change`` to ±1 and weight by ``_n``.  NULL caveat: join equality
    treats NULL as unequal, so rows with NULL in a shared column always
    surface as a delete+insert pair.
    """
    from pyspark.sql import functions as F

    root = Path(root)
    old = read_version(spark, root, from_version)
    new = read_version(spark, root, to_version)
    mo = _column_mapping(
        _resolve(root, _entries_for(root, from_version), from_version)[2]
    )
    mn = _column_mapping(
        _resolve(root, _entries_for(root, to_version), to_version)[2]
    )
    if mo != mn:
        # a rename landed between the versions: both sides share the
        # frozen PHYSICAL names — align the old side to the new side's
        # logical namespace so the diff compares column-for-column
        inv_n = {p: l for l, p in mn.items()}
        ren = {}
        for l_old in old.columns:
            p = mo.get(l_old, l_old)
            l_new = inv_n.get(p, p)
            if l_new != l_old:
                ren[l_old] = l_new
        old = old.withColumnsRenamed(ren)
    shared = [c for c in old.columns if c in set(new.columns)]
    oldc = old.groupBy(*shared).agg(F.count(F.lit(1)).alias("_cnt_old"))
    newc = new.groupBy(*shared).agg(F.count(F.lit(1)).alias("_cnt_new"))
    delta = (
        oldc.join(newc, shared, "full_outer")
        .withColumn(
            "_delta",
            F.coalesce("_cnt_new", F.lit(0)) - F.coalesce("_cnt_old", F.lit(0)),
        )
        .filter(F.col("_delta") != 0)
    )
    return delta.select(
        *shared,
        F.when(F.col("_delta") > 0, F.lit("insert"))
        .otherwise(F.lit("delete"))
        .alias("_change"),
        F.abs("_delta").alias("_n"),
    )


def read_change_feed(
    spark: SparkSession,
    root: str | Path,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed from the AT-REST change data (Delta CDF
    shape), for commits in ``(from_version, to_version]``: appends read
    their own commit directory as inserts; deletes/upserts read the
    change-data file their commit wrote (requires ``change_feed=True``
    enabled at or before that commit); dataChange=false commits
    (compaction) contribute nothing. Output columns are the table's
    as-of-``to_version`` schema plus ``_change`` ('insert'/'delete')
    and ``_commit_version``.

    Contrast :func:`changes_between`, which DIFFS two snapshots —
    O(both snapshots) but works on any table; this is O(changed rows)
    and serves incremental consumers. An UPDATE appears as its
    delete+insert pair in both. Raises on a rewriting commit without
    change data (overwrite, or a delete/upsert from before the feed
    was enabled) — restart from a later ``from_version``.
    """
    from pyspark.sql import functions as F

    root = Path(root)
    entries = _committed_entries(root)
    version, _, live_entries = _resolve(root, entries, to_version)
    schema_cols = live_entries[-1]["columns"]
    parts: list[DataFrame] = []
    for e in live_entries:
        v = e["version"]
        if not (from_version < v <= version):
            continue
        if e.get("data_change") is False:
            continue  # layout-only: no row changed
        if e["action"] in (
            "set_constraints", "rename_column", "drop_column",
            "set_partitioning",
        ):
            continue  # property commits: no rows
        if e["action"] == "append":
            if not e.get("dir"):
                continue
            df = spark.read.parquet(str(root / _DATA / e["dir"]))
            df = df.withColumn("_change", F.lit("insert"))
        elif e.get("change_data"):
            # the cdf dir is named by VERSION — it exists even when a
            # zero-survivor delete commits dir=None
            df = spark.read.parquet(str(root / _CDF / f"c{v:08d}"))
        else:
            raise ValueError(
                f"version {v} ({e['action']}) has no change data — "
                "the change feed was not enabled when it committed, or "
                "the action rewrites history (overwrite/optimize). "
                "Read from a later from_version."
            )
        parts.append(df.withColumn("_commit_version", F.lit(v)))
    mapping = _column_mapping(live_entries)
    if not parts:
        base = read_version(spark, root, version).limit(0)  # logical
        return base.select(
            *_names_to_logical(schema_cols, mapping),
            F.lit("").alias("_change"),
            F.lit(0).cast("long").alias("_commit_version"),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    for c in schema_cols:  # pre-widening change files backfill NULL
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None))
    out = _apply_nested_drops(
        out, {c for c in _dropped_columns(live_entries) if "." in c}
    )
    return _to_logical(
        out.select(
            *schema_cols, "_change", F.col("_commit_version").cast("long")
        ),
        mapping,
    )


def describe_detail(
    root: str | Path, version: int | None = None, timestamp=None
) -> dict:
    """One metadata-only call answering "what IS this table right now"
    (the Delta DESCRIBE DETAIL shape): live files/bytes after masks,
    deletion-vector exposure, declarations, constraints, checkpoint
    state, and history length — zero data bytes read, zero Spark jobs.
    The operational questions this serves at 100 TB: is compaction due
    (num_files vs bytes), are deletes piling up un-purged (dv_rows),
    is the log checkpointed (checkpoint_version vs version)."""
    root = Path(root)
    version = _resolve_as_of(root, version, timestamp)
    entries = _entries_for(root, version)
    version, dirs, live_entries = _resolve(root, entries, version)
    last = live_entries[-1]
    masks = _live_masks(live_entries)
    n_files = 0
    n_bytes = 0
    n_masked = 0
    for d in dirs:
        masked = masks.get(Path(d).name, ())
        for f in Path(d).rglob("*.parquet"):
            if str(f.relative_to(d)) in masked:
                n_masked += 1
            else:
                n_files += 1
                n_bytes += f.stat().st_size
    dv_refs = _live_dv_refs(live_entries)
    ck = _latest_checkpoint(root)
    cons = _active_constraints(live_entries)
    # total commit count (archived + raw JSON tail), plus the raw file
    # count so operators can see how well archive_log is bounding inodes
    raw_json = len(list((root / _VLOG).glob("v*.json")))
    return {
        "version": version,
        "num_commits": entries[-1]["version"] + 1,
        "num_raw_json_entries": raw_json,
        "num_live_dirs": len(dirs),
        "num_files": n_files,
        "size_bytes": n_bytes,
        "num_masked_files": n_masked,
        "dv_count": len(dv_refs),
        "dv_rows": sum(n for _, n in dv_refs),
        "columns": _names_to_logical(last["columns"], _column_mapping(live_entries)),
        "column_mapping": _column_mapping(live_entries),
        "dropped_columns": sorted(_dropped_columns(live_entries)),
        "partition_by": last.get("partition_by") or [],
        "stats_columns": last.get("stats_columns") or [],
        "bloom_columns": last.get("bloom_columns") or [],
        "change_feed": _cf_active(live_entries),
        "constraints": cons,
        "checkpoint_version": _ckpt_version(ck) if ck else None,
        # idempotent-writer watermarks (r12, the streaming sink's
        # exactly-once state): highest committed batch per app id —
        # "where did each ingest pipeline get to"
        "txns": _latest_txns(live_entries),
    }


def files(root: str | Path, version: int | None = None,
          timestamp=None) -> list[dict]:
    """Live-file inventory at a snapshot (the Iceberg ``.files`` /
    Delta ``DESCRIBE DETAIL``-per-file shape): one dict per live data
    file with its commit, size, layout, recorded zone-map stats and
    deletion-vector exposure — zero data bytes read, zero Spark jobs.
    The operational questions this serves at 100 TB: which files does
    a predicate touch, where do the small files live (compaction
    targets), which files carry DV'd rows (purge targets)."""
    root = Path(root)
    version = _resolve_as_of(root, version, timestamp)
    version, dirs, live_entries = _resolve(
        root, _entries_for(root, version), version
    )
    masks = _live_masks(live_entries)
    by_dir = {e["dir"]: e for e in live_entries if e.get("dir")}
    # DV rows per encoded file key, from the recorded per-sidecar rows
    dv_by_file: dict[str, int] = {}
    refs = _live_dv_refs(live_entries)
    if refs:
        from urllib.parse import unquote

        import pyarrow.parquet as pq

        for name, _ in refs:
            d = root / _DV / name
            if not d.is_dir():
                continue
            for f in sorted(d.rglob("*.parquet")):
                t = pq.read_table(str(f), columns=["_dv_key"])
                for k in t["_dv_key"].to_pylist():
                    kk = unquote(k)
                    dv_by_file[kk] = dv_by_file.get(kk, 0) + 1
    out: list[dict] = []
    for d in dirs:
        dname = Path(d).name
        e = by_dir[dname]
        masked = masks.get(dname, ())
        stats = e.get("stats") or {}
        for f in sorted(Path(d).rglob("*.parquet")):
            rel = str(f.relative_to(d))
            if rel in masked:
                continue
            out.append(
                {
                    "file": f"{dname}/{rel}",
                    "commit_version": e["version"],
                    "bytes": f.stat().st_size,
                    "partition_by": e.get("partition_by") or [],
                    "stats": stats.get(rel),
                    "dv_rows": dv_by_file.get(f"{dname}/{rel}", 0),
                }
            )
    return out


def register_view(
    spark: SparkSession,
    root: str | Path,
    name: str,
    version: int | None = None,
    timestamp=None,
) -> None:
    """Expose a snapshot to the SQL surface (``de sql`` / spark.sql) as a
    temp view — queries against ``name`` are pinned to the version
    resolved NOW, reproducible regardless of later commits."""
    read_version(spark, root, version, timestamp).createOrReplaceTempView(name)


def upsert(
    spark: SparkSession,
    root: str | Path,
    updates: DataFrame,
    key_cols: list[str],
    num_files: int | None = None,
) -> dict:
    """Copy-on-write MERGE as a FULL rewrite: ``updates`` rows replace
    live rows sharing their key; new keys insert. One anti-join + one
    overwrite commit; every prior version still time-travels. Prefer
    :func:`upsert_pruned`, which rewrites only the files whose zone
    maps can contain an update key — this full form remains the
    reference semantics (the two are pinned row-equal by test) and the
    fallback for tables committed without ``stats_columns``.
    """
    current = read_version(spark, root)
    kept = current.join(updates.select(*key_cols), key_cols, "left_anti")
    return overwrite(root, kept.unionByName(updates), num_files=num_files)


def _observed_counts(df: DataFrame, **counts):
    """Piggyback row counts on the job that already streams ``df``:
    returns ``(df_with_metrics, resolvers)``, one resolver per keyword
    of ``counts``, reading its count once the FIRST action over the
    returned frame completes. Each keyword names a boolean Column (count
    the rows it holds for) or None (count every row); all ride ONE
    Observation. The DML verbs use it so the rewrite write is the ONLY
    pass over candidate data — replacing the separate ``cand.count()``
    scan plus the read-back ``spark.read.parquet(written_dir).count()``,
    which at 100 TB are full extra reads of every touched file (guide
    §1.2). Observed metrics aggregate successful tasks only, so task
    retries cannot double-count.

    SESSION CONSTRAINT: attach only to frames belonging to the SAME
    SparkSession that will execute the write — the observation resolves
    via that session's listener bus, so one registered on a session
    that never runs the action parks the resolver forever. Concretely:
    never observe a caller-provided frame (a ``foreachBatch`` microbatch
    frame belongs to the STREAMING-CLONE session while the verb may
    execute on the caller's); counts of caller frames are derived
    arithmetically from observed same-session frames instead."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    metrics = [
        F.count(F.lit(1) if c is None else F.when(c, F.lit(1))).alias(name)
        for name, c in counts.items()
    ]
    got: dict = {}

    def resolve(name):
        if not got:  # one driver round trip for every count
            got.update(obs.get)
        return int(got[name])

    return (
        df.observe(obs, *metrics),
        {name: functools.partial(resolve, name) for name in counts},
    )


# --- copy-on-write rewrite core ---------------------------------------------
#
# The five copy-on-write DML verbs (upsert_pruned, delete_where_pruned,
# delete_where_keys, replace_where, update_where_pruned) share ONE commit
# skeleton, _rewrite_commit. Each verb keeps its input validation, its
# candidate rule (which live files may hold a target row), its row
# transform (the rows of the new data dir, the change-data rows, and the
# counts to observe) and its report dict. PROTOCOL.md, "Copy-on-write
# rewrite", lists what the core writes and in which order.


class _Snapshot(NamedTuple):
    """The table as one log snapshot resolves it, under the writer lock."""

    root: Path
    version: int
    dirs: list  # live data dirs, absolute
    entries: list  # log entries up to ``version``, oldest first

    @property
    def columns(self) -> list:
        return self.entries[-1]["columns"]

    @property
    def mapping(self) -> dict:
        return _column_mapping(self.entries)

    def norm(self, df: DataFrame) -> DataFrame:
        """``df`` in table column order; columns it lacks (a file that
        predates a widening) are backfilled as TYPED nulls — these rows
        get WRITTEN, and an untyped (void) backfill crashes the write."""
        for c in self.columns:
            if c not in df.columns:
                df = df.withColumn(c, _typed_null(c, self.entries))
        return df.select(*self.columns)


class _Rows(NamedTuple):
    """A verb's row transform, applied to its candidate rows."""

    out: DataFrame  # the rows of the new data dir, in table column order
    changes: Callable  # () -> the change-data rows, with ``_change``;
    #                    built only when the feed is active
    counts: dict  # name -> resolver read after the write; "out": rows of out


class _Rewrite(NamedTuple):
    """A verb's candidate rule, and what to do with the candidates."""

    files: list  # live parquet files to rewrite; the commit masks them
    rows: Callable  # candidate frame (None when no file) -> _Rows
    entry: dict  # the verb's own log fields (action, predicates, ...)
    report: Callable  # (new version, counts) -> report dict
    num_files: int | None = None  # None: one file per 128 MiB read


def _matches(df: DataFrame, predicates):
    """The ``(column, op, value)`` conjunction as a never-NULL flag: a
    NULL in a predicate column is no match (plain ``~cond`` would drop
    such rows from the survivors)."""
    from pyspark.sql import functions as F

    return F.coalesce(_predicate_cond(df, predicates), F.lit(False))


def _predicate_split(predicates):
    """(keep, drop) candidate filters of a predicate-scoped rewrite."""
    return (
        lambda c: c.filter(~_matches(c, predicates)),
        lambda c: c.filter(_matches(c, predicates)),
    )


def _join_split(keys: DataFrame, on):
    """(keep, drop) candidate filters of a key-set rewrite: NULL keys
    never match (join null semantics), so NULL-key rows are kept."""
    return (
        lambda c: c.join(keys, on, "left_anti"),
        lambda c: c.join(keys, on, "left_semi"),
    )


def _kept_rows(cand, keep, drop, new=None) -> _Rows:
    """The row transform of the verbs that keep part of the candidate
    rows and may add ``new`` ones (deletes add none; upsert and
    replace_where add the caller's rows): the new dir holds kept ∪ new,
    the change data the dropped rows as deletes and ``new`` as inserts.
    Counts ``cand`` and ``kept`` are observed on frames the core read,
    and ``out`` on the written frame, whose session runs the write;
    ``new`` may be the caller's frame, so it is observed only as that
    frame — its size is ``out`` less ``kept``."""
    from pyspark.sql import functions as F

    def changes():
        deletes = None if cand is None else drop(cand).withColumn(
            "_change", F.lit("delete")
        )
        if new is None:
            return deletes
        inserts = new.withColumn("_change", F.lit("insert"))
        return inserts if deletes is None else deletes.unionByName(inserts)

    if cand is None:  # no candidate file: the new rows alone
        out, n = _observed_counts(new, out=None)
        zero = lambda: 0  # noqa: E731
        return _Rows(out, changes, {**n, "cand": zero, "kept": zero})
    cand, n = _observed_counts(cand, cand=None)
    kept, n_kept = _observed_counts(keep(cand), kept=None)
    n.update(n_kept, out=n_kept["kept"])
    if new is None:
        return _Rows(kept, changes, n)
    out, n_out = _observed_counts(kept.unionByName(new), out=None)
    return _Rows(out, changes, {**n, **n_out})


def _zone_map_candidates(t: _Snapshot, predicates) -> tuple[list[str], int]:
    """(candidate files, skipped file count) of a predicate-scoped
    rewrite: the files whose zone maps and blooms may hold a match,
    plus every file of a commit written without stats. ``predicates``
    are in LOGICAL names, the language of :func:`zone_map_prune`."""
    report = zone_map_prune(t.root, predicates, t.version)  # mask-aware
    files = list(report["files"]) + [
        str(f) for d in report["dirs"] for f in sorted(Path(d).rglob("*.parquet"))
    ]
    return files, report["skipped_files"]


def _rewrite_commit(
    spark: SparkSession,
    root: str | Path,
    txn: tuple[str, int] | None,
    idle: Callable,
    select: Callable,
    extra_entry: dict | None = None,
) -> dict:
    """The copy-on-write commit of the DML verbs, all under the writer
    lock:

    1. Snapshot and resolve the log. A replayed ``txn`` (a batch at or
       below the app's watermark: the streaming CDC-apply contract)
       returns ``idle(version)`` marked ``skipped_duplicate_txn``.
    2. ``select(snapshot)``, the verb's validation and candidate rule,
       returns a :class:`_Rewrite` — or a report dict, returned with
       nothing written (no candidate file: no data dir, no log entry).
    3. Read the candidate files per commit dir (``basePath`` recovers
       hive partition columns; ``mergeSchema`` once the table widened)
       minus the live deletion vectors — a DV-deleted row must never
       resurrect into a rewrite — and backfill typed nulls.
    4. ``rewrite.rows(cand)``, the verb's row transform.
    5. Write ``out`` into a fresh data dir: one file per 128 MiB of
       candidate bytes unless ``num_files`` is given (0 keeps the rows'
       own partitioning). The counts are Observations resolved by this
       write, so the candidates are read once, with no count job.
    6. ``rewrite.report(version, counts)``. A report with ``committed``
       false abandons the dir: an update whose files matched by range
       but no row did writes its candidates once and throws them away —
       the rare case pays one wasted write so the common case scans
       once. Zero output rows commit an entry with no data dir.
    7. The change-data file when the feed is active, then the stats and
       bloom payloads of the new dir, the ``removed`` mask over every
       rewritten file, ``extra_entry`` and the ``txn`` stamp, and last
       the commit link (:func:`_commit`): a crash before it leaves only
       orphans for vacuum.

    Transforms observe only frames of the session that runs the write:
    the candidate frames (read here, in ``spark``) and ``out`` itself,
    never a frame the caller passed in (see :func:`_observed_counts`)."""
    root = Path(root)
    (root / _VLOG).mkdir(parents=True, exist_ok=True)
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _snapshot_entries(root)
        t = _Snapshot(root, *_resolve(root, entries, None))
        if txn is not None and int(txn[1]) <= _latest_txns(entries).get(
            str(txn[0]), -1
        ):
            # the whole op holds the lock, so one check suffices
            return {**idle(t.version), "skipped_duplicate_txn": True}
        rw = select(t)
        if not isinstance(rw, _Rewrite):
            return rw
        by_base: dict[str, list[str]] = {}
        for f in rw.files:
            base = next(d for d in t.dirs if f.startswith(d + os.sep))
            by_base.setdefault(base, []).append(f)
        cand = None
        if by_base:
            dvf = _dv_frame(spark, root, t.entries)
            widened = any("added_columns" in e for e in t.entries)
            for base, plist in by_base.items():
                reader = spark.read.option("basePath", base)
                if widened:
                    reader = reader.option("mergeSchema", "true")
                part = t.norm(_dv_filter(reader.parquet(*plist), dvf))
                cand = part if cand is None else cand.unionByName(part)
        rows = rw.rows(cand)
        num_files = rw.num_files
        if num_files is None:
            cand_bytes = sum(Path(f).stat().st_size for f in rw.files)
            num_files = max(1, -(-cand_bytes // (128 << 20)))
        version = t.version + 1
        dir_name = f"c{version:08d}"
        data_dir = root / _DATA / dir_name
        last = t.entries[-1]
        partition_by = last.get("partition_by") or []
        out = rows.out
        writer = (out.coalesce(int(num_files)) if num_files else out).write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.mode("overwrite").parquet(str(data_dir))
        n = {k: resolve() for k, resolve in rows.counts.items()}
        report = rw.report(version, n)
        has_rows = n["out"] > 0
        if not (report["committed"] and has_rows):
            shutil.rmtree(data_dir, ignore_errors=True)
        if not report["committed"]:
            return report
        entry = {
            **rw.entry,
            "version": version,
            "dir": dir_name if has_rows else None,
            "columns": t.columns,
            "partition_by": partition_by,
            "removed": {
                Path(base).name: sorted(
                    str(Path(f).relative_to(base)) for f in plist
                )
                for base, plist in by_base.items()
            },
            "ts": time.time(),
        }
        if _cf_active(t.entries):
            changes = rows.changes()
            if num_files:
                changes = changes.coalesce(int(num_files))
            changes.write.mode("overwrite").parquet(str(root / _CDF / dir_name))
            entry["change_data"] = True
        # the DECLARATIONS always ride the entry (entries[-1] is the
        # inheritance source: a dir-less commit must not drop zone maps
        # or blooms for every later commit); payloads only with a dir
        stats_columns = last.get("stats_columns") or []
        if stats_columns:
            entry["stats_columns"] = stats_columns
            if has_rows:
                entry["stats_types"] = {
                    c: _dtype_of_path(rows.out, c) for c in stats_columns
                }
                entry["stats"] = _collect_file_stats(data_dir, stats_columns)
        bloom_columns = last.get("bloom_columns") or []
        if bloom_columns:
            bloom_bits = last.get("bloom_bits") or 65_536
            entry["bloom_columns"] = bloom_columns
            entry["bloom_bits"] = bloom_bits
            if has_rows:
                entry["bloom_types"] = {
                    c: _dtype_of_path(rows.out, c) for c in bloom_columns
                }
                entry["blooms_file"] = _write_bloom_sidecar(
                    root, dir_name, _collect_file_blooms(
                        spark, data_dir, bloom_columns, bloom_bits
                    ),
                )
        if extra_entry:
            entry.update(extra_entry)
        if txn is not None:
            entry["txn"] = {"app": str(txn[0]), "batch": int(txn[1])}
        _commit(root, entry)
    return report


def upsert_pruned(
    spark: SparkSession,
    root: str | Path,
    updates: DataFrame,
    key_cols: list[str],
    num_files: int | None = None,
    max_distinct_keys: int = 1_000_000,
    extra_entry: dict | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Zone-map-bounded MERGE (the Delta MERGE shape): ``updates`` rows
    replace live rows sharing their key, new keys insert, and ONLY the
    files whose recorded [min, max] on a key column can contain SOME
    update key are rewritten — every provably-clean file is carried
    forward by reference, byte-identical on disk.

    The pruning test is per-file, per-key-column against the SET of
    distinct update key values (binary search of the sorted values
    against the file's range), not against the span [min_key, max_key]:
    a delta of scattered keys touches exactly the files that hold them,
    while a span test would rewrite everything between the smallest and
    largest key. Above ``max_distinct_keys`` distinct keys the test
    degrades to the per-column [min, max] range (still correct, just
    coarser); files lacking stats for every key column are always
    rewritten-candidates, so pruning can only skip work, never rows.

    The commit is an ``upsert`` log entry: a fresh directory holding
    (survivors of the rewritten files) ∪ (all update rows), plus a
    ``removed`` mask over the rewritten originals — the same
    dir+mask shape as ``delete``, so readers, time travel, the change
    feed, and vacuum need no new cases. Update rows are taken as-is
    (multiset semantics): callers wanting MERGE semantics supply
    key-unique updates. Rows whose key is NULL never match (equality is
    null-rejecting): NULL-key table rows always survive, NULL-key
    update rows are pure inserts. ``updates`` must carry every table
    column — an upsert is a whole-row replacement.

    At 100 TB: the decision reads zero data bytes (driver-side
    arithmetic over the commit log), the rewrite is O(files the keys
    actually hit) — with clustered/z-ordered data a fraction of a
    percent of the table — and the update keys are collected driver-
    side only up to ``max_distinct_keys`` (8 MB/10⁶ long keys).
    """
    import bisect

    from pyspark.sql import functions as F

    if not key_cols:
        raise ValueError("upsert_pruned needs at least one key column")

    def idle(version):
        return {
            "version": version, "rewritten_files": 0, "carried_files": 0,
            "upsert_rows": 0, "replaced_rows": 0, "committed": False,
        }

    def select(t):
        ups, keys = updates, list(key_cols)
        mapping = t.mapping
        if mapping:  # callers speak logical; storage speaks physical
            ups = ups.withColumnsRenamed(dict(mapping))
            keys = _names_to_physical(keys, mapping)
        for k in keys:
            if k not in t.columns:
                raise ValueError(f"key column {k!r} not in table schema")
        missing = [c for c in t.columns if c not in ups.columns]
        if missing:
            raise ValueError(
                f"updates missing table columns {missing} — an upsert "
                "replaces whole rows"
            )

        # distinct update keys, collected driver-side up to the cap;
        # beyond it fall back to per-column [min, max] ranges. The keys
        # are checkpointed so the write's join side reuses this
        # aggregate in the JVM: a round trip through Python rows would
        # re-convert every key (a local timestamp in a repeated DST hour
        # loses its fold) and pickle up to max_distinct_keys rows on the
        # driver
        kdf = ups.select(*keys).distinct().localCheckpoint(eager=False)
        key_rows = kdf.limit(max_distinct_keys + 1).collect()
        if not key_rows:
            return idle(t.version)
        exact = len(key_rows) <= max_distinct_keys
        if exact:
            key_vals = {
                c: sorted({r[c] for r in key_rows if r[c] is not None})
                for c in keys
            }
        else:
            bounds = ups.agg(
                *[f for c in keys
                  for f in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))]
            ).head()
            key_vals = {
                c: [bounds[f"lo_{c}"], bounds[f"hi_{c}"]]
                for c in keys
                if bounds[f"lo_{c}"] is not None
            }

        # candidate files: a file is carried iff SOME key column's
        # recorded range provably contains NO update value of that
        # column (a matching row must equal the update key on EVERY
        # column, so one provably-clean column clears the file)
        by_dir = {e["dir"]: e for e in t.entries if e.get("dir")}
        masks = _live_masks(t.entries)
        enc_cache: dict[tuple, list] = {}

        def _enc_vals(col: str, kind: str) -> list:
            ck = (col, kind)
            if ck not in enc_cache:
                enc_cache[ck] = [
                    _encode_pred_value(v, kind) for v in key_vals.get(col, [])
                ]
            return enc_cache[ck]

        def _any_key_in(vals: list, lo, hi) -> bool:
            if not vals:  # every update NULL on this column: no match
                return False
            if not exact:  # [min, max] fallback: range intersection
                return vals[0] <= hi and vals[1] >= lo
            i = bisect.bisect_left(vals, lo)
            return i < len(vals) and vals[i] <= hi

        # bloom probing: with the distinct keys in hand (exact mode,
        # bounded count) a per-file Bloom bitmap answers "could ANY key
        # be in this file?" for STRING keys too — the case zone maps
        # refuse. Probe cost is keys x files x k bit reads, so it is
        # capped; above the cap string keys simply don't prune (range
        # stats still apply to numeric ones)
        bloom_probe = exact and len(key_rows) <= 10_000
        bpos_cache: dict[tuple, list | None] = {}

        def _key_positions(col: str, bits: int, dtype) -> list | None:
            """Bit positions per update key, normalized to the entry's
            recorded column dtype; None when SOME key can't be brought
            into the bloom's hash space exactly — that key may then be
            anywhere, so the column probe can't prune at all."""
            ck = (col, bits, dtype)
            if ck not in bpos_cache:
                pos: list | None = []
                for v in key_vals.get(col, []):
                    nv = _bloom_probe_value(v, dtype)
                    if nv is None:
                        pos = None
                        break
                    pos.append(_bloom_positions_py(nv, bits))
                bpos_cache[ck] = pos
            return bpos_cache[ck]

        cand_files: list[str] = []
        carried = 0
        for d in t.dirs:
            # .get: a restore can resurrect a dir a checkpoint fold had
            # dropped as dead — stats-less = rewrite-candidate (safe)
            entry = by_dir.get(Path(d).name) or {}
            masked = masks.get(Path(d).name, set())
            stats = entry.get("stats")
            bloom_cols = set(entry.get("bloom_columns") or [])
            btypes = entry.get("bloom_types") or {}
            use_blooms = bloom_probe and bool(bloom_cols & set(keys))
            if stats is None and not use_blooms:
                # no pruning metadata: every surviving file may match
                if masked:
                    cand_files.extend(_surviving_files([d], masks))
                else:
                    cand_files.extend(
                        str(f) for f in sorted(Path(d).rglob("*.parquet"))
                    )
                continue
            types = entry.get("stats_types") or {
                c: "numeric" for c in entry.get("stats_columns", [])
            }
            if stats is not None:
                universe = list(stats.keys())
            else:
                universe = [
                    str(f.relative_to(d))
                    for f in sorted(Path(d).rglob("*.parquet"))
                ]
            live_rels = [rel for rel in universe if rel not in masked]
            blooms = None
            if use_blooms and live_rels:
                # lazy, per dir with survivors only (see zone_map_prune)
                blooms = _entry_blooms(t.root, entry)
            probe_blooms = use_blooms and blooms is not None
            for rel in live_rels:
                per_col = (stats or {}).get(rel, {})
                may = True
                for c in keys:
                    rng = per_col.get(c) if c in types else None
                    if rng is not None and not _any_key_in(
                        _enc_vals(c, types[c]), rng[0], rng[1]
                    ):
                        may = False
                        break
                    if probe_blooms and c in bloom_cols:
                        b = blooms.get(rel, {}).get(c)
                        if b is None:  # no non-null value of c: no match
                            may = False
                            break
                        kpos = _key_positions(c, b["bits"], btypes.get(c))
                        if kpos is not None and not any(
                            _bloom_may_contain(b, pos) for pos in kpos
                        ):
                            may = False
                            break
                if may:
                    cand_files.append(str(Path(d) / rel))
                else:
                    carried += 1

        updates_n = t.norm(ups)
        _enforce_constraints(updates_n, _active_constraints(t.entries))
        keys_side = F.broadcast(kdf) if exact else kdf
        return _Rewrite(
            cand_files,
            lambda cand: _kept_rows(
                cand, *_join_split(keys_side, keys), new=updates_n
            ),
            {"action": "upsert", "key_cols": keys},
            lambda v, n: {
                "version": v,
                "rewritten_files": len(cand_files),
                "carried_files": carried,
                "upsert_rows": n["out"] - n["kept"],
                "replaced_rows": n["cand"] - n["kept"],
                "committed": True,
            },
            # pure insert: keep the updates' own partitioning — a large
            # batch must not funnel through one task
            num_files if cand_files or num_files is not None else 0,
        )

    return _rewrite_commit(spark, root, txn, idle, select, extra_entry)


def delete_where(
    spark: SparkSession,
    root: str | Path,
    predicate,
    num_files: int | None = None,
) -> dict:
    """Copy-on-write DELETE for an ARBITRARY Column predicate: commit
    the live set minus matching rows — a full rewrite. When the
    predicate is expressible as (column, op, value) conjunctions,
    prefer :func:`delete_where_pruned`, which rewrites only the files
    whose zone maps intersect the predicate. Deleted rows remain
    visible to every earlier version (time travel / audit) until
    vacuum retires those versions."""
    current = read_version(spark, root)
    return overwrite(root, current.filter(~predicate), num_files=num_files)


def delete_where_pruned(
    spark: SparkSession,
    root: str | Path,
    predicates: list[tuple],
    num_files: int | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Zone-map-bounded DELETE: rewrite ONLY the files whose recorded
    [min, max] ranges can intersect the ``(column, op, value)``
    conjunction (the same predicate language as :func:`read_where`);
    every provably-clean file stays untouched on disk and is carried
    forward by reference. The commit is a new ``delete`` log entry
    holding the surviving rows of the rewritten files in a fresh
    directory plus a ``removed`` mask over the prior directories —
    readers of this and later versions skip masked files, earlier
    versions still see them (time travel / audit), and ``vacuum``
    retires them with their versions.

    At 100 TB this is the Delta DELETE shape: the rewrite cost is
    O(files the predicate touches) — with clustered/z-ordered data and
    a selective predicate, a fraction of a percent of the table — and
    the decision reads zero data bytes. Rows where a predicate column
    is NULL never match (null-rejecting ops) and always survive.
    Returns {version, deleted_rows, rewritten_files, skipped_files,
    carried_files}; with nothing to touch, returns without committing.
    ``txn=(app_id, batch_id)`` makes the delete idempotent per app
    (the same watermark contract as :func:`append` — the streaming
    CDC-apply path stamps its delete phase with it).
    """
    if not predicates:
        raise ValueError(
            "delete_where_pruned needs at least one predicate "
            "(an unconditional delete is overwrite with an empty frame)"
        )

    def select(t):
        preds = _preds_to_physical(predicates, t.mapping)
        files, skipped = _zone_map_candidates(t, predicates)
        if not files:  # no file can hold a match: commit nothing
            return _delete_report(t.version, skipped)
        return _Rewrite(
            files,
            lambda cand: _kept_rows(cand, *_predicate_split(preds)),
            {"action": "delete", "predicates": [list(p) for p in preds]},
            lambda v, n: _delete_report(v, skipped, files, n),
            num_files,
        )

    return _rewrite_commit(spark, root, txn, _delete_report, select)


def _delete_report(
    version: int, skipped: int = 0, files: list = (), n: dict | None = None
) -> dict:
    """The report of the two copy-on-write deletes; without counts
    ``n``, the report of a call that commits nothing."""
    return {
        "version": version,
        "deleted_rows": n["cand"] - n["kept"] if n else 0,
        "rewritten_files": len(files),
        "carried_files": skipped if n else 0,
        "skipped_files": skipped,
        "committed": n is not None,
    }


def keys_prune_ranges(
    live_entries: list[dict], phys_key: str, live_data_dirs: list[str]
) -> tuple[list[tuple[str, object, object]], list[str]]:
    """Split the live files into (rangeable, unconditional) for a
    key-set delete: ``rangeable`` is one ``(abs_path, lo, hi)`` row per
    file whose commit recorded NUMERIC zone maps for ``phys_key``
    (plain-number comparison space — date/timestamp encodings and
    missing stats degrade that file to ``unconditional``, conservative:
    pruning can only skip work, never rows). O(live files) driver-side
    arithmetic over the already-parsed log — metadata, never data."""
    by_dir = {e["dir"]: e for e in live_entries if e.get("dir")}
    masks = _live_masks(live_entries)
    rangeable: list[tuple[str, object, object]] = []
    uncond: list[str] = []
    for d in live_data_dirs:
        entry = by_dir.get(Path(d).name) or {}
        masked = masks.get(Path(d).name, set())
        stats = entry.get("stats")
        types = entry.get("stats_types") or {
            c: "numeric" for c in entry.get("stats_columns", [])
        }
        numeric_ok = phys_key in types and types[phys_key] not in (
            "date", "timestamp_ntz"
        )
        if stats is None:
            uncond.extend(
                str(f)
                for f in sorted(Path(d).rglob("*.parquet"))
                if str(f.relative_to(d)) not in masked
            )
            continue
        for rel in stats:
            if rel in masked:
                continue
            rng = stats[rel].get(phys_key) if numeric_ok else None
            if rng is None or not all(
                isinstance(v, (int, float)) for v in rng
            ):
                uncond.append(str(Path(d) / rel))
            else:
                # double comparison space: rounding is monotone, so a
                # file whose true range holds the key can never be
                # excluded (boundaries only ever widen observationally)
                rangeable.append(
                    (str(Path(d) / rel), float(rng[0]), float(rng[1]))
                )
    return rangeable, uncond


def delete_where_keys(
    spark: SparkSession,
    root: str | Path,
    key_col: str,
    keys: DataFrame,
    num_files: int | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Zone-map-bounded DELETE of every row whose ``key_col`` value
    appears in the ``keys`` DataFrame — the executor-side twin of
    :func:`delete_where_pruned` for key sets too large to ship as an
    IN-list literal. The key set NEVER touches the driver:

    * **Pruning** joins the (deduplicated, null-stripped) keys against
      a metadata-sized per-file ``[min, max]`` frame built from the
      commit log (:func:`keys_prune_ranges` — one row per live file,
      the same numbers :func:`zone_map_prune` reads, broadcast to the
      key frame). Only the file NAMES of intersecting files come back
      to the driver — O(touched files), never a key.
    * **The rewrite** drops matching rows with a ``LEFT ANTI`` join of
      the candidate-file scan against the key frame — executor-side,
      AQE free to broadcast a small key set or shuffle a huge one.
      NULL keys never match (anti-join null semantics), matching
      :func:`delete_where_pruned`'s null-rejecting ops; NULL-key rows
      in the table always survive.

    ``keys`` must contain ``key_col`` (logical name) or be a single
    -column frame. Files whose recorded stats for the key are
    non-numeric (date/timestamp comparison space) or absent stay
    candidates — conservative, never wrong. At 100 TB this is the
    APPLY CHANGES delete shape: a change feed netting millions of
    deleted keys per batch stays distributed end to end — no
    ``max_delete_keys`` ceiling, no driver key materialization
    (pinned by ``tests/test_plans.py``). Same commit anatomy as
    :func:`delete_where_pruned` (``removed`` masks + survivor rewrite,
    CDF of exactly the deleted rows, txn watermark checked inside the
    writer-lock critical section)."""
    from pyspark.sql import functions as F

    if key_col in keys.columns:
        keys = keys.select(key_col)
    elif len(keys.columns) == 1:
        keys = keys.toDF(key_col)
    else:
        raise ValueError(
            f"keys frame {keys.columns} must contain {key_col!r} or be "
            "a single-column frame"
        )

    def select(t):
        mapping = t.mapping
        phys_key = _name_to_physical(key_col, mapping) if mapping else key_col
        if phys_key.split(".")[0] not in t.columns:
            raise ValueError(
                f"key column {key_col!r} is not in the table schema"
            )
        # one executor-materialized reduction feeds prune + anti-join +
        # CDF (recomputation of an arbitrary upstream frame could even
        # be nondeterministic between those consumers)
        kd = (
            keys.withColumnRenamed(key_col, "_k")
            .where(F.col("_k").isNotNull())
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_keys = kd.count()
        if not n_keys:
            return _delete_report(t.version)
        rangeable, files = keys_prune_ranges(t.entries, phys_key, t.dirs)
        total_files = len(rangeable) + len(files)
        if rangeable:
            ranges = spark.createDataFrame(
                rangeable, "_path string, _lo double, _hi double"
            )
            touched = (
                kd.join(
                    F.broadcast(ranges),
                    (F.col("_k") >= F.col("_lo"))
                    & (F.col("_k") <= F.col("_hi")),
                )
                .select("_path")
                .distinct()
                .collect()
            )
            files = files + [r["_path"] for r in touched]
        skipped = total_files - len(files)
        if not files:  # no file can hold a match: commit nothing
            return _delete_report(t.version, skipped)
        return _Rewrite(
            files,
            lambda cand: _kept_rows(
                cand, *_join_split(kd, F.col(phys_key) == F.col("_k"))
            ),
            {
                "action": "delete",
                "predicates": [[phys_key, "in_keys", int(n_keys)]],
            },
            lambda v, n: _delete_report(v, skipped, files, n),
            num_files,
        )

    return _rewrite_commit(spark, root, txn, _delete_report, select)


def replace_where(
    spark: SparkSession,
    root: str | Path,
    df: DataFrame,
    predicates: list[tuple],
    num_files: int | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Atomic predicate-scoped overwrite (the Delta ``replaceWhere``
    shape): ONE commit replaces every live row matching the
    ``(column, op, value)`` conjunction with the rows of ``df`` — the
    dynamic-partition-backfill verb (recompute yesterday's slice from
    scratch without touching the rest of the table, atomically:
    readers see either the old slice or the new one, never a mix or a
    gap).

    REFUSES when any row of ``df`` does NOT match the predicates (the
    Delta constraint — out-of-scope rows would silently corrupt data
    outside the replaced slice), when a predicate column is NULL in
    ``df`` (such a row can never match a null-rejecting predicate), and
    when a row of ``df`` violates an active CHECK / NOT NULL constraint.

    Commit anatomy is the upsert dir+mask shape (``action: upsert``
    with ``op: replace_where`` recorded): a fresh directory holding
    (survivors of the touched files) ∪ ``df``, plus a ``removed`` mask
    over the touched originals — readers, time travel, restore,
    vacuum, checkpoint folds and the streaming source (a rewriting
    commit: stops without ``ignoreChanges``) need no new cases. The
    change feed records the replaced rows as deletes and ``df`` as
    inserts, O(changed rows).

    At 100 TB: zone maps bound the rewrite to the files the predicate
    can touch (the decision reads zero data bytes); with the slice
    clustered — the natural state for date/partition-keyed backfills —
    that is exactly the slice's files and nothing else."""
    if not predicates:
        raise ValueError(
            "replace_where needs at least one predicate — an "
            "unconditional replacement is overwrite()"
        )

    def idle(version):
        return {
            "version": version, "replaced_rows": 0, "inserted_rows": 0,
            "rewritten_files": 0, "carried_files": 0, "committed": False,
        }

    def select(t):
        mapping = t.mapping
        preds = _preds_to_physical(predicates, mapping)
        new = df.withColumnsRenamed(dict(mapping)) if mapping else df
        missing = [c for c in t.columns if c not in new.columns]
        if missing:
            raise ValueError(
                f"replacement rows missing table columns {missing} — "
                "replace_where writes whole rows"
            )
        new = new.select(*t.columns)
        if new.filter(~_matches(new, preds)).limit(1).count():
            raise ValueError(
                f"replacement rows exist that do not match {preds} "
                "— replaceWhere may only write rows inside the replaced "
                "slice (rows with a NULL predicate column never match)"
            )
        _enforce_constraints(new, _active_constraints(t.entries))
        files, skipped = _zone_map_candidates(t, predicates)
        return _Rewrite(
            files,
            lambda cand: _kept_rows(cand, *_predicate_split(preds), new=new),
            {
                "action": "upsert",
                "op": "replace_where",
                "predicates": [list(p) for p in preds],
            },
            lambda v, n: {
                "version": v,
                "replaced_rows": n["cand"] - n["kept"],
                "inserted_rows": n["out"] - n["kept"],
                "rewritten_files": len(files),
                "carried_files": skipped,
                "committed": True,
            },
            num_files,
        )

    return _rewrite_commit(spark, root, txn, idle, select)


def _validate_set_values(set_values: dict) -> None:
    if not set_values:
        raise ValueError("UPDATE needs at least one SET column")
    for c in set_values:
        if "." in c:
            raise ValueError(
                f"SET target {c!r} is a nested path — updates reshape "
                "whole top-level columns (use upsert/overwrite for "
                "struct surgery)"
            )


def _checked_set_exprs(logical: DataFrame, set_values: dict) -> dict:
    """LOGICAL-name SET expressions as type-checked Columns: each raw
    expression must already BE the column's type — checked BEFORE
    Spark's implicit WHEN-branch coercion can hide a re-type behind a
    runtime cast ('oops' into a BIGINT column type-checks as bigint
    and then fails mid-write). A NARROWER expression (lit(0) is int,
    the column bigint) upcasts losslessly via an explicit cast so the
    stored type never moves."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    prior_dtypes = dict(logical.dtypes)
    vexprs = {
        lc: (v if isinstance(v, Column) else F.lit(v))
        for lc, v in set_values.items()
    }
    raw_types = dict(
        logical.select(
            *[e.alias(f"_c{i}") for i, e in enumerate(vexprs.values())]
        ).dtypes
    )
    mismatch = {}
    for i, lc in enumerate(vexprs):
        raw, want = raw_types[f"_c{i}"], prior_dtypes[lc]
        if raw == want:
            continue
        if _is_safe_widening(raw, want):
            vexprs[lc] = vexprs[lc].cast(want)
        else:
            mismatch[lc] = (want, raw)
    if mismatch:
        raise ValueError(
            "UPDATE would re-type columns "
            f"{{col: (table_type, expr_type)}} = {mismatch} — cast "
            "the SET expression to the column's type (mixed parquet "
            "footers fail at read time; re-typing needs overwrite)"
        )
    return vexprs


def update_where_pruned(
    spark: SparkSession,
    root: str | Path,
    predicates: list[tuple],
    set_values: dict,
    num_files: int | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Zone-map-bounded UPDATE (the Delta ``UPDATE ... SET ... WHERE``
    shape): rewrite ONLY the files whose recorded [min, max] ranges can
    intersect the ``(column, op, value)`` conjunction; matching rows
    get ``set_values`` applied, non-matching rows of the touched files
    are carried verbatim into the rewrite, and every provably-clean
    file stays untouched on disk, carried forward by reference. The
    commit is an ``update`` log entry with the same dir+``removed``
    mask shape as DELETE — earlier versions still read the pre-update
    rows (time travel), and ``vacuum`` retires the superseded files.

    ``set_values`` maps LOGICAL top-level column names to either a
    literal or a pyspark ``Column`` expression evaluated over the
    PRE-UPDATE row under its logical names (e.g.
    ``{"price": F.col("price") * 2}``). Nested set targets are refused
    (reshape structs via upsert/overwrite); predicates may be nested
    paths of any depth. NULL in a predicate column never matches — the
    row survives unchanged (the null-rejecting language everywhere).
    An update may never RE-TYPE a column (refused before any write:
    mixed footers fail at read time far from the bad commit); active
    CHECK / NOT NULL constraints validate the POST-update rows and
    refuse the whole commit atomically. With the change feed active
    the commit writes pre-image rows as deletes and post-image rows
    as inserts (an UPDATE is its delete+insert pair, matching
    ``changes_between``). Commits nothing when no file can match.

    At 100 TB this is the Delta UPDATE shape: rewrite cost is O(files
    the predicate touches) — the pruning decision reads zero data
    bytes."""
    from pyspark.sql import functions as F

    if not predicates:
        raise ValueError("update_where_pruned needs at least one predicate")
    _validate_set_values(set_values)
    for p in predicates:
        if len(p) != 3 or p[1] not in _PRUNE_OPS:
            raise ValueError(
                f"predicate {p!r} must be (column, op, value) with op in "
                f"{sorted(_PRUNE_OPS)}"
            )

    def idle(version, skipped=0):
        return {
            "version": version, "updated_rows": 0, "rewritten_files": 0,
            "carried_files": 0, "skipped_files": skipped, "committed": False,
        }

    def select(t):
        mapping = t.mapping
        phys_preds = _preds_to_physical(predicates, mapping)
        logical_cols = _names_to_logical(t.columns, mapping)
        unknown = sorted(set(set_values) - set(logical_cols))
        if unknown:
            raise ValueError(
                f"SET columns {unknown} not in table schema {logical_cols}"
            )
        files, skipped = _zone_map_candidates(t, predicates)
        if not files:  # no file can hold a match: commit nothing
            return idle(t.version, skipped)

        def rows(cand):
            # match on the PHYSICAL frame (pruning's language), then
            # apply SET expressions under LOGICAL names (the user's
            # language) — the flag column rides through the projection
            matched = _matches(cand, phys_preds)
            logical = _to_logical(cand.withColumn("_upd", matched), mapping)
            vexprs = _checked_set_exprs(logical, set_values)
            exprs = [
                (
                    F.when(F.col("_upd"), vexprs[lc]).otherwise(F.col(f"`{lc}`"))
                    if lc in vexprs else F.col(f"`{lc}`")
                ).alias(lc)
                for lc in logical_cols
            ]
            # back to frozen physical storage names (the append path's
            # sequence: flat renames first, then nested renames)
            updated = logical.select(*exprs, "_upd").withColumnsRenamed(
                {l: p for l, p in mapping.items() if "." not in l}
            )
            updated = _apply_nested_renames_to_physical(updated, mapping)
            post = updated.filter(F.col("_upd"))
            _enforce_constraints(post, _active_constraints(t.entries))
            # the matched-row count rides the rewrite write; attached
            # AFTER the constraint probe, whose limit() action would
            # otherwise resolve the observation early
            updated, n = _observed_counts(
                updated, updated=F.col("_upd"), out=None
            )
            # change data: pre-images as deletes + post-images as
            # inserts (an UPDATE is its delete+insert pair, the
            # representation of changes_between)
            def changes():
                return cand.filter(matched).withColumn(
                    "_change", F.lit("delete")
                ).unionByName(
                    post.drop("_upd").select(*t.columns).withColumn(
                        "_change", F.lit("insert")
                    )
                )

            return _Rows(updated.drop("_upd").select(*t.columns), changes, n)

        return _Rewrite(
            files,
            rows,
            {
                "action": "update",
                "predicates": [list(p) for p in phys_preds],
                "set_columns": sorted(
                    _names_to_physical(list(set_values), mapping)
                ),
            },
            # no row matched (files only possibly did): nothing changes
            lambda v, n: {
                "version": v,
                "updated_rows": n["updated"],
                "rewritten_files": len(files),
                "carried_files": skipped,
                "skipped_files": skipped,
                "committed": True,
            } if n["updated"] else idle(t.version, skipped),
            num_files,
        )

    return _rewrite_commit(spark, root, txn, idle, select)


def _typed_null(c: str, live_entries: list[dict]):
    """NULL literal CAST to the column's recorded type — an untyped
    ``lit(None)`` backfill is void-typed, which reads fine but CRASHES
    any parquet write of the frame (post-images, survivors, change
    data) when every candidate file predates the column's widening.
    Legacy logs without recorded types keep the untyped literal (those
    tables never widened, so the column always exists in the files)."""
    from pyspark.sql import functions as F

    t = _prior_types(live_entries) or {}
    lit = F.lit(None)
    return lit.cast(t[c]) if c in t else lit


def _dv_candidate_matches(
    spark: SparkSession,
    live_data_dirs: list[str],
    live_entries: list[dict],
    cand_files: list[str],
    phys_preds: list[tuple],
    dvf,
):
    """The rows a DV operation touches, position-addressed: read ONLY
    the candidate files (per commit dir so basePath recovers hive
    partition columns), tag each row with its (file, row-index) DV
    key, backfill widened columns as TYPED nulls, drop rows already
    hidden by a live DV, and keep the predicate matches. Shared by the
    DV delete and the DV update (one implementation to keep their
    semantics identical). Returns the matches DataFrame."""
    from pyspark.sql import functions as F

    schema_cols = live_entries[-1]["columns"]
    widened = any("added_columns" in e for e in live_entries)
    by_base: dict[str, list[str]] = {}
    for f in cand_files:
        base = next(d for d in live_data_dirs if f.startswith(d + os.sep))
        by_base.setdefault(base, []).append(f)
    matches = None
    for base, plist in by_base.items():
        reader = spark.read.option("basePath", base)
        if widened:
            reader = reader.option("mergeSchema", "true")
        part = reader.parquet(*plist).withColumns(
            {
                "_dv_key": F.regexp_extract(
                    F.col("_metadata.file_path"), _DV_KEY, 1
                ),
                "_dv_rid": F.col("_metadata.row_index"),
            }
        )
        for c in schema_cols:  # widened cols absent from old files
            if c not in part.columns:
                part = part.withColumn(c, _typed_null(c, live_entries))
        part = part.select(*schema_cols, "_dv_key", "_dv_rid")
        matches = part if matches is None else matches.unionByName(part)
    if dvf is not None:  # already-hidden rows must not re-match
        matches = matches.join(dvf, ["_dv_key", "_dv_rid"], "left_anti")
    return matches.filter(
        F.coalesce(_predicate_cond(matches, phys_preds), F.lit(False))
    )


def delete_where_dv(
    spark: SparkSession,
    root: str | Path,
    predicates: list[tuple],
    txn: tuple[str, int] | None = None,
) -> dict:
    """Merge-on-read DELETE via a DELETION VECTOR (the Delta DV /
    Iceberg position-delete shape): instead of rewriting the files the
    predicate touches, commit a sidecar of (file, row position) pairs —
    every reader anti-joins it, so the rows vanish from this version
    onward while ZERO data files are rewritten. The write cost is
    O(deleted rows), not O(files touched): deleting 100 rows from a
    100 TB table writes a KB-sized parquet sidecar.

    Contrast :func:`delete_where_pruned` (copy-on-write: rewrites the
    touched files, best when deletes are large or reads dominate). The
    DV is the right tool for small/frequent deletes; the read-side
    anti-join cost is retired by the next maintenance pass —
    ``compact_small`` / ``optimize`` / any rewrite of the file
    physically drops the rows (the retention story: DV delete →
    compact → gone). Rows already DV-deleted are excluded from the
    match (counts and change data stay exact); NULLs in predicate
    columns never match (same null-rejecting language as everywhere).
    With the change feed active the commit also writes the deleted
    rows as change data. Commits nothing when no row matches.
    """
    from pyspark.sql import functions as F

    if not predicates:
        raise ValueError("delete_where_dv needs at least one predicate")
    for p in predicates:
        if len(p) != 3 or p[1] not in _PRUNE_OPS:
            raise ValueError(
                f"predicate {p!r} must be (column, op, value) with op in "
                f"{sorted(_PRUNE_OPS)}"
            )
    root = Path(root)
    (root / _VLOG).mkdir(parents=True, exist_ok=True)
    entries = _snapshot_entries(root)  # lock-free base snapshot
    version, live_data_dirs, live_entries = _resolve(root, entries, None)
    if txn is not None and int(txn[1]) <= _latest_txns(entries).get(
        str(txn[0]), -1
    ):
        return {
            "version": version, "deleted_rows": 0, "skipped_files": 0,
            "committed": False, "skipped_duplicate_txn": True,
        }
    predicates = _preds_to_physical(
        predicates, _column_mapping(live_entries)
    )
    dvf = _dv_frame(spark, root, live_entries)
    report = zone_map_prune(root, predicates, version)
    cand_files = list(report["files"]) + [
        str(f)
        for d in report["dirs"]
        for f in sorted(Path(d).rglob("*.parquet"))
    ]
    if not cand_files:  # no file can hold a match: commit nothing
        return {
            "version": version, "deleted_rows": 0,
            "skipped_files": report["skipped_files"], "committed": False,
        }
    schema_cols = live_entries[-1]["columns"]
    matches = _dv_candidate_matches(
        spark, live_data_dirs, live_entries, cand_files, predicates, dvf
    )
    # stage the sidecar (and change data) OUTSIDE the lock — the
    # expensive Spark work; only the rename + conflict check + log
    # link serialize on the commit critical section
    stage_dv = root / _DV / f"stage-{os.getpid()}-{os.urandom(4).hex()}"
    matches.select("_dv_key", "_dv_rid").write.mode("overwrite").parquet(
        str(stage_dv)
    )
    from urllib.parse import unquote

    # ONE read-back job answers both post-write questions: the row
    # count (commit-or-not) and the per-file key set (recorded on the
    # entry so future writers' conflict detection never has to open
    # the sidecar). r9 ran these as two jobs — count, then
    # distinct+collect — and the second job's fixed setup cost showed
    # up as a +0.2 s bench regression on a KB-sized sidecar.
    per_file = (
        spark.read.parquet(str(stage_dv))
        .groupBy("_dv_key").count().collect()
    )
    n_del = sum(r["count"] for r in per_file)
    if not n_del:  # predicate matched nothing: commit nothing
        shutil.rmtree(stage_dv, ignore_errors=True)
        return {
            "version": version, "deleted_rows": 0,
            "skipped_files": report["skipped_files"], "committed": False,
        }
    dv_files = sorted({unquote(r["_dv_key"]) for r in per_file})
    stage_cdf = None
    if _cf_active(live_entries):
        stage_cdf = root / _CDF / stage_dv.name
        matches.select(*schema_cols).withColumn(
            "_change", F.lit("delete")
        ).write.mode("overwrite").parquet(str(stage_cdf))
    last = entries[-1]
    template = {
        "action": "delete",
        "dir": None,
        "dv_rows": n_del,
        "dv_files": dv_files,
        "columns": schema_cols,
        "partition_by": last.get("partition_by") or [],
        "predicates": [list(p) for p in predicates],
    }
    if last.get("stats_columns"):
        template["stats_columns"] = last["stats_columns"]
    if last.get("bloom_columns"):
        template["bloom_columns"] = last["bloom_columns"]
        template["bloom_bits"] = last.get("bloom_bits") or 65_536
    if txn is not None:
        template["txn"] = {"app": str(txn[0]), "batch": int(txn[1])}
    try:
        with writer_lock(root, wait_seconds=_LOCK_WAIT):
            for _ in range(50):
                landed = _tail_after(root, version)
                if txn is not None and int(txn[1]) <= _latest_txns(
                    entries + landed
                ).get(str(txn[0]), -1):
                    # a duplicate landed between the base snapshot and
                    # the lock (the in-lock exactly-once authority)
                    return {
                        "version": version, "deleted_rows": 0,
                        "skipped_files": 0, "committed": False,
                        "skipped_duplicate_txn": True,
                    }
                _check_rebase(root, "delete", set(dv_files), last, landed)
                new_version = (
                    landed[-1]["version"] if landed else version
                ) + 1
                dv_name = f"c{new_version:08d}"
                entry = dict(template)
                entry["version"] = new_version
                entry["dv_ref"] = dv_name
                try:
                    os.rename(stage_dv, root / _DV / dv_name)
                except OSError:
                    time.sleep(0.05)  # foreign in-flight writer: rebase
                    continue
                if stage_cdf is not None:
                    os.rename(stage_cdf, root / _CDF / dv_name)
                    entry["change_data"] = True
                entry["ts"] = time.time()
                try:
                    _commit(root, entry)
                    break
                except RuntimeError:
                    # a racing commit claimed the version: undo, rebase
                    os.rename(root / _DV / dv_name, stage_dv)
                    if stage_cdf is not None:
                        os.rename(root / _CDF / dv_name, stage_cdf)
            else:
                raise ConcurrentModificationError(
                    f"DV delete on {root} did not land after 50 rebase "
                    "attempts — a foreign writer is monopolizing the log"
                )
    finally:
        shutil.rmtree(stage_dv, ignore_errors=True)
        if stage_cdf is not None:
            shutil.rmtree(stage_cdf, ignore_errors=True)
    return {
        "version": new_version,
        "deleted_rows": n_del,
        "rewritten_files": 0,
        "skipped_files": report["skipped_files"],
        "committed": True,
    }


def update_where_dv(
    spark: SparkSession,
    root: str | Path,
    predicates: list[tuple],
    set_values: dict,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Merge-on-read UPDATE via a DELETION VECTOR (the Delta DV-update
    shape): the pre-image row positions go into a DV sidecar and the
    POST-image rows (SET applied) land as a small new data directory —
    ONE commit, ZERO existing files rewritten. Readers see the union
    of live directories minus the DV positions, so the update is
    exact at O(updated rows) write cost: updating 100 rows of a
    100 TB table writes a KB-sized sidecar plus 100 rows of parquet.

    Contrast :func:`update_where_pruned` (copy-on-write: rewrites the
    touched files — best for large updates or read-dominated tables).
    The DV shape is the tool for small/frequent updates; the read-side
    anti-join is retired by the next maintenance pass (compact /
    optimize physically drops the hidden pre-images and keeps the
    post-images). SET semantics are identical to the pruned variant:
    logical names, Column expressions over the pre-update row,
    commit-time re-type refusal, safe-widening literal casts,
    constraint validation of post-update rows, NULL predicate rows
    never match. With the change feed active the commit writes the
    delete+insert pair per updated row. Commits nothing when no row
    matches."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    if not predicates:
        raise ValueError("update_where_dv needs at least one predicate")
    _validate_set_values(set_values)
    for p in predicates:
        if len(p) != 3 or p[1] not in _PRUNE_OPS:
            raise ValueError(
                f"predicate {p!r} must be (column, op, value) with op in "
                f"{sorted(_PRUNE_OPS)}"
            )
    root = Path(root)
    (root / _VLOG).mkdir(parents=True, exist_ok=True)
    entries = _snapshot_entries(root)  # lock-free base snapshot
    version, live_data_dirs, live_entries = _resolve(root, entries, None)
    if txn is not None and int(txn[1]) <= _latest_txns(entries).get(
        str(txn[0]), -1
    ):
        return {
            "version": version, "updated_rows": 0, "rewritten_files": 0,
            "carried_files": 0, "skipped_files": 0, "committed": False,
            "skipped_duplicate_txn": True,
        }
    mapping = _column_mapping(live_entries)
    phys_preds = _preds_to_physical(predicates, mapping)
    schema_cols = live_entries[-1]["columns"]
    logical_cols = _names_to_logical(schema_cols, mapping)
    unknown = sorted(set(set_values) - set(logical_cols))
    if unknown:
        raise ValueError(
            f"SET columns {unknown} not in table schema {logical_cols}"
        )
    dvf = _dv_frame(spark, root, live_entries)
    report = zone_map_prune(root, phys_preds, version)
    cand_files = list(report["files"]) + [
        str(f)
        for d in report["dirs"]
        for f in sorted(Path(d).rglob("*.parquet"))
    ]
    if not cand_files:
        return {
            "version": version, "updated_rows": 0,
            "rewritten_files": 0, "carried_files": report["skipped_files"],
            "skipped_files": report["skipped_files"], "committed": False,
        }
    # matches is consumed by FIVE jobs (type probe, sidecar, post-image
    # write, constraint check, change data): materialize the matched
    # rows ONCE — they are exactly the updated rows, small by the DV
    # shape's contract — instead of re-scanning the candidate files
    # per consumer
    matches = _dv_candidate_matches(
        spark, live_data_dirs, live_entries, cand_files, phys_preds, dvf
    ).localCheckpoint(eager=True)
    # POST-image rows: SET under logical names, back to physical
    logical = _to_logical(matches, mapping)
    vexprs = _checked_set_exprs(
        logical.drop("_dv_key", "_dv_rid"), set_values
    )
    post_l = logical.select(
        *[
            (vexprs[lc].alias(lc) if lc in vexprs else F.col(f"`{lc}`").alias(lc))
            for lc in logical_cols
        ]
    )
    post = _apply_nested_renames_to_physical(
        post_l.withColumnsRenamed(
            {l: p for l, p in mapping.items() if "." not in l}
        ),
        mapping,
    ).select(*schema_cols)
    _enforce_constraints(post, _active_constraints(live_entries))
    # stage sidecar + post-image dir + change data OUTSIDE the lock
    stage_dv = root / _DV / f"stage-{os.getpid()}-{os.urandom(4).hex()}"
    matches.select("_dv_key", "_dv_rid").write.mode("overwrite").parquet(
        str(stage_dv)
    )
    per_file = (
        spark.read.parquet(str(stage_dv))
        .groupBy("_dv_key").count().collect()
    )
    n_upd = sum(r["count"] for r in per_file)
    if not n_upd:
        shutil.rmtree(stage_dv, ignore_errors=True)
        return {
            "version": version, "updated_rows": 0,
            "rewritten_files": 0, "carried_files": report["skipped_files"],
            "skipped_files": report["skipped_files"], "committed": False,
        }
    dv_files = sorted({unquote(r["_dv_key"]) for r in per_file})
    last = entries[-1]
    partition_by = last.get("partition_by") or []
    stage_data = _stage_dir(root)
    writer = post.coalesce(1).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(stage_data))
    stage_cdf = None
    if _cf_active(live_entries):
        pre = matches.select(*schema_cols).withColumn(
            "_change", F.lit("delete")
        )
        stage_cdf = root / _CDF / stage_dv.name
        pre.unionByName(
            post.withColumn("_change", F.lit("insert"))
        ).coalesce(1).write.mode("overwrite").parquet(str(stage_cdf))
    template = {
        "action": "update",
        "dv_rows": n_upd,
        "dv_files": dv_files,
        "columns": schema_cols,
        "partition_by": partition_by,
        "predicates": [list(p) for p in phys_preds],
        "set_columns": sorted(
            _names_to_physical(list(set_values), mapping)
        ),
    }
    stats_columns = last.get("stats_columns") or []
    bloom_columns = last.get("bloom_columns") or []
    if stats_columns:
        template["stats_columns"] = stats_columns
        template["stats_types"] = {
            c: _dtype_of_path(post, c) for c in stats_columns
        }
        template["stats"] = _collect_file_stats(stage_data, stats_columns)
    blooms = None
    if bloom_columns:
        template["bloom_columns"] = bloom_columns
        template["bloom_bits"] = last.get("bloom_bits") or 65_536
        template["bloom_types"] = {
            c: _dtype_of_path(post, c) for c in bloom_columns
        }
        blooms = _collect_file_blooms(
            spark, stage_data, bloom_columns, template["bloom_bits"]
        )
    if txn is not None:
        template["txn"] = {"app": str(txn[0]), "batch": int(txn[1])}
    try:
        with writer_lock(root, wait_seconds=_LOCK_WAIT):
            for _ in range(50):
                landed = _tail_after(root, version)
                if txn is not None and int(txn[1]) <= _latest_txns(
                    entries + landed
                ).get(str(txn[0]), -1):
                    return {
                        "version": version, "updated_rows": 0,
                        "rewritten_files": 0, "carried_files": 0,
                        "skipped_files": 0, "committed": False,
                        "skipped_duplicate_txn": True,
                    }
                _check_rebase(root, "update", set(dv_files), last, landed)
                new_version = (
                    landed[-1]["version"] if landed else version
                ) + 1
                name = f"c{new_version:08d}"
                entry = dict(template)
                entry["version"] = new_version
                entry["dv_ref"] = name
                entry["dir"] = name
                try:
                    os.rename(stage_dv, root / _DV / name)
                except OSError:
                    time.sleep(0.05)  # foreign in-flight writer: rebase
                    continue
                try:
                    os.rename(stage_data, root / _DATA / name)
                except OSError:
                    os.rename(root / _DV / name, stage_dv)
                    time.sleep(0.05)
                    continue
                if stage_cdf is not None:
                    os.rename(stage_cdf, root / _CDF / name)
                    entry["change_data"] = True
                if blooms is not None:
                    entry["blooms_file"] = _write_bloom_sidecar(
                        root, name, blooms
                    )
                entry["ts"] = time.time()
                try:
                    _commit(root, entry)
                    break
                except RuntimeError:
                    # a racing commit claimed the version: undo, rebase
                    os.rename(root / _DV / name, stage_dv)
                    os.rename(root / _DATA / name, stage_data)
                    if stage_cdf is not None:
                        os.rename(root / _CDF / name, stage_cdf)
            else:
                raise ConcurrentModificationError(
                    f"DV update on {root} did not land after 50 rebase "
                    "attempts — a foreign writer is monopolizing the log"
                )
    finally:
        shutil.rmtree(stage_dv, ignore_errors=True)
        shutil.rmtree(stage_data, ignore_errors=True)
        if stage_cdf is not None:
            shutil.rmtree(stage_cdf, ignore_errors=True)
    return {
        "version": new_version,
        "updated_rows": n_upd,
        "rewritten_files": 0,
        "carried_files": report["skipped_files"],
        "skipped_files": report["skipped_files"],
        "committed": True,
    }


def restore(
    spark: SparkSession,
    root: str | Path,
    version: int | None = None,
    timestamp=None,
) -> dict:
    """ROLL BACK the table to ``version`` as a NEW commit (the Delta
    RESTORE shape): a bad ingest, a wrong DELETE, or a botched MERGE is
    undone by making the target version's live set current again —
    zero data bytes move (the entry references the target's directories
    and records its masks), history stays intact (the bad commits
    remain time-travelable above the target), and the table keeps
    moving forward (a later append lands on top of the rollback).

    The restored state is EXACT: readers at or after this commit see
    the target's files minus the target's masks — deletes committed
    between the target and the restore are reset along with the data
    (``_live_masks`` treats a restore as a mask reset). The schema
    stays the LATEST schema (columns never narrow; restored files
    backfill NULL for columns widened after the target, exactly as
    time travel reads them). Requires the target's directories to
    still exist — a vacuumed version cannot be restored (clear error).

    Streams treat a restore like any rewrite: stop without
    ``ignoreChanges``, re-deliver the restored live set with it. With
    the change feed active, the commit writes change data = the
    INVERSE of every row change since the target (computed as one
    multiset diff, the only data-bytes cost), so incremental consumers
    roll back too. Restoring to the current version is a no-op
    (``committed: False``). The target may be named by ``version`` or
    by ``timestamp`` (TO TIMESTAMP AS OF — the newest commit at or
    before that time; see :func:`version_at`).
    """
    from pyspark.sql import functions as F

    root = Path(root)
    version = _resolve_as_of(root, version, timestamp)
    if version is None:
        raise ValueError("restore needs a target: pass version or timestamp")
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _committed_entries(root)  # raw: target is explicit
        cur_version, _, live_entries = _resolve(root, entries, None)
        if version == cur_version:
            return {"version": cur_version, "committed": False}
        t_version, t_dirs, t_entries = _resolve(root, entries, version)
        missing = [d for d in t_dirs if not Path(d).is_dir()]
        missing += [
            str(root / _DV / name)
            for name, _ in _live_dv_refs(t_entries)
            if not (root / _DV / name).is_dir()
        ]
        if missing:
            raise VersionNotFoundError(
                f"cannot restore {root} to version {version}: its data "
                f"was vacuumed ({[Path(m).name for m in missing]})"
            )
        dir_names = [Path(d).name for d in t_dirs]
        t_masks = {
            d: sorted(v)
            for d, v in _live_masks(t_entries).items()
            if d in set(dir_names)
        }
        t_dvs = [list(r) for r in _live_dv_refs(t_entries)]
        last = entries[-1]
        new_version = cur_version + 1
        entry = {
            "version": new_version,
            "action": "restore",
            "restore_of": version,
            "dir": None,
            "dirs": dir_names,
            "removed": t_masks,
            "dv": t_dvs,  # deletion vectors reinstated as of the target
            "columns": last["columns"],  # schema never narrows
            "partition_by": last.get("partition_by") or [],
            "ts": time.time(),
        }
        # The commit-time type guard must track the files actually
        # live after the rollback, not the newest (possibly re-typing)
        # overwrite this restore supersedes: the TARGET's recorded
        # types win for every column the restored data carries, while
        # columns added after the target (schema never narrows — the
        # restored files backfill NULL for them) keep their post-target
        # declared type so the next append still matches.
        t_types = _prior_types(t_entries)
        cur_types = _prior_types(entries)
        if t_types is not None or cur_types is not None:
            merged = dict(cur_types or {})
            merged.update(t_types or {})
            entry["types"] = {
                c: t for c, t in merged.items() if c in set(last["columns"])
            }
        # inheritable declarations ride every entry (entries[-1] chain)
        if last.get("stats_columns"):
            entry["stats_columns"] = last["stats_columns"]
        if last.get("bloom_columns"):
            entry["bloom_columns"] = last["bloom_columns"]
            entry["bloom_bits"] = last.get("bloom_bits") or 65_536
        if _cf_active(live_entries):
            # change data = the inverse of everything since the target,
            # one multiset diff (the only data cost of a restore),
            # written file-first/commit-second like every cdf
            delta = changes_between(spark, root, version, cur_version)
            inverted = delta.withColumn(
                "_change",
                F.when(F.col("_change") == F.lit("insert"), F.lit("delete"))
                .otherwise(F.lit("insert")),
            )
            rows = (
                inverted.withColumn(
                    "_r", F.explode(F.expr("sequence(1, _n)"))
                )
                .drop("_r", "_n")
            )
            rows.write.mode("overwrite").parquet(
                str(root / _CDF / f"c{new_version:08d}")
            )
            entry["change_data"] = True
        _commit(root, entry)
    return {
        "version": new_version,
        "restore_of": version,
        "dirs": dir_names,
        "committed": True,
    }


def optimize(
    spark: SparkSession,
    root: str | Path,
    zorder_by: list[str] | None = None,
    num_files: int = 16,
    bits: int = 10,
    stats_columns: list[str] | None = None,
) -> dict:
    """Rewrite the latest snapshot as ONE overwrite commit — full
    compaction, optionally z-order clustered on ``zorder_by``
    (``operators/layout.py``). History is untouched: every prior
    version reads exactly as before, and the superseded directories
    stay on disk until ``vacuum`` retires them. For routine small-file
    folding prefer :func:`compact_small`, which rewrites only the
    small files (O(small), dataChange=false — streams skip it); this
    full rewrite is the tool when re-clustering. Data moves through
    one exchange (range, when clustering; round-robin coalesce
    otherwise).

    ``stats_columns`` (inherited from the table when None) pairs
    naturally with ``zorder_by``: clustering makes per-file ranges
    tight, so the zone maps recorded here give ``read_where`` its
    maximum file-skip fraction.
    """
    df = read_version(spark, root)
    # optimize is row-preserving (same rows, new layout): stamped
    # data_change=false so streams and the change feed skip it — the
    # Delta OPTIMIZE contract. Snapshot readers are unaffected (the
    # overwrite action still resets the live set).
    no_change = {"data_change": False}
    if zorder_by:
        from dataset_dedupe_estimator_spark.operators.layout import zorder_frame

        df = zorder_frame(df, zorder_by, bits=bits, num_files=num_files)
        return _write_commit(
            root, df, "overwrite", num_files=None,
            stats_columns=stats_columns, extra_entry=no_change,
        )
    return _write_commit(
        root, df, "overwrite", num_files=num_files,
        stats_columns=stats_columns, extra_entry=no_change,
    )


def compact_small(
    spark: SparkSession,
    root: str | Path,
    small_bytes: int = 32 << 20,
    target_bytes: int = 128 << 20,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 10,
    max_dv_fraction: float | None = None,
) -> dict:
    """Delta-OPTIMIZE-shaped small-file compaction: rewrite ONLY the
    live files smaller than ``small_bytes`` into ~``target_bytes``
    outputs; every larger file is carried by reference, byte-identical
    on disk. Contrast :func:`optimize`, which rewrites the whole
    snapshot (the right tool when re-clustering everything); this is
    the maintenance pass a streaming-ingested table needs — thousands
    of per-batch commits fold into a few right-sized files at O(small
    files) cost, not O(table).

    ``zorder_by`` clusters the folded rows on a Morton key while
    they're being rewritten anyway (the liquid-clustering idea:
    incremental maintenance keeps the table queryable without ever
    paying a full re-cluster) — the freshly-ingested debris comes out
    clustered and its recorded zone maps tight, at the same O(small
    files) cost; files already large (and presumably already
    clustered by a previous pass) are untouched. Row set identical
    either way, so the commit stays ``data_change: false``.

    The commit is a ``compact`` entry with the same dir + ``removed``
    mask shape as delete/upsert but stamped ``data_change: false``:
    the live ROWS are identical before and after, so the streaming
    source skips the commit entirely (the Delta dataChange=false
    contract — incremental consumers see nothing), the change feed
    between surrounding versions is empty, and every prior version
    still time-travels. A row-count guard verifies the rewrite before
    the commit link; a crash before commit leaves only an orphan dir
    for vacuum.

    ``max_dv_fraction`` is the DV-maintenance trigger (the Delta
    OPTIMIZE-over-DV shape): files whose DELETION-VECTOR-hidden row
    fraction exceeds it are rewritten too — regardless of size — which
    physically drops their deleted rows and retires their share of the
    read-side anti-join before it grows. Untouched files are carried
    byte-identical. Every committing compaction (with or without the
    knob) also REWRITES the live DV set down to the rows that still
    reference unmasked files and carries it with replace semantics
    (``dv_all``): the anti-join shrinks as maintenance progresses and
    disappears entirely at zero surviving DV rows.
    """
    root = Path(root)
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _snapshot_entries(root)
        version, live_data_dirs, live_entries = _resolve(root, entries, None)
        dvf = _dv_frame(spark, root, live_entries)
        masks = _live_masks(live_entries)
        schema_cols = live_entries[-1]["columns"]
        partition_by = live_entries[-1].get("partition_by") or []
        stats_columns = live_entries[-1].get("stats_columns") or []
        bloom_columns = live_entries[-1].get("bloom_columns") or []
        bloom_bits = live_entries[-1].get("bloom_bits") or 65_536
        widened = any("added_columns" in e for e in live_entries)
        small: list[str] = []
        n_large = 0
        for d in live_data_dirs:
            masked = masks.get(Path(d).name, set())
            for f in sorted(Path(d).rglob("*.parquet")):
                if str(f.relative_to(d)) in masked:
                    continue
                if f.stat().st_size < small_bytes:
                    small.append(str(f))
                else:
                    n_large += 1
        dv_heavy: list[str] = []
        if max_dv_fraction is not None and dvf is not None:
            # per-file deleted-row counts from the live DV sidecars
            # (KB-sized by design; (key, rid) pairs are unique because
            # already-deleted rows never re-match at delete time)
            from collections import Counter
            from urllib.parse import unquote

            import pyarrow.parquet as pq

            counts: Counter = Counter()
            for name, _ in _live_dv_refs(live_entries):
                t = pq.read_table(
                    str(root / _DV / name), columns=["_dv_key"]
                )
                counts.update(unquote(k) for k in t["_dv_key"].to_pylist())
            chosen = set(small)
            for d in live_data_dirs:
                masked = masks.get(Path(d).name, set())
                for f in sorted(Path(d).rglob("*.parquet")):
                    rel = str(f.relative_to(d))
                    if rel in masked or str(f) in chosen:
                        continue
                    n_dv = counts.get(f"{Path(d).name}/{rel}", 0)
                    if not n_dv:
                        continue
                    n_rows = pq.ParquetFile(str(f)).metadata.num_rows
                    if n_rows and n_dv / n_rows > max_dv_fraction:
                        dv_heavy.append(str(f))
                        n_large -= 1
            small.extend(dv_heavy)
        if len(small) < 2 and not dv_heavy:  # nothing to fold together
            return {
                "version": version, "compacted_files": 0,
                "carried_files": n_large + len(small), "committed": False,
            }

        def _norm(df):
            for c in schema_cols:
                if c not in df.columns:
                    # TYPED null: survivors/post-images get WRITTEN — an
                    # untyped (void) backfill crashes the parquet write
                    df = df.withColumn(c, _typed_null(c, live_entries))
            return df.select(*schema_cols)

        by_base: dict[str, list[str]] = {}
        for f in small:
            base = next(d for d in live_data_dirs if f.startswith(d + os.sep))
            by_base.setdefault(base, []).append(f)
        src = None
        for base, plist in by_base.items():
            reader = spark.read.option("basePath", base)
            if widened:
                reader = reader.option("mergeSchema", "true")
            # DV-deleted rows are filtered OUT of the fold: compaction
            # is where a deletion vector's rows become physically gone
            part = _norm(_dv_filter(reader.parquet(*plist), dvf))
            src = part if src is None else src.unionByName(part)
        n_in = src.count()
        small_total = sum(Path(f).stat().st_size for f in small)
        num_files = max(1, -(-small_total // target_bytes))
        new_version = version + 1
        dir_name = f"c{new_version:08d}"
        data_dir = root / _DATA / dir_name
        if zorder_by:
            from dataset_dedupe_estimator_spark.operators.layout import (
                zorder_frame,
            )

            out = zorder_frame(
                src, list(zorder_by), bits=zorder_bits,
                num_files=int(num_files),
            )
            writer = out.write.mode("overwrite")
        else:
            writer = src.coalesce(int(num_files)).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(data_dir))
        has_rows = any(data_dir.rglob("*.parquet"))
        n_out = spark.read.parquet(str(data_dir)).count() if has_rows else 0
        if n_out != n_in:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise RuntimeError(
                f"compact_small row-count guard: read {n_in} rows from "
                f"{len(small)} small files but rewrote {n_out}; "
                "nothing committed"
            )
        if not n_out:  # only empty part files were folded
            has_rows = False
            shutil.rmtree(data_dir, ignore_errors=True)
        removed: dict[str, list[str]] = {}
        for base, plist in by_base.items():
            removed[Path(base).name] = sorted(
                str(Path(f).relative_to(base)) for f in plist
            )
        entry = {
            "version": new_version,
            "action": "compact",
            "data_change": False,
            "dir": dir_name if has_rows else None,
            "columns": schema_cols,
            "partition_by": partition_by,
            "removed": removed,
            "ts": time.time(),
        }
        dv_retired = 0
        if dvf is not None:
            # retire DV rows whose files are masked after this fold:
            # rewrite the survivors into one fresh sidecar, carried
            # with replace semantics — the read-side anti-join shrinks
            # with maintenance and disappears at zero
            from urllib.parse import unquote

            import pyarrow as pa
            import pyarrow.parquet as _pq

            all_masked = {
                f"{d}/{r}" for d, rels in masks.items() for r in rels
            }
            for d, rels in removed.items():
                all_masked.update(f"{d}/{r}" for r in rels)
            keys: list[str] = []
            rids: list[int] = []
            n_total = 0
            for name, _ in _live_dv_refs(live_entries):
                t = _pq.read_table(str(root / _DV / name))
                for k, r in zip(
                    t["_dv_key"].to_pylist(), t["_dv_rid"].to_pylist()
                ):
                    n_total += 1
                    if unquote(k) not in all_masked:
                        keys.append(k)
                        rids.append(int(r))
            dv_retired = n_total - len(keys)
            if keys:
                surv_dir = root / _DV / dir_name
                surv_dir.mkdir(parents=True, exist_ok=True)
                _pq.write_table(
                    pa.table(
                        {
                            "_dv_key": pa.array(keys, pa.string()),
                            "_dv_rid": pa.array(rids, pa.int64()),
                        }
                    ),
                    str(surv_dir / "part-00000.parquet"),
                )
                entry["dv_all"] = [[dir_name, len(keys)]]
            else:
                entry["dv_all"] = []
        if stats_columns:
            entry["stats_columns"] = stats_columns  # declaration always
            if has_rows:
                entry["stats_types"] = {
                    c: _dtype_of_path(src, c) for c in stats_columns
                }
                entry["stats"] = _collect_file_stats(data_dir, stats_columns)
        if bloom_columns:
            entry["bloom_columns"] = bloom_columns  # declaration always
            entry["bloom_bits"] = bloom_bits
            if has_rows:
                entry["bloom_types"] = {
                    c: _dtype_of_path(src, c) for c in bloom_columns
                }
                entry["blooms_file"] = _write_bloom_sidecar(
                    root, dir_name, _collect_file_blooms(
                        spark, data_dir, bloom_columns, bloom_bits
                    ),
                )
        _commit(root, entry)
    return {
        "version": new_version,
        "compacted_files": len(small),
        "dv_heavy_files": len(dv_heavy),
        "dv_retired_rows": dv_retired,
        "carried_files": n_large,
        "rows": n_out,
        "committed": True,
    }


def archive_log(root: str | Path, keep_tail: int = 0) -> dict:
    """Bound the ``_vlog/`` JSON file count (the inode-bloat fix for
    10^5-10^6-commit tables): bundle every raw entry at or below the
    newest CHECKPOINT's version (minus ``keep_tail`` extra raw
    entries, if requested) into ``archive-v<floor>.parquet`` — the
    RAW entries, not the folded state, so full history (time travel,
    ``history``, ``version_at``, restore targets) stays exact — then
    unlink the bundled ``v*.json`` files.

    Entries ABOVE the last checkpoint always stay as JSON: the hot
    read path discovers them by O(tail) existence probes
    (:func:`_tail_after`), which archive bundling must never break.
    The archive is rewritten whole on each call (O(history) strings —
    a few MB at 10^5 commits) and the previous bundle is retained as a
    rotation cushion for lock-free readers mid-glob; older bundles are
    retired. Lossless by construction: nothing is unlinked until the
    new bundle is durably linked. No-op (``archived: 0``) until a
    checkpoint exists."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = Path(root)
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        ck = _latest_checkpoint(root)
        if ck is None:
            return {"archived": 0, "floor": None, "removed_json": 0}
        floor = _ckpt_version(ck) - max(0, int(keep_tail))
        if floor < 0:
            return {"archived": 0, "floor": None, "removed_json": 0}
        entries = _committed_entries(root)  # archive + raw, full history
        to_store = [e for e in entries if e["version"] <= floor]
        if not to_store:
            return {"archived": 0, "floor": floor, "removed_json": 0}
        vlog = root / _VLOG
        target = vlog / f"archive-v{floor:08d}.parquet"
        if not target.exists():
            table = pa.table(
                {
                    "version": pa.array(
                        [e["version"] for e in to_store], pa.int64()
                    ),
                    "entry": pa.array(
                        [json.dumps(e, sort_keys=True) for e in to_store],
                        pa.string(),
                    ),
                }
            )
            tmp = target.with_suffix(".tmp-%d" % os.getpid())
            pq.write_table(table, str(tmp))
            try:
                os.link(tmp, target)
            except FileExistsError:
                pass  # same floor, same content
            finally:
                tmp.unlink(missing_ok=True)
        removed = 0
        for e in to_store:
            p = _entry_path(root, e["version"])
            if p.exists():
                p.unlink()
                removed += 1
        # keep the newest TWO bundles (rotation cushion for lock-free
        # readers whose glob raced this call); retire the rest
        arcs = sorted(vlog.glob("archive-v*.parquet"))
        for old in arcs[:-2]:
            old.unlink(missing_ok=True)
        return {
            "archived": len(to_store),
            "floor": floor,
            "removed_json": removed,
        }


_ANALYZE_DIR = "_analyze"


def analyze_table(
    spark: SparkSession,
    root: str | Path,
    columns: list[str] | None = None,
    approx: bool = False,
) -> dict:
    """ANALYZE TABLE ... COMPUTE STATISTICS: table- and column-level
    statistics over the CURRENT snapshot, persisted as an advisory
    sidecar (``_analyze/stats-v<version>.json``, atomic
    ``os.replace``) — the catalog-statistics analog of Delta's ANALYZE
    into the metastore. Deliberately NOT a commit: statistics describe
    a version, they don't change one, so readers/time travel/streams/
    checkpoint folds see nothing new, and vacuum never touches the
    sidecar dir.

    Table stats: ``rows``, ``live_files``, ``live_bytes``. Column
    stats (``columns`` defaults to every top-level column):
    ``null_count``, ``ndv`` (exact by default — ONE aggregate pass;
    ``approx=True`` switches to HLL ``approx_count_distinct``, the
    100 TB path: multi-column exact distinct expands the input
    per-column, HLL folds in one pass), ``min``/``max`` for orderable
    types, ``avg_len`` for strings. Values are stored JSON-safe
    (timestamps/dates ISO, everything else native).

    Columns are LOGICAL names (renames resolved); dropped/unknown
    names refuse. Returns the stats dict; read back with
    :func:`table_statistics`."""
    from pyspark.sql import functions as F

    root = Path(root)
    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        # lock: the recorded version and the scanned snapshot must be
        # the same snapshot (a racing writer between resolve and scan
        # would mislabel the stats)
        entries = _snapshot_entries(root)
        version, live_data_dirs, live_entries = _resolve(root, entries, None)
        df = read_version(spark, root, version)
        logical_cols = df.columns
        if columns is None:
            columns = logical_cols
        unknown = [c for c in columns if c not in logical_cols]
        if unknown:
            raise ValueError(
                f"analyze columns {unknown} not in table schema "
                f"{logical_cols}"
            )
        dtypes = dict(df.dtypes)
        ndv = (
            (lambda c: F.approx_count_distinct(c, 0.02))  # 2% rsd HLL
            if approx
            else (lambda c: F.countDistinct(c))
        )
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in columns:
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}")
            )
            aggs.append(ndv(c).alias(f"__ndv_{c}"))
            t = dtypes[c]
            if not t.startswith(("array", "map", "struct", "binary")):
                aggs.append(F.min(c).alias(f"__min_{c}"))
                aggs.append(F.max(c).alias(f"__max_{c}"))
            if t == "string":
                aggs.append(F.avg(F.length(c)).alias(f"__len_{c}"))
        row = df.agg(*aggs).head()
        masks = _live_masks(live_entries)
        live_files = _surviving_files(live_data_dirs, masks)
        stats: dict = {
            "version": version,
            "approx": bool(approx),
            "ts": time.time(),
            "rows": int(row["__rows"]),
            "live_files": len(live_files),
            "live_bytes": sum(Path(f).stat().st_size for f in live_files),
            "columns": {},
        }

        def _safe(v):
            import datetime as _dt
            from decimal import Decimal as _Dec

            if isinstance(v, (_dt.datetime, _dt.date)):
                return v.isoformat()
            if isinstance(v, _Dec):
                return str(v)
            return v

        for c in columns:
            cs = {
                "dtype": dtypes[c],
                "null_count": int(row[f"__nulls_{c}"]),
                "ndv": int(row[f"__ndv_{c}"]),
            }
            if f"__min_{c}" in row.__fields__:
                cs["min"] = _safe(row[f"__min_{c}"])
                cs["max"] = _safe(row[f"__max_{c}"])
            if f"__len_{c}" in row.__fields__ and row[f"__len_{c}"] is not None:
                cs["avg_len"] = round(float(row[f"__len_{c}"]), 4)
            stats["columns"][c] = cs
        adir = root / _ANALYZE_DIR
        adir.mkdir(exist_ok=True)
        final = adir / f"stats-v{version:08d}.json"
        tmp = adir / f".stats-{os.getpid()}.tmp"
        tmp.write_text(json.dumps(stats, indent=1, default=str))
        os.replace(tmp, final)
    return stats


def table_statistics(root: str | Path) -> dict | None:
    """The newest ANALYZE sidecar (:func:`analyze_table`), or None if
    the table was never analyzed. ``stale`` is set when commits landed
    after the analyzed version — the CBO-style freshness signal."""
    root = Path(root)
    adir = root / _ANALYZE_DIR
    files = sorted(adir.glob("stats-v*.json")) if adir.is_dir() else []
    if not files:
        return None
    stats = json.loads(files[-1].read_text())
    entries = _committed_entries(root)
    current = entries[-1]["version"] if entries else -1
    stats["stale"] = current > stats["version"]
    return stats


def vacuum(
    root: str | Path,
    keep_versions: int = 1,
    keep_last_hours: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Remove data directories unreachable from every RETAINED snapshot,
    plus orphans from crashed commits. Returns the removed directory
    names. Retention is the union of two knobs: the ``keep_versions``
    latest snapshots (structural floor, >= 1) and — when
    ``keep_last_hours`` is set — every version committed within that
    window (the Delta ``RETAIN N HOURS`` shape: time travel and
    restore stay possible for the whole audit window regardless of how
    many commits landed in it). Holds the writer lock: vacuum rewrites
    nothing but must not race a writer's not-yet-committed directory
    (it is indistinguishable from a crash orphan).

    Log entries of fully-vacuumed versions are retained — history stays
    auditable; reading such a version raises a clear error because its
    directory is gone (the caller sees WHICH version was retired).

    ``dry_run=True`` returns exactly what a real run would remove
    without touching anything — the answer to "how much does this
    retention policy reclaim, and does it eat a version I still need"
    BEFORE the irreversible step (the Delta VACUUM DRY RUN shape).
    """
    root = Path(root)
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")

    def _rmtree(p):
        if not dry_run:
            shutil.rmtree(p)

    def _unlink(p):
        if not dry_run:
            Path(p).unlink(missing_ok=True)

    with writer_lock(root, wait_seconds=_LOCK_WAIT):
        entries = _committed_entries(root)
        if not entries:
            return []
        keep = {e["version"] for e in entries[-keep_versions:]}
        if keep_last_hours is not None:
            cutoff = time.time() - 3600.0 * keep_last_hours
            # mtime-backfilled, monotone: a legacy no-ts entry neither
            # crashes retention nor silently falls out of the window
            eff = _effective_ts(root, entries)
            keep |= {v for v, ts in eff.items() if ts >= cutoff}
        reachable: set[str] = set()
        for v in keep:
            for d in live_dirs(root, v):
                reachable.add(Path(d).name)
        removed = []
        data = root / _DATA
        for d in sorted(data.iterdir()) if data.is_dir() else []:
            if d.name.startswith("stage-"):
                # an optimistic writer's in-flight staging directory
                # (its data write runs OUTSIDE the lock vacuum holds):
                # only a stale one — a crashed writer's orphan — may be
                # reclaimed
                if time.time() - d.stat().st_mtime > 24 * 3600.0:
                    _rmtree(d)
                    removed.append(d.name)
                continue
            if d.is_dir() and d.name not in reachable:
                _rmtree(d)
                removed.append(d.name)
        # streaming-sink staging (_sink_stage/): executors stage Arrow
        # parquet there before the commit hook publishes; a hard kill
        # between write() and commit() leaves orphans abort() never saw
        # — same 24 h stale rule as writer staging
        sink_stage = root / "_sink_stage"
        for f in sorted(sink_stage.iterdir()) if sink_stage.is_dir() else []:
            if time.time() - f.stat().st_mtime > 24 * 3600.0:
                _unlink(f)
                removed.append(f"_sink_stage/{f.name}")
        # change-data files: keep the feed for the retained version
        # window; drop older ones and crash orphans (cdf written,
        # commit link never happened)
        committed = {e["version"] for e in entries}
        min_keep = min(keep)
        cdf = root / _CDF
        for d in sorted(cdf.iterdir()) if cdf.is_dir() else []:
            if not d.is_dir():
                continue
            try:
                v = int(d.name.lstrip("c"))
            except ValueError:
                continue
            if v < min_keep or v not in committed:
                _rmtree(d)
                removed.append(f"{_CDF}/{d.name}")
        # bloom sidecars live and die with their commit directory: once
        # the data dir is unreachable (or was never committed — crash
        # orphan) the bitmaps index nothing
        side = root / _BLOOMS
        for f in sorted(side.iterdir()) if side.is_dir() else []:
            stem = f.name[: -len(".parquet")] if f.name.endswith(".parquet") else ""
            try:
                v = int(stem.lstrip("c"))
            except ValueError:
                continue
            if stem not in reachable or v not in committed:
                _unlink(f)
                removed.append(f"{_BLOOMS}/{f.name}")
        # deletion vectors: keep exactly those some retained version's
        # live set still references (orphans and overwritten-away DVs
        # drop out naturally)
        keep_dv: set[str] = set()
        for v in keep:
            live_v = [e for e in entries if e["version"] <= v]
            keep_dv |= {name for name, _ in _live_dv_refs(live_v)}
        dvdir = root / _DV
        for d in sorted(dvdir.iterdir()) if dvdir.is_dir() else []:
            if d.name.startswith("stage-"):
                if time.time() - d.stat().st_mtime > 24 * 3600.0:
                    _rmtree(d)
                    removed.append(f"{_DV}/{d.name}")
                continue
            if d.is_dir() and d.name not in keep_dv:
                _rmtree(d)
                removed.append(f"{_DV}/{d.name}")
        # superseded checkpoints: readers only ever load the newest, and
        # every entry it folds is still present raw (as tail JSON or in
        # the archive bundle — checkpoints are an optimization, never
        # the source of truth)
        cks = sorted((root / _VLOG).glob("ckpt-v*.parquet"))
        for ck in cks[:-1]:
            _unlink(ck)
            removed.append(f"{_VLOG}/{ck.name}")
        # a hard-killed writer can leave a *.tmp-<pid> staging file in the
        # log (the commit link never happened); they are invisible to
        # readers but worth reclaiming
        for tmp in (root / _VLOG).glob("*.tmp-*"):
            _unlink(tmp)
    if not dry_run:
        # bound the raw-JSON log alongside the data retention sweep
        # (lossless — full history moves into the archive bundle)
        archive_log(root)
    return removed


def purge_where(
    spark: SparkSession,
    root: str | Path,
    predicates: list[tuple],
    drop_change_data: bool = False,
) -> dict:
    """PHYSICAL erasure of matching rows — the GDPR/right-to-be-
    forgotten verb, composed from the primitives and then VERIFIED:

    1. ``delete_where_pruned`` removes the rows logically (zone-map/
       bloom-bounded rewrite of only the touched files);
    2. ``optimize`` folds the snapshot so no masked file or DV
       pre-image keeps the bytes reachable;
    3. ``vacuum(keep_versions=1)`` retires every superseded directory,
       DV sidecar and pre-purge change-data file — TIME TRAVEL BELOW
       THE PURGE IS GONE, which is the point;
    4. a verification scan reads EVERY parquet file still on disk
       under ``data/``, ``_cdf/`` AND ``_sink_stage/`` (a crashed
       stream writer's staged files can hold the rows too) and asserts
       zero rows match.

    A table with the change feed active wrote matching rows into
    change-data files — and which of those files hold them cannot be
    proven without scanning, so a physical purge drops the table's
    ENTIRE ``_cdf/`` tree: EVERY commit's at-rest change data, not
    just the purge-affected commits'. A CDC consumer mid-stream loses
    all unread at-rest history (it must re-sync from a snapshot). That
    trade-off is yours to make: pass ``drop_change_data=True`` to
    accept it, otherwise an active change feed REFUSES loudly.

    Cost at 100 TB: step 1 is O(files the predicate touches); step 2
    is the snapshot rewrite you schedule for maintenance windows
    anyway (run purges in batches); the verification scan reads only
    the predicate columns of the surviving files. Returns
    {purged_rows, vacuumed, verified}.
    """
    from pyspark.sql import functions as F

    root = Path(root)
    entries = _snapshot_entries(root)
    if _cf_active(entries) and not drop_change_data:
        raise ValueError(
            "purge_where on a change-feed table drops the table's ENTIRE "
            "at-rest change data (every commit's _cdf/ files, not just "
            "the purge-affected commits' — mid-stream CDC consumers lose "
            "unread history) — pass drop_change_data=True to accept that"
        )
    # translate the caller's LOGICAL names ONCE, against the same
    # snapshot the delete resolves: data files, masks and change data
    # all speak frozen PHYSICAL names, so the verification scan must
    # probe those — with logical names a renamed-column table would
    # fail the scan AFTER the irreversible optimize+vacuum already ran,
    # and a swap-rename (a->b, b->a) would probe the WRONG physical
    # column and report a false "verified"
    _, _, _live = _resolve(root, entries, None)
    phys_preds = _preds_to_physical(predicates, _column_mapping(_live))
    st = delete_where_pruned(spark, root, predicates)  # translates the same
    purged = st.get("deleted_rows", 0)
    optimize(spark, root)
    removed = vacuum(root, keep_versions=1)
    if drop_change_data:
        cdf = root / _CDF
        for d in sorted(cdf.iterdir()) if cdf.is_dir() else []:
            shutil.rmtree(d, ignore_errors=True)
    # verification: NOTHING left on disk may match — live, masked,
    # superseded, change-data, or SINK-STAGED (a stream writer hard-
    # killed inside vacuum's 24 h stale window leaves staged parquet
    # that can still hold the rows). Scan every parquet file present.
    leftovers: list[str] = []
    for base in (root / _DATA, root / _CDF, root / "_sink_stage"):
        if not base.is_dir():
            continue
        leftovers.extend(
            str(f) for f in sorted(base.rglob("*.parquet"))
        )
    n_left = 0
    if leftovers:
        scan = spark.read.option("mergeSchema", "true").parquet(*leftovers)
        cond = _predicate_cond(scan, phys_preds)
        n_left = scan.filter(
            F.coalesce(cond, F.lit(False))
        ).limit(1).count()
    if n_left:
        raise RuntimeError(
            f"purge verification FAILED: rows matching {predicates} "
            f"remain in {root} (check _sink_stage/ for staged files from "
            "a crashed stream writer) — do not report erasure"
        )
    return {
        "purged_rows": purged,
        "vacuumed": len(removed),
        "verified": True,
    }
