"""Persistent chunk-index invariants (plans/chunk_index.py): incremental
== full rebuild, update transfer == upload_delta, idempotent re-admit,
O(novel) generation files, params pinned in the manifest."""

import glob
import json

import pytest

from dataset_dedupe_estimator_spark.plans.chunk_index import (
    STORE,
    build_index,
    index_stats,
    update_index,
)
from dataset_dedupe_estimator_spark.plans.estimate import upload_delta

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def snapshots():
    paths = sorted(glob.glob(f"{SF}/*.parquet"))
    assert len(paths) >= 4
    return paths[: len(paths) // 2], paths[len(paths) // 2 :]


def test_incremental_equals_full_rebuild(spark, tmp_path, snapshots):
    old, new = snapshots
    inc_dir, full_dir = tmp_path / "inc", tmp_path / "full"
    build_index(spark, old, inc_dir)
    update_index(spark, new, inc_dir)
    build_index(spark, old + new, full_dir)
    inc = {r.hash for r in STORE.read(spark, inc_dir).select("hash").collect()}
    full = {r.hash for r in STORE.read(spark, full_dir).select("hash").collect()}
    assert inc == full


def test_update_transfer_matches_upload_delta(spark, tmp_path, snapshots):
    old, new = snapshots
    idx = tmp_path / "idx"
    build_index(spark, old, idx)
    stats = update_index(spark, new, idx)
    delta = upload_delta(spark, old, new)
    total = delta.agg({"novel_bytes": "sum"}).collect()[0][0]
    assert stats["novel_bytes"] == total


def test_readmit_is_noop_and_o_novel(spark, tmp_path, snapshots):
    old, _ = snapshots
    idx = tmp_path / "idx"
    build_index(spark, old, idx)
    again = update_index(spark, old, idx)
    assert again["novel_chunks"] == 0 and again["novel_bytes"] == 0
    assert again["transfer_ratio"] == 0.0
    # the re-admit generation holds no data rows: append cost is O(novel)
    row = index_stats(spark, idx).collect()[0]
    assert row.generations == 2
    meta = json.loads((idx / "_index_meta.json").read_text())
    assert meta["snapshots"][1]["novel_chunks"] == 0


def test_build_refuses_existing_and_pins_params(spark, tmp_path, snapshots):
    from dataset_dedupe_estimator_spark.operators.chunker import ChunkerParams

    old, _ = snapshots
    idx = tmp_path / "idx"
    build_index(spark, old, idx, params=ChunkerParams(min_size=1024, mask_bits=12))
    meta = json.loads((idx / "_index_meta.json").read_text())
    assert meta["params"]["min_size"] == 1024
    assert meta["params"]["mask_bits"] == 12
    with pytest.raises(FileExistsError):
        build_index(spark, old, idx)


def test_streaming_admission_exactly_once(spark, tmp_path, snapshots):
    """admit_stream: each availableNow pass admits only files the
    checkpoint has not seen; the index ends identical to a full rebuild."""
    from dataset_dedupe_estimator_spark.streaming.incremental import admit_stream

    old, new = snapshots
    watch = tmp_path / "watch"
    watch.mkdir()
    idx, ckpt = tmp_path / "idx", str(tmp_path / "ckpt")
    build_index(spark, old, idx)

    import shutil

    shutil.copy(new[0], watch / "a.parquet")
    first = admit_stream(spark, str(watch), idx, ckpt)
    assert len(first) == 1 and first[0]["generation"] == 1

    shutil.copy(new[1], watch / "b.parquet")
    second = admit_stream(spark, str(watch), idx, ckpt)
    # only the unseen file is admitted; a.parquet is not re-chunked
    import os

    assert len(second) == 1
    assert second[0]["snapshot_bytes"] == os.path.getsize(new[1])
    assert first[0]["snapshot_bytes"] == os.path.getsize(new[0])

    full_dir = tmp_path / "full"
    build_index(spark, old + [new[0], new[1]], full_dir)
    inc = {r.hash for r in STORE.read(spark, idx).select("hash").collect()}
    full = {r.hash for r in STORE.read(spark, full_dir).select("hash").collect()}
    assert inc == full

    # drained: a third pass with nothing new creates no generation
    third = admit_stream(spark, str(watch), idx, ckpt)
    assert third == []


def test_update_refuses_foreign_identity_hash(spark, tmp_path, snapshots):
    old, _ = snapshots
    idx = tmp_path / "idx"
    build_index(spark, old, idx)
    meta = json.loads((idx / "_index_meta.json").read_text())
    meta["identity_hash"] = "blake2b-64"
    (idx / "_index_meta.json").write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="identity hash"):
        update_index(spark, old, idx)
    # the realistic migration case (r12): an index built under the old
    # xxh64 default refuses updates from the xxh3-64 engine — its hashes
    # are incomparable, so a silent update would report ~100% novel
    meta["identity_hash"] = "xxh64"
    (idx / "_index_meta.json").write_text(json.dumps(meta))
    from dataset_dedupe_estimator_spark.operators.chunker import (
        IDENTITY_HASH,
    )

    if IDENTITY_HASH == "xxh3-64":
        with pytest.raises(ValueError, match="identity hash"):
            update_index(spark, old, idx)


def test_compact_index_preserves_store_and_admission(spark, tmp_path, snapshots):
    from dataset_dedupe_estimator_spark.plans.chunk_index import compact_index

    old, new = snapshots
    idx = tmp_path / "idx"
    build_index(spark, old, idx)
    update_index(spark, [new[0]], idx)
    before = {r.hash for r in STORE.read(spark, idx).select("hash").collect()}
    st = compact_index(spark, idx)
    assert st["merged_generations"] == 2 and st["chunks"] == len(before)
    # superseded generation dirs are gone; store unchanged
    assert sorted(p.name for p in idx.glob("gen-*.parquet")) == ["gen-00002.parquet"]
    after = {r.hash for r in STORE.read(spark, idx).select("hash").collect()}
    assert after == before
    # admission continues on the compacted index with correct numbering
    st2 = update_index(spark, [new[1]], idx)
    assert st2["generation"] == 3
    row = index_stats(spark, idx).collect()[0]
    assert row.unique_chunks >= len(before)


def test_single_writer_lock_refuses_concurrent_mutation(spark, tmp_path, snapshots):
    """Index mutations are single-writer: while one writer holds the
    lock, a second build/update/compact raises instead of clobbering the
    in-flight generation (ADVICE r3)."""
    from dataset_dedupe_estimator_spark.plans._index_lock import (
        ConcurrentWriterError,
        writer_lock,
    )
    from dataset_dedupe_estimator_spark.plans.chunk_index import compact_index

    old, new = snapshots
    idx = tmp_path / "idx"
    build_index(spark, old, idx)
    lock = idx / "_writer.lock"
    # a live same-host writer: lock bearing our own (alive) pid
    import os
    import socket

    lock.write_text(f"pid={os.getpid()}\nhost={socket.gethostname()}\n")
    with pytest.raises(ConcurrentWriterError):
        update_index(spark, new, idx)
    with pytest.raises(ConcurrentWriterError):
        compact_index(spark, idx)
    # a crashed same-host writer (dead pid) is broken automatically
    lock.write_text(f"pid=999999999\nhost={socket.gethostname()}\n")
    stats = update_index(spark, new, idx)
    assert stats["generation"] == 1
    assert not lock.exists()
    # the lock never outlives a successful mutation
    with writer_lock(idx):
        assert lock.exists()
    assert not lock.exists()


def test_lock_staleness_parser():
    """_record_is_stale: only a same-host dead-pid lock is breakable;
    malformed, remote, or live locks always refuse."""
    import os
    import socket

    from dataset_dedupe_estimator_spark.plans._index_lock import _record_is_stale

    host = socket.gethostname()
    assert _record_is_stale(f"pid=999999999\nhost={host}\n")
    assert not _record_is_stale(f"pid={os.getpid()}\nhost={host}\n")
    assert not _record_is_stale(f"pid=999999999\nhost=elsewhere\n")
    assert not _record_is_stale("garbage")
    assert not _record_is_stale(f"host={host}\n")  # no pid
    assert not _record_is_stale(f"pid=notanint\nhost={host}\n")


def test_break_stale_restores_a_yanked_live_lock(tmp_path):
    """TOCTOU guard (ADVICE r4+r5): if a new live writer re-created the
    lockfile between a contender's staleness check and its rename, the
    contender must detect the INODE change (content could false-match a
    recycled pid), put the live lock back, and report failure — never
    leaving two writers both acquired."""
    import os
    import socket

    from dataset_dedupe_estimator_spark.plans._index_lock import (
        _break_stale,
        _read_lock_record,
    )

    lock = tmp_path / "_writer.lock"
    stale_text = f"pid=999999999\nhost={socket.gethostname()}\n"
    live_text = f"pid={os.getpid()}\nhost={socket.gethostname()}\n"

    # normal break: the inode is still the one we judged stale
    lock.write_text(stale_text)
    _txt, ino = _read_lock_record(lock)
    assert _break_stale(lock, ino)
    assert not lock.exists()
    assert not list(tmp_path.glob("_writer.lock.stale-*"))

    # raced break: a live writer re-created the file (new inode) after
    # the staleness read
    lock.write_text(stale_text)
    _txt, stale_ino = _read_lock_record(lock)
    lock.unlink()
    lock.write_text(live_text)  # fresh inode
    assert not _break_stale(lock, stale_ino)
    assert lock.read_text() == live_text  # restored, not stolen
    assert not list(tmp_path.glob("_writer.lock.stale-*"))

    # lock vanished before the rename: another contender broke it first
    assert _break_stale(lock.with_name("gone.lock"), stale_ino)


def test_break_stale_restore_loses_keeps_yanked_evidence(tmp_path, monkeypatch):
    """Third-contender race (ADVICE r5): if the O_EXCL restore of a
    wrongly-yanked live lock loses to a fresh lock, the yanked record
    must survive as a .yanked- tombstone (auditable), the fresh lock
    must be untouched, and the break must report failure."""
    import os
    import socket

    import dataset_dedupe_estimator_spark.plans._index_lock as il

    lock = tmp_path / "_writer.lock"
    live_text = f"pid={os.getpid()}\nhost={socket.gethostname()}\n"
    third_text = f"pid=12345\nhost={socket.gethostname()}\n"

    lock.write_text("pid=999999999\nhost=x\n")
    _txt, stale_ino = il._read_lock_record(lock)
    lock.unlink()
    lock.write_text(live_text)  # the live writer we are about to yank

    real_link = os.link

    def racing_link(src, dst, *a, **kw):
        # a third contender O_EXCL-creates the lock between our rename
        # and our hard-link restore attempt
        if str(dst) == str(lock):
            lock.write_text(third_text)
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(il.os, "link", racing_link)
    assert not il._break_stale(lock, stale_ino)
    assert lock.read_text() == third_text  # third contender keeps the lock
    yanked = list(tmp_path.glob("_writer.lock.yanked-*"))
    assert len(yanked) == 1 and yanked[0].read_text() == live_text


def test_release_is_inode_guarded(tmp_path):
    """A writer whose lock was yanked and replaced must NOT unlink the
    replacement at release — only the exact file it created."""
    import os
    import socket

    from dataset_dedupe_estimator_spark.plans._index_lock import (
        LOCK_NAME,
        writer_lock,
    )

    lock = tmp_path / LOCK_NAME
    other = f"pid=424242\nhost={socket.gethostname()}\n"
    with writer_lock(tmp_path):
        assert lock.exists()
        # simulate the yank-and-replace: same path, fresh inode
        lock.unlink()
        lock.write_text(other)
    assert lock.exists() and lock.read_text() == other  # left alone
    lock.unlink()
    # normal path still cleans up
    with writer_lock(tmp_path):
        assert lock.exists()
    assert not lock.exists()


def test_break_stale_restore_preserves_inode(tmp_path):
    """A wrongly-yanked live lock must be restored with its ORIGINAL
    inode (hard link of the tombstone), so the yanked writer's
    identity-guarded release can still remove it — an O_EXCL re-create
    would strand a live-pid lock forever (ADVICE-class follow-up)."""
    import os
    import socket

    from dataset_dedupe_estimator_spark.plans._index_lock import (
        _break_stale,
        _read_lock_record,
    )

    lock = tmp_path / "_writer.lock"
    # stale record captured by contender A
    lock.write_text("pid=999999999\nhost=elsewhere-stale\n")
    _t, stale_ident = _read_lock_record(lock)
    lock.unlink()
    # live writer B takes the lock (fresh inode + record)
    live = f"pid={os.getpid()}\nhost={socket.gethostname()}\n"
    lock.write_text(live)
    _t, b_ident = _read_lock_record(lock)
    # A's break yanks B's lock, detects the mismatch, restores
    assert not _break_stale(lock, stale_ident)
    _t, after_ident = _read_lock_record(lock)
    assert after_ident == b_ident  # same inode AND content: B can release


def test_observed_report_matches_generation_on_disk(spark, tmp_path, snapshots):
    """r14: novel-chunk accounting rides the generation write as
    observed metrics instead of a read-back — reported counts/bytes
    must equal what actually landed on disk (build and update)."""
    first, rest = snapshots
    idx = tmp_path / "obschunk"
    b = build_index(spark, first, idx)
    import pyspark.sql.functions as F
    g0 = spark.read.parquet(str(idx / "gen-00000.parquet"))
    n0, s0 = g0.agg(F.count(F.lit(1)), F.sum("size")).collect()[0]
    assert b["novel_chunks"] == n0 > 0
    rep = update_index(spark, first + rest, idx)
    g1 = spark.read.parquet(str(idx / "gen-00001.parquet"))
    n1, s1 = g1.agg(F.count(F.lit(1)), F.sum("size")).collect()[0]
    assert rep["novel_chunks"] == n1 > 0
    assert rep["novel_bytes"] == s1  # no resurrections in this history
    with open(idx / "_index_meta.json") as f:
        meta = json.load(f)
    assert meta["snapshots"][0]["novel_bytes"] == s0
    assert meta["snapshots"][1]["novel_chunks"] == n1
