"""Single-writer guard shared by the persistent indexes.

The five persistent indexes share one commit protocol, the generation
store (`plans/_genstore.py`): write the next ``gen-NNNNN`` directory,
then atomically commit it by rewriting the manifest. That protocol is crash-safe for ONE writer, but two concurrent
writers both read ``meta['generations']``, target the same generation
directory, and each treats the other's in-flight directory as a crashed
orphan (``shutil.rmtree``) — the surviving manifest can then commit a
generation holding the *other* writer's rows, silently dropping admitted
chunks / band rows.

`writer_lock` makes the single-writer contract explicit and cheap to
enforce: an ``O_CREAT|O_EXCL`` lockfile in the index directory held for
the duration of every build/update/admit/compact. A lock left behind by
a crashed writer on the SAME host is broken automatically when its
recorded pid no longer exists; a lock whose pid is alive (or from
another host, where liveness can't be probed) raises
`ConcurrentWriterError` instead of risking a dropped generation.

Index *readers* never take the lock: the manifest commit is atomic
(`os.replace`), so readers always see a consistent committed state.
"""

from __future__ import annotations

import contextlib
import os
import socket
from pathlib import Path

LOCK_NAME = "_writer.lock"


class ConcurrentWriterError(RuntimeError):
    """Another build/update/admit/compact holds this index's writer lock."""


def _record_is_stale(text: str) -> bool:
    """A lock record is provably stale only if it was taken on THIS host
    by a pid that no longer exists. Anything unparseable or remote is
    treated as live — refusing is always safe, breaking is not."""
    try:
        fields = dict(
            line.split("=", 1) for line in text.splitlines() if "=" in line
        )
        if fields.get("host") != socket.gethostname():
            return False
        pid = int(fields["pid"])
    except (KeyError, ValueError):
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # exists, owned by someone else
    return False


def _read_lock_record(lock: Path):
    """(text, identity) read through ONE fd, so the record and the
    identity describe the same file — a stat after a separate read could
    describe a lockfile re-created in between. Identity is
    (st_dev, st_ino, text): inode alone is NOT sufficient (filesystems
    recycle a just-unlinked inode for the very next create) and content
    alone could false-match a recycled pid — requiring both makes a
    false match need an inode recycle AND an identical record."""
    fd = os.open(lock, os.O_RDONLY)
    try:
        st = os.fstat(fd)
        text = os.read(fd, 4096).decode(errors="replace")
    finally:
        os.close(fd)
    return text, (st.st_dev, st.st_ino, text)


def _break_stale(lock: Path, stale_ident: tuple) -> bool:
    """Claim the exclusive right to break a stale lock without the
    check-then-unlink TOCTOU: rename the lockfile to a unique tombstone
    (only one contender's rename of a given inode succeeds), then verify
    by (dev, inode, content) identity that the tombstone is the exact
    file we judged stale. If a live writer re-created the lockfile
    between the staleness read and the rename, we yanked THEIR lock —
    restore it with O_EXCL (never clobbering a third contender). If that
    restore loses to a third contender, the yanked writer's record is
    preserved in a ``.yanked-`` tombstone (auditable, never silently
    dropped) and we report failure; the yanked writer's own release is
    identity-guarded, so it cannot take the third contender's lock down
    with it."""
    tomb = lock.with_name(
        f"{lock.name}.stale-{os.getpid()}-{os.urandom(4).hex()}"
    )
    try:
        os.rename(lock, tomb)
    except FileNotFoundError:
        return True  # another contender broke it first; retry the acquire
    st = os.stat(tomb)
    try:
        captured = tomb.read_text()
    except OSError:
        captured = ""
    if (st.st_dev, st.st_ino, captured) == stale_ident:
        tomb.unlink(missing_ok=True)
        return True
    try:
        # restore by HARD LINK so the yanked writer's lock keeps its
        # ORIGINAL inode — an O_EXCL re-create would give it a fresh
        # inode, and the yanked writer's identity-guarded release would
        # then refuse to unlink it, stranding a live-pid lock no process
        # would ever remove; link also fails atomically (EEXIST) if a
        # third contender already took a fresh lock, never clobbering it
        os.link(tomb, lock)
        tomb.unlink(missing_ok=True)
    except FileExistsError:
        # a third contender already holds a fresh lock; keep the yanked
        # record on disk as evidence instead of silently discarding it
        os.replace(tomb, lock.with_name(f"{lock.name}.yanked-{os.urandom(4).hex()}"))
    except OSError:
        # filesystem without hard links (some FUSE/network mounts):
        # degrade to an O_EXCL re-create. The restored lock has a fresh
        # inode, so the yanked writer's release will leave it behind —
        # bounded damage: the record names a live pid, and the normal
        # stale-break clears it once that process exits. Strictly better
        # than propagating and leaving the lock path EMPTY (two writers).
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, captured.encode())
            os.close(fd)
            tomb.unlink(missing_ok=True)
        except FileExistsError:
            os.replace(
                tomb, lock.with_name(f"{lock.name}.yanked-{os.urandom(4).hex()}")
            )
    return False


@contextlib.contextmanager
def writer_lock(index_dir: str | Path, wait_seconds: float = 0.0):
    """Hold the index's exclusive writer lock for the duration of a
    mutation. Raises `ConcurrentWriterError` if another writer holds it.

    ``wait_seconds > 0`` polls for the lock instead of failing fast —
    the mode the versioned TABLE layer uses so concurrent writers
    QUEUE on the short commit critical section rather than erroring
    (indexes keep the fail-fast default: their mutations hold the lock
    for the whole build, so waiting would usually be a user mistake)."""
    import time as _time

    index_dir = Path(index_dir)
    index_dir.mkdir(parents=True, exist_ok=True)
    lock = index_dir / LOCK_NAME
    deadline = _time.monotonic() + wait_seconds
    stale_broken = False
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                txt, ident = _read_lock_record(lock)
            except OSError:
                txt = None
            if (
                not stale_broken
                and txt is not None
                and _record_is_stale(txt)
                and _break_stale(lock, ident)  # crashed same-host writer
            ):
                stale_broken = True
                continue
            if _time.monotonic() < deadline:
                _time.sleep(0.02)
                stale_broken = False  # a new holder may crash too
                continue
            raise ConcurrentWriterError(
                f"{index_dir} is being written by another process "
                f"(lock: {lock}); indexes are single-writer — retry after "
                "it finishes, or delete the lockfile if its owner crashed "
                "on another host"
            ) from None
    try:
        record = f"pid={os.getpid()}\nhost={socket.gethostname()}\n"
        os.write(fd, record.encode())
        my_st = os.fstat(fd)
        os.close(fd)
        my_ident = (my_st.st_dev, my_st.st_ino, record)
        yield
    finally:
        # identity-guarded release: if this writer's lock was wrongly
        # judged stale and yanked (and a contender since took a fresh
        # lock), unlinking by name would destroy the CONTENDER's lock —
        # only remove the exact file we created
        try:
            _txt, ident = _read_lock_record(lock)
            if ident == my_ident:
                lock.unlink(missing_ok=True)
        except OSError:
            pass
