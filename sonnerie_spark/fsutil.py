"""Durability and crash-safety primitives: the one commit protocol of
every persistent store in the package.

Rename-based publication (write under a tmp name, ``os.rename`` to the
visible name) is atomic against CONCURRENT READERS and safe under a
process kill, but not by itself durable under power loss: the data
blocks, the tmp files' directory entries, and the rename itself are all
in the page cache until the kernel flushes them, and the disk may make
the rename durable BEFORE the data it publishes. The reference pays for
the stronger contract explicitly — create_tx.rs:210-264 ``commit()``
flushes and ``sync_all``s the transaction file before the rename — so
the Spark engine does the same: fsync what is being published, rename,
then fsync the parent directory that now holds the new entry.

Every persistent store — the database (``db.py``), the dedup indexes
(``LshIndex``, ``ExactIndex``), the sketch stores (``HllStore``,
``BloomStore``, ``DdStore``), the IVF index metadata and the rollup
cursor — takes its locks, writes its JSON and names its temps with the
functions below, always under :func:`store_lock` when it mutates. The
database holds two named locks (``.commitlock`` for run publishes and
``BUCKETS``, ``.compact`` for compaction); only its multi-run
hide -> publish -> purge compaction plan, and that plan's roll-back /
roll-forward recovery, is specific to ``db.py``; a commit publishes a
fully written, fsynced run directory with one rename under the commit
lock. The primitives:

- **Own** (:class:`OwnedDir`, :func:`reap_unowned`): every in-flight
  write under the database root — a run being written, serve's PUT
  spool — lives in a ``.tmp-*`` directory whose creator holds an
  exclusive flock on it for as long as it may write. A run is written
  one level down, at ``<owned dir>/run``, and that subdirectory is what
  the commit renames: Spark's overwrite write replaces its output
  directory's inode, so a lock on the output directory itself would not
  survive the write. The janitor reaps a ``.tmp-*`` dir only when a
  non-blocking flock on it succeeds and its own mtime is past the
  horizon. The kernel drops a dead owner's lock, so liveness needs no
  pid, and a live writer in another pid namespace is seen too.

- **JSON** (:func:`write_json_atomic`): params, index metadata and
  cursors are written under a unique tmp name, fsynced, renamed over
  the visible name, and the directory fsynced. A reader sees the old
  file, the new file, or (before the first write) none — never a
  partial one.
- **Publish** (:func:`publish_generation`): a store's data is one
  directory, replaced whole. The new generation is written at a
  ``<data>.tmp-*`` (or ``.compact-*``) sibling, fsynced file by file,
  then ``rename(data -> data.old-<ns>)``, ``rename(tmp -> data)``, one
  fsync of the parent, and finally the backups beyond the store's
  allowance are dropped.
- **Recover** (:func:`recover_generation`, under the lock): a crash
  between the two renames leaves no data dir — the newest backup is
  restored (the interrupted write was never acknowledged, so the
  caller's retry re-applies it). Leftover ``.tmp-*``/``.compact-*``
  siblings and backups beyond the allowance are debris: a live writer
  would hold the lock the recoverer holds.
- **Load** (:func:`load_generation`): recover, then read. A corruption
  signal (``FileNotFoundError`` or ``ValueError``, which covers Arrow's
  ``ArrowInvalid`` and ``JSONDecodeError``) rolls back to the retained
  backup once; any other ``OSError`` is transient (EACCES, EMFILE, EIO)
  and propagates without touching either generation.

Backup allowance (``keep_backup``): the sketch stores keep ONE backup.
Their generation is dimension-sized, and a power loss can still surface
a renamed-but-torn generation on a filesystem that reorders metadata;
the backup is the last durable generation to roll back to. The dedup
indexes keep none: their generation is corpus-sized, so a retained copy
would double the index on disk, and compaction — their only swap — is a
pure rewrite that a retry redoes.

These run on the driver against a local/POSIX mount. On object stores
(S3 et al.) Spark's committers provide the durability contract instead
and these paths aren't used.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import shutil
import time


def fsync_file(path: str) -> None:
    """fsync one file by path."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def fsync_dir(path: str) -> None:
    """fsync a directory — makes its entries (creates/renames) durable.
    POSIX allows opening a directory O_RDONLY for exactly this."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def fsync_tree(path: str) -> None:
    """fsync every file and directory under ``path``, files before
    their directories (bottom-up): fsyncing only one file inside the
    tree leaves the rest — and the rename that publishes it — at the
    filesystem's mercy."""
    for root, _dirs, files in os.walk(path, topdown=False):
        for f in files:
            fsync_file(os.path.join(root, f))
        fsync_dir(root)


def snapshot_files(root: str) -> set[str]:
    """The set of file paths currently under ``root`` — take BEFORE an
    append so :func:`fsync_new_files` can sync only what the append
    wrote. Listing-only (no reads); cost is O(files under root), which
    the callers keep bounded (compacted index layouts)."""
    if not os.path.isdir(root):
        return set()
    # normalized exactly like fsync_new_files' walk, so a trailing
    # slash or relative root can't make the before-set match nothing
    # (which would re-fsync the whole tree on every append)
    root = os.path.abspath(root)
    out: set[str] = set()
    for r, _dirs, files in os.walk(root):
        for f in files:
            out.add(os.path.join(r, f))
    return out


def fsync_new_files(root: str, before: set[str]) -> None:
    """fsync every file under ``root`` that is not in ``before``, then
    the directories holding them and their ancestors up to ``root``
    (a new file in a NEW subdirectory needs the parent's entry for
    that subdirectory made durable too)."""
    if not os.path.isdir(root):
        return
    root = os.path.abspath(root)
    dirty: set[str] = set()
    for r, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            if p not in before:
                fsync_file(p)
                dirty.add(r)
    synced: set[str] = set()
    for d in dirty:
        cur = os.path.abspath(d)
        while cur not in synced and cur.startswith(root):
            fsync_dir(cur)
            synced.add(cur)
            if cur == root:
                break
            cur = os.path.dirname(cur)


@contextlib.contextmanager
def store_lock(root: str, name: str = ".lock", *, wait: bool = True):
    """Exclusive flock on ``root/<name>`` for the block; yields whether
    it is held (always, unless ``wait=False`` found it busy). The kernel
    drops it with the holder's fd, so a dead holder never wedges the
    store. Not reentrant: a second acquisition on a fresh fd in the
    same process deadlocks."""
    fd = os.open(os.path.join(root, name), os.O_CREAT | os.O_RDWR)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | (0 if wait else fcntl.LOCK_NB))
        except BlockingIOError:
            yield False
        else:
            yield True
    finally:
        os.close(fd)


def tmp_name(path: str, tag: str = ".tmp-") -> str:
    """A sibling name no other writer can pick: ``<path><tag><pid>-<ns>``."""
    return f"{path}{tag}{os.getpid()}-{time.time_ns():x}"


class OwnedDir:
    """A fresh ``tmp_name`` directory under ``parent``, owned by its
    creator: an exclusive flock on the directory itself is held from
    creation until :meth:`close`, which removes the directory with
    whatever is still in it and then releases the lock. A writer
    publishes by renaming its output OUT of the directory first."""

    def __init__(self, parent: str, tag: str = ".tmp-"):
        self.path = os.path.join(parent, tmp_name("", tag))
        os.mkdir(self.path)
        self._fd = os.open(self.path, os.O_RDONLY)
        fcntl.flock(self._fd, fcntl.LOCK_EX)

    def close(self) -> None:
        if self._fd is None:
            return
        try:
            shutil.rmtree(self.path, ignore_errors=True)
        finally:
            os.close(self._fd)
            self._fd = None

    def __enter__(self) -> "OwnedDir":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def reap_unowned(path: str, horizon: float) -> None:
    """Remove ``path`` if no :class:`OwnedDir` holder has it locked and
    its own mtime is more than ``horizon`` seconds old. The age guard
    covers the instant between an owner's mkdir and its flock."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        if time.time() - os.fstat(fd).st_mtime > horizon:
            shutil.rmtree(path, ignore_errors=True)
    except BlockingIOError:
        pass  # a live owner holds it
    finally:
        os.close(fd)


def rename_durable(src: str, dst: str, *, durable: bool = True) -> None:
    """``rename(src -> dst)``, then fsync the directory holding ``dst``."""
    os.rename(src, dst)
    if durable:
        fsync_dir(os.path.dirname(dst) or ".")


def write_json_atomic(path: str, obj, *, durable: bool = True) -> None:
    """Replace ``path`` with ``obj`` as JSON: unique tmp name, fsync,
    rename, fsync of the parent. ``durable=False`` keeps only the
    rename's process-kill atomicity."""
    tmp = tmp_name(path)
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        if durable:
            fsync_file(tmp)
        rename_durable(tmp, path, durable=durable)
    except BaseException:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise


def _backups(data: str) -> list[str]:
    """``<data>.old-*`` oldest first (hex-ns suffixes sort by age). The
    pattern is glob-escaped: an unescaped ``corpus[v2]`` would match
    nothing and silently disable the restore."""
    return sorted(glob.glob(glob.escape(data) + ".old-*"))


def _excess(backs: list[str], keep_backup: bool) -> list[str]:
    """The backups beyond the allowance: all but the newest, or all."""
    return backs[:-1] if keep_backup else backs


def publish_generation(data: str, tmp: str, *, keep_backup: bool) -> None:
    """Make the fully written directory ``tmp`` the current generation
    at ``data`` (caller holds the store lock). The replaced generation
    becomes a ``.old-*`` backup; afterwards only the newest backup
    remains if ``keep_backup``, else none."""
    fsync_tree(tmp)
    if os.path.isdir(data):
        os.rename(data, data + f".old-{time.time_ns():x}")
    rename_durable(tmp, data)  # both renames durable before any purge
    for stale in _excess(_backups(data), keep_backup):
        shutil.rmtree(stale, ignore_errors=True)


def recover_generation(data: str, *, keep_backup: bool) -> None:
    """Crash recovery for :func:`publish_generation` (caller holds the
    store lock): restore the newest backup if ``data`` is missing, then
    reap ``.tmp-*``/``.compact-*`` debris and backups beyond
    ``keep_backup``."""
    backs = _backups(data)
    if not os.path.isdir(data) and backs:
        rename_durable(backs.pop(), data)
    debris = glob.glob(glob.escape(data) + ".tmp-*")
    debris += glob.glob(glob.escape(data) + ".compact-*")
    for stale in _excess(backs, keep_backup) + debris:
        shutil.rmtree(stale, ignore_errors=True)


def load_generation(data: str, read, label: str):
    """``read(data)`` of the current generation of a store that keeps a
    backup, after :func:`recover_generation` (caller holds the store
    lock); None if nothing was published yet. A corruption signal rolls
    back to the backup once — the torn write was never acknowledged
    durable, so the producer's retry re-applies it. If the backup is
    unreadable too, a RuntimeError names ``label``. Any other OSError
    propagates and destroys nothing."""
    recover_generation(data, keep_backup=True)
    if not os.path.isdir(data):
        return None
    try:
        return read(data)
    except (FileNotFoundError, ValueError):
        if not _backups(data):
            raise
        shutil.rmtree(data)
        recover_generation(data, keep_backup=True)
    try:
        return read(data)
    except (FileNotFoundError, ValueError) as e:
        raise RuntimeError(
            f"{label}: current generation was corrupt and the restored "
            f"backup is ALSO unreadable ({type(e).__name__}: {e}); the "
            "store cannot recover — rebuild it by replaying the source "
            "batches into a fresh path"
        ) from e
