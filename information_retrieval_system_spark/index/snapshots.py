"""Snapshot log + time-travel reads over the written index layout —
the Iceberg metadata pattern EXECUTED on plain parquet (this sandbox
has no Iceberg jars; each piece maps 1:1 to its Iceberg analog and the
call sites would swap to real Iceberg commits unchanged):

- ``snapshots.json``  <->  table ``metadata.json`` + snapshot list
- ``v<N>/`` immutable snapshot dir  <->  a snapshot's manifest/data set.
  A streaming merge (``streaming.incremental.merge_into_snapshot``)
  hard-links its parent's data files into ``v<N>/`` and adds one delta
  segment, as Iceberg manifests share data files between snapshots; so
  no parquet file under a snapshot is ever rewritten in place.
- ``claim_snapshot`` + ``append_log`` (``commit_snapshot`` for a whole
  index)  <->  an append/rewrite commit (new snapshot id, parent
  pointer, operation tag); a commit that names its parent is refused
  unless that parent is still current, as a catalog's CAS commit is
- ``read_snapshot(root, snapshot_id=K)``  <->  time travel
  (``VERSION AS OF K``)
- atomic ``os.replace`` of the log  <->  the catalog's atomic metadata
  pointer swap: a writer never mutates an existing ``v<N>`` directory,
  so concurrent readers of any older snapshot are unaffected.
- ``expire_snapshots``  <->  ``expireSnapshots`` plus orphan-file
  cleanup: a committer that dies before its log append leaves an
  unlogged ``v<N>``, collected once its claim lock is free.

Lineage is the parent chain; per-snapshot ``note``/``operation`` record
WHY a snapshot exists (initial build, streaming merge, delete,
re-crawl) — the audit trail a production index needs.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

from ..config import DEFAULT_CONFIG, EngineConfig
from .builder import IndexTables, read_index, write_index


def _log_path(root: str) -> str:
    return os.path.join(root, "snapshots.json")


@contextmanager
def _log_lock(root: str, timeout_sec: float = 120.0):
    """Exclusive kernel flock on ``snapshots.json.lock``.  Blocks (with
    a loud timeout) until acquired; released on close — including by
    the kernel if the holder dies, so there is no stale-lock state and
    no recovery TOCTOU (an O_EXCL lock file needs stale-owner recovery,
    and removing a stale owner's file can kill a new owner's lock).
    flock contends per open-file-description, so racing threads in one
    process serialize too."""
    lock = _log_path(root) + ".lock"
    deadline = time.monotonic() + timeout_sec
    while (fd := _try_lock(lock)) is None:
        if time.monotonic() > deadline:
            raise TimeoutError(f"could not acquire snapshot log lock {lock}")
        time.sleep(0.05)
    try:
        yield
    finally:
        os.close(fd)  # releases the flock


def snapshot_log(root: str) -> list[dict]:
    p = _log_path(root)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def current_snapshot_id(root: str) -> int | None:
    log = snapshot_log(root)
    return log[-1]["id"] if log else None


def _try_lock(path: str) -> int | None:
    """An fd holding an exclusive flock on ``path`` (created if missing),
    or None when another open file holds it.  A lock whose file was
    unlinked or replaced after the open is no lock (``_unlock`` unlinks
    the file it held), so the inode is checked once the flock is held."""
    fd = os.open(path, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        if os.fstat(fd).st_ino == os.stat(path).st_ino:
            return fd
    except (BlockingIOError, FileNotFoundError):
        pass
    os.close(fd)
    return None


def _unlock(path: str, fd: int) -> None:
    os.unlink(path)
    os.close(fd)  # releases the flock


@contextmanager
def claim_snapshot(root: str):
    """Claim a new snapshot id: yields ``(sid, dir)`` with ``v<sid>/``
    created empty and an flock held on ``v<sid>.lock`` until the block
    exits, which must append the log entry (``append_log``) last.

    The lock is taken before the ``mkdir``, the atomic claim (a racing
    committer gets ``FileExistsError`` or the held lock and moves on to
    the next id, so no two writers share a directory).  While it is held,
    ``expire_snapshots`` leaves the unlogged directory alone; the kernel
    drops it when the committer dies, and the orphan is collected.  A
    block that raises removes its directory."""
    os.makedirs(root, exist_ok=True)
    sid = max((e["id"] for e in snapshot_log(root)), default=0) + 1
    while True:
        lock = os.path.join(root, f"v{sid}.lock")
        fd = _try_lock(lock)
        if fd is not None:
            sdir = os.path.join(root, f"v{sid}")
            try:
                os.mkdir(sdir)
                break
            except FileExistsError:  # an old or orphaned directory
                _unlock(lock, fd)
        sid += 1
    try:
        yield sid, sdir
    except BaseException:
        shutil.rmtree(sdir, ignore_errors=True)
        raise
    finally:
        _unlock(lock, fd)


class StaleParentError(RuntimeError):
    """A commit built on a snapshot that is no longer the current one."""


def append_log(root: str, sid: int, stats: dict, operation: str = "append",
               note: str = "", parent: int | None = None,
               extra: dict | None = None) -> int:
    """Append snapshot ``sid`` to the log (the atomic pointer swap) and
    return it.  ``parent`` defaults to the last committed entry.  A given
    ``parent`` is compared and swapped, as a catalog's commit is: when it
    is not the last committed entry, a commit built on it would drop what
    landed since, so the log is left unchanged and ``StaleParentError``
    is raised."""
    # read-modify-replace under the log flock (single-host; on a shared
    # filesystem the production analog is the catalog's CAS commit)
    with _log_lock(root):
        log = snapshot_log(root)  # re-read under the lock
        head = log[-1]["id"] if log else None
        if parent is None:
            parent = head
        elif parent != head:
            raise StaleParentError(
                f"snapshot v{sid} was built on v{parent}, but v{head} is current")
        entry = {
            "id": sid,
            "parent": parent,
            "operation": operation,
            "note": note,
            "n_docs": stats.get("n_docs"),
            "n_postings": stats.get("n_postings"),
            "dir": f"v{sid}",
            # operation-specific metadata (e.g. merge_into_snapshot's
            # delta batch watermark and segment count) rides the entry
            **(extra or {}),
        }
        tmp = _log_path(root) + f".tmp{sid}"
        with open(tmp, "w") as f:
            json.dump(log + [entry], f, indent=2)
        os.replace(tmp, _log_path(root))
    return sid


def commit_snapshot(
    tables: IndexTables,
    root: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    operation: str = "append",
    note: str = "",
) -> int:
    """Write the tables as a NEW immutable snapshot and append it to the
    log.  Returns the new snapshot id.

    Concurrency-safe like an Iceberg CAS commit, with two separate
    atomic steps so the slow data write runs WITHOUT the log lock held:
    the id claim (``claim_snapshot``), then the log append under an
    exclusive kernel flock (``append_log``), RE-READING the log inside
    the lock — a committer that claimed a lower id but finished later
    appends later, so ``log[-1]`` is always the latest COMMITTED snapshot
    (commit order, like a catalog's pointer swap) and no entry can be
    silently dropped.
    """
    with claim_snapshot(root) as (sid, sdir):
        write_index(tables, sdir, cfg)
        return append_log(root, sid, tables.stats, operation, note)


def read_snapshot(
    spark: SparkSession, root: str, snapshot_id: int | None = None
) -> IndexTables:
    """Time-travel read: ``snapshot_id=None`` reads the current snapshot,
    any earlier id reads that version byte-for-byte (its directory is
    never rewritten by later commits)."""
    log = snapshot_log(root)
    if not log:
        raise FileNotFoundError(f"no snapshots at {root}")
    if snapshot_id is None:
        entry = log[-1]
    else:
        matches = [e for e in log if e["id"] == snapshot_id]
        if not matches:
            raise KeyError(f"snapshot {snapshot_id} not in log {[e['id'] for e in log]}")
        entry = matches[0]
    return read_index(spark, os.path.join(root, entry["dir"]))


def expire_snapshots(root: str, keep_last: int = 2) -> list[int]:
    """Retention GC — the ``expireSnapshots`` analog: keep the last
    ``keep_last`` COMMITTED snapshots (commit order, i.e. the log
    tail), delete every older snapshot's ``v<K>`` directory and drop
    its log entry.  A retained entry whose parent was expired gets its
    parent pointer truncated to the nearest RETAINED ancestor (or
    ``None``), with the original id preserved as ``expired_parent`` —
    so ``snapshot_lineage`` keeps working on a self-consistent log and
    the truncation stays auditable.  Runs entirely under the commit
    lock: a racing ``commit_snapshot`` either lands before the horizon
    is computed or appends after the rewritten log — never
    half-expired.

    It also collects what dead committers left: an unlogged ``v<K>``
    directory (or ``v<K>.lock``) whose claim lock it can take, and
    temporary log files.  A live claim holds its lock and is left alone.

    Returns the expired snapshot ids (empty when nothing to do).
    Snapshots share unchanged files by hard link, so deleting a
    directory never touches a retained snapshot's data.  Readers that
    already opened an expired snapshot keep working until their
    DataFrames are re-planned — same contract as Iceberg: expire only
    what no one should still be time-traveling to.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    with _log_lock(root):
        log = snapshot_log(root)
        expired = log[:-keep_last]
        if expired:
            log = _expire_entries(root, log, keep_last)
        for e in expired:  # after the pointer swap, drop the data dirs
            shutil.rmtree(os.path.join(root, e["dir"]), ignore_errors=True)
        logged = {e["dir"] for e in log}
        for name in sorted(os.listdir(root)):
            m = re.fullmatch(r"(v\d+)(\.lock)?", name)
            if name.startswith("snapshots.json.tmp"):
                os.remove(os.path.join(root, name))
            elif m and m.group(1) not in logged:
                lock = os.path.join(root, m.group(1) + ".lock")
                fd = _try_lock(lock)
                if fd is not None:
                    shutil.rmtree(os.path.join(root, m.group(1)), ignore_errors=True)
                    _unlock(lock, fd)
        return [e["id"] for e in expired]


def _expire_entries(root: str, log: list[dict], keep_last: int) -> list[dict]:
    """Rewrite the log to its last ``keep_last`` entries (see
    ``expire_snapshots``); returns the rewritten log."""
    by_id = {e["id"]: e for e in log}
    keep_ids = {e["id"] for e in log[-keep_last:]}
    expired = log[:-keep_last]

    def nearest_retained(sid: int | None) -> int | None:
        while sid is not None and sid not in keep_ids:
            sid = by_id[sid]["parent"] if sid in by_id else None
        return sid

    kept_log = []
    for e in log[-keep_last:]:
        e = dict(e)
        if e["parent"] is not None and e["parent"] not in keep_ids:
            e["expired_parent"] = e["parent"]
            e["parent"] = nearest_retained(e["parent"])
        kept_log.append(e)
    # merge_into_snapshot's delta watermark is max(merge_watermark)
    # over log ENTRIES; if the only entries carrying it are being
    # expired (e.g. plain commit_snapshot commits, such as a re-crawl,
    # landed after the last merge), the rewritten log would reset it
    # to -1 and the next merge would re-consume every already-merged
    # delta batch.  Carry the expired maximum onto the oldest
    # retained entry.
    expired_wm = max((e.get("merge_watermark", -1) for e in expired), default=-1)
    kept_wm = max((e.get("merge_watermark", -1) for e in kept_log), default=-1)
    if expired_wm > kept_wm:
        kept_log[0]["merge_watermark"] = expired_wm
    tmp = _log_path(root) + ".tmp.expire"
    with open(tmp, "w") as f:
        json.dump(kept_log, f, indent=2)
    os.replace(tmp, _log_path(root))  # atomic pointer swap
    return kept_log


def snapshot_lineage(root: str, snapshot_id: int | None = None) -> list[dict]:
    """Walk the parent chain from ``snapshot_id`` (default: current)
    back to the initial snapshot — newest first.

    "Current" is the LAST COMMITTED entry (``log[-1]``), matching
    ``current_snapshot_id``/``read_snapshot`` — NOT ``max(id)``: under
    the CAS commit protocol a lower id can commit after a higher one,
    and the two notions would diverge."""
    entries = snapshot_log(root)
    log = {e["id"]: e for e in entries}
    if not log:
        return []
    sid = snapshot_id if snapshot_id is not None else entries[-1]["id"]
    chain = []
    while sid is not None:
        e = log[sid]
        chain.append(e)
        sid = e["parent"]
    return chain
