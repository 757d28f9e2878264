"""Segmented merge commits: a merge hard-links its parent's files and adds
one delta segment, folds at ``SEGMENT_LIMIT``, and equals a from-scratch
build after every commit; a committer killed at any step leaves the
previous snapshot current and an orphan that ``expire_snapshots``
collects."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index, data_files
from information_retrieval_system_spark.index import snapshots
from information_retrieval_system_spark.index.snapshots import (
    StaleParentError, append_log, claim_snapshot, commit_snapshot, expire_snapshots,
    read_snapshot, snapshot_log)
from information_retrieval_system_spark.query.scoring import bm25_search
from information_retrieval_system_spark.streaming import incremental
from information_retrieval_system_spark.streaming.incremental import (
    _process_batch_factory, merge_into_snapshot)

CFG = EngineConfig(use_stopwords=False, use_stemmer=False)
QUERY = "spark retrieval index data"


def inodes(snap_dir: str) -> dict[str, int]:
    """relative path -> inode of every postings and docs data file."""
    return {os.path.relpath(f, snap_dir): os.stat(f).st_ino
            for t in ("postings", "docs") for f in data_files(os.path.join(snap_dir, t))}


def state(spark, ix) -> tuple:
    """(terms, norms, stats, bm25 top-k) of an index, for equality."""
    qt = analyze_query_terms(spark, QUERY, CFG)
    return (sorted((r.term, r.df, r.cf) for r in ix.terms.collect()),
            sorted((r.doc_id, round(r.norm, 6)) for r in ix.docs.collect()),
            {k: ix.stats[k] for k in ("n_docs", "avgdl", "total_len", "n_postings")},
            [(r.doc_id, round(r.score, 9)) for r in bm25_search(ix, qt, k=20, cfg=CFG).collect()])


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/documents.parquet").select("doc_id", "text")


def test_segmented_merges_equal_batch_build(spark, docs, tmp_path, monkeypatch):
    """12 merges of 30-doc deltas into a 140-doc base, folding at 5
    segments (twice):
    after each one the snapshot equals a from-scratch build; an appended
    snapshot shares its parent's files (same inodes) and adds exactly one
    postings and one docs file; an older snapshot reads the same after
    later commits and after its parent is expired."""
    root, delta = str(tmp_path / "snaps"), str(tmp_path / "delta")
    commit_snapshot(build_index(docs.filter("doc_id < 140"), CFG, doc_col="doc_id",
                                text_col="text"), root, CFG)
    process = _process_batch_factory(delta, CFG, "doc_id", "text")
    monkeypatch.setattr(incremental, "SEGMENT_LIMIT", 5)
    n_merges = 12
    kept = None
    for i in range(n_merges):
        lo, hi = 140 + 30 * i, 140 + 30 * (i + 1)
        process(docs.filter(f"doc_id >= {lo} AND doc_id < {hi}"), i)
        parent = snapshot_log(root)[-1]
        sid = merge_into_snapshot(spark, root, delta, CFG)
        entry = snapshot_log(root)[-1]
        assert entry["id"] == sid and entry["parent"] == parent["id"]
        folded = parent.get("segments", 1) == incremental.SEGMENT_LIMIT
        assert entry["segments"] == (1 if folded else parent.get("segments", 1) + 1)

        got = state(spark, read_snapshot(spark, root))
        full = build_index(docs.filter(f"doc_id < {hi}"), CFG, doc_col="doc_id",
                           text_col="text")
        assert got == state(spark, full), i

        old, new = (inodes(os.path.join(root, e["dir"])) for e in (parent, entry))
        shared = set(old.values()) & set(new.values())
        if folded:
            assert not shared
        else:
            assert all(new[p] == ino for p, ino in old.items())
            added = [p for p in new if p not in old]
            assert sorted(p.split(os.sep)[0] for p in added) == ["docs", "postings"]
            assert not {new[p] for p in added} & set(old.values())
        if i == 2:
            kept = (sid, got)
    assert [e.get("segments") for e in snapshot_log(root)] == [None, 2, 3, 4, 5, 1, 2, 3,
                                                               4, 5, 1, 2, 3]

    # the kept snapshot after 9 later commits, then after its parent (and
    # every older snapshot) is expired
    log = snapshot_log(root)
    assert state(spark, read_snapshot(spark, root, kept[0])) == kept[1]
    keep_last = len(log) - [e["id"] for e in log].index(kept[0])
    expired = expire_snapshots(root, keep_last=keep_last)
    assert snapshot_log(root)[0]["id"] == kept[0] and len(expired) == len(log) - keep_last
    assert state(spark, read_snapshot(spark, root, kept[0])) == kept[1]


#: the child: one merge_into_snapshot of ``src`` (a delta dir), or one
#: commit_snapshot of a build over ``src`` (a documents parquet), with
#: os.link / os.replace patched to SIGKILL the process at the named step
CHILD = r"""
import os, signal, sys
root, src, point, op = sys.argv[1:5]
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.index.snapshots import commit_snapshot
from information_retrieval_system_spark.session import get_spark
from information_retrieval_system_spark.streaming.incremental import merge_into_snapshot

real_link, real_replace, links = os.link, os.replace, [0]

def die():
    os.kill(os.getpid(), signal.SIGKILL)

def link(src, dst):
    links[0] += 1
    if point == "after_claim" or (point == "mid_link" and links[0] == 3):
        die()
    real_link(src, dst)

def replace(src, dst):
    if point == "before_log_swap" and dst.endswith("snapshots.json"):
        die()
    real_replace(src, dst)
    if point == "after_data_write" and dst.endswith("stats.json"):
        die()

os.link, os.replace = link, replace
spark = get_spark("crash-child", parallelism=2)
cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
if op == "merge":
    merge_into_snapshot(spark, root, src, cfg)
else:
    docs = spark.read.parquet(src).filter("doc_id < 400")
    commit_snapshot(build_index(docs, cfg, doc_col="doc_id", text_col="text"), root, cfg)
"""
KILL_POINTS = {"merge": ("after_claim", "mid_link", "after_data_write", "before_log_swap"),
               "commit": ("after_data_write", "before_log_swap")}


def test_killed_merge_leaves_previous_snapshot(spark, docs, sf_small, tmp_path):
    """SIGKILL a merging child process, then a ``commit_snapshot`` child,
    at each step of the commit: the log and the current snapshot are
    unchanged, an orphan ``v<N>`` is left, ``expire_snapshots`` collects
    it (and the temporary log), a live claim survives expiry, the next
    merge consumes every delta batch exactly once and the next commit
    succeeds."""
    root, delta = str(tmp_path / "snaps"), str(tmp_path / "delta")
    commit_snapshot(build_index(docs.filter("doc_id < 200"), CFG, doc_col="doc_id",
                                text_col="text"), root, CFG)
    process = _process_batch_factory(delta, CFG, "doc_id", "text")
    process(docs.filter("doc_id >= 200 AND doc_id < 300"), 0)
    merge_into_snapshot(spark, root, delta, CFG)  # a parent with two segments
    process(docs.filter("doc_id >= 300 AND doc_id < 350"), 1)
    process(docs.filter("doc_id >= 350 AND doc_id < 400"), 2)
    repo = str(Path(__file__).resolve().parent.parent)
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_DRIVER_MEM": "1g"}

    def kill_each_point(op: str, src: str) -> None:
        log = snapshot_log(root)
        before = state(spark, read_snapshot(spark, root))
        for point in KILL_POINTS[op]:
            child = subprocess.run([sys.executable, "-c", CHILD, root, src, point, op],
                                   env=env, cwd=repo, capture_output=True, timeout=300)
            assert child.returncode == -signal.SIGKILL, (op, point, child.stderr[-2000:])
            assert snapshot_log(root) == log, (op, point)
            assert state(spark, read_snapshot(spark, root)) == before, (op, point)
            orphans = sorted(set(os.listdir(root)) - {e["dir"] for e in log}
                             - {"snapshots.json", "snapshots.json.lock"})
            assert f"v{log[-1]['id'] + 1}" in orphans, (op, point, orphans)
            assert (point == "before_log_swap") == any(
                o.startswith("snapshots.json.tmp") for o in orphans), (op, point, orphans)
            assert expire_snapshots(root, keep_last=len(log)) == []
            assert sorted(os.listdir(root)) == sorted(
                [e["dir"] for e in log] + ["snapshots.json", "snapshots.json.lock"]), (op, point)

    kill_each_point("merge", delta)
    # a live claim is left alone; once released unlogged, it is collected
    n_logged = len(snapshot_log(root))
    with claim_snapshot(root) as (_, sdir):
        expire_snapshots(root, keep_last=n_logged)
        assert os.path.isdir(sdir) and os.path.exists(sdir + ".lock")
    expire_snapshots(root, keep_last=n_logged)
    assert not os.path.exists(sdir) and not os.path.exists(sdir + ".lock")

    merge_into_snapshot(spark, root, delta, CFG)
    assert snapshot_log(root)[-1]["merge_watermark"] == 2
    full = build_index(docs.filter("doc_id < 400"), CFG, doc_col="doc_id", text_col="text")
    assert state(spark, read_snapshot(spark, root)) == state(spark, full)

    kill_each_point("commit", f"{sf_small}/documents.parquet")
    sid = commit_snapshot(full, root, CFG)
    assert snapshot_log(root)[-1]["id"] == sid
    assert state(spark, read_snapshot(spark, root)) == state(spark, full)


def test_stale_parent_commit_raises(spark, docs, tmp_path, monkeypatch):
    """A commit built on a snapshot that is no longer current is refused:
    an append naming a stale parent, and a merge that another commit
    overtook, raise ``StaleParentError`` and leave the log, the current
    snapshot and the directory set unchanged.  Retried, the merge builds
    on the new head and consumes its batch once."""
    root, delta = str(tmp_path / "snaps"), str(tmp_path / "delta")
    base = build_index(docs.filter("doc_id < 200"), CFG, doc_col="doc_id", text_col="text")
    first = commit_snapshot(base, root, CFG)
    commit_snapshot(base, root, CFG, note="re-crawl")
    log = snapshot_log(root)
    with pytest.raises(StaleParentError):
        with claim_snapshot(root) as (sid, _):
            append_log(root, sid, base.stats, parent=first)
    assert snapshot_log(root) == log
    assert sorted(os.listdir(root)) == sorted(
        [e["dir"] for e in log] + ["snapshots.json", "snapshots.json.lock"])

    process = _process_batch_factory(delta, CFG, "doc_id", "text")
    process(docs.filter("doc_id >= 200 AND doc_id < 300"), 0)
    real_claim = snapshots.claim_snapshot

    @contextmanager
    def overtaken(root_):
        """The merge's claim, after another commit lands on its parent."""
        monkeypatch.setattr(snapshots, "claim_snapshot", real_claim)
        commit_snapshot(base, root_, CFG, note="lands during the merge")
        with real_claim(root_) as claimed:
            yield claimed

    monkeypatch.setattr(snapshots, "claim_snapshot", overtaken)
    with pytest.raises(StaleParentError):
        merge_into_snapshot(spark, root, delta, CFG)
    log = snapshot_log(root)
    assert log[-1]["note"] == "lands during the merge" and "merge_watermark" not in log[-1]
    assert state(spark, read_snapshot(spark, root)) == state(spark, base)
    assert sorted(os.listdir(root)) == sorted(
        [e["dir"] for e in log] + ["snapshots.json", "snapshots.json.lock"])

    sid = merge_into_snapshot(spark, root, delta, CFG)
    assert snapshot_log(root)[-1]["parent"] == log[-1]["id"]
    assert snapshot_log(root)[-1]["merge_watermark"] == 0
    full = build_index(docs.filter("doc_id < 300"), CFG, doc_col="doc_id", text_col="text")
    assert state(spark, read_snapshot(spark, root, sid)) == state(spark, full)
