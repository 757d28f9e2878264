"""Snapshot commits (time travel, lineage, concurrent writers, expiry)
and streaming merges into a snapshot (watermarks, batch equality)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_snapshot_time_travel_and_lineage(spark, tmp_path):
    """A later commit never disturbs an earlier snapshot; lineage walks
    the parent chain; snapshot dirs are immutable."""
    import pytest
    from pyspark.sql import functions as F

    from information_retrieval_system_spark.config import EngineConfig
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.index.snapshots import (
        commit_snapshot, current_snapshot_id, read_snapshot, snapshot_lineage)

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    root = str(tmp_path / "snaps")

    v1 = commit_snapshot(
        build_index(docs, cfg, doc_col="doc_id", text_col="text"),
        root, cfg, operation="initial-build")
    before = sorted((r.term, r.df) for r in read_snapshot(spark, root, v1).terms.collect())

    v2 = commit_snapshot(
        build_index(docs.filter(F.col("doc_id") < 100), cfg, doc_col="doc_id",
                    text_col="text"),
        root, cfg, operation="delete", note="drop doc_id >= 100")

    assert current_snapshot_id(root) == v2
    # time travel: v1 is byte-identical after the v2 commit
    after = sorted((r.term, r.df) for r in read_snapshot(spark, root, v1).terms.collect())
    assert after == before
    # current read is the shrunk index
    cur = read_snapshot(spark, root)
    assert cur.stats["n_docs"] == 100
    # lineage newest-first, parent chain intact
    chain = snapshot_lineage(root)
    assert [(e["id"], e["parent"], e["operation"]) for e in chain] == [
        (v2, v1, "delete"), (v1, None, "initial-build")]
    # immutability: a commit NEVER writes into an existing vN dir — with
    # the log rolled back so the next id would collide with v2's orphan
    # directory, the mkdir claim skips to a fresh id instead (the CAS
    # analog of Iceberg allocating a new snapshot id past a failed
    # commit's leftovers), and v2's bytes are untouched
    import os, json
    log_p = os.path.join(root, "snapshots.json")
    log = json.load(open(log_p))
    v2_terms = sorted((r.term, r.df) for r in read_snapshot(spark, root, v2).terms.collect())
    json.dump(log[:-1], open(log_p, "w"))  # roll log back to just v1
    v3 = commit_snapshot(cur, root, cfg, operation="append")
    assert v3 > v2  # claimed a fresh dir, not v2's
    assert os.path.isdir(os.path.join(root, f"v{v3}"))
    # the orphaned v2 directory is byte-identical after the new commit
    json.dump(log, open(log_p, "w"))  # restore the full log
    assert sorted((r.term, r.df)
                  for r in read_snapshot(spark, root, v2).terms.collect()) == v2_terms


def test_snapshot_concurrent_commits(spark, tmp_path):
    """N racing committers -> N distinct snapshot entries, none dropped:
    the mkdir id claim + locked log append close the read-modify-write
    race ADVICE flagged (two committers computing the same sid)."""
    from concurrent.futures import ThreadPoolExecutor

    from information_retrieval_system_spark.config import EngineConfig
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.index.snapshots import (
        commit_snapshot, snapshot_log)

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tables = build_index(docs, cfg, doc_col="doc_id", text_col="text")
    root = str(tmp_path / "snaps")

    with ThreadPoolExecutor(max_workers=4) as ex:
        sids = list(ex.map(
            lambda i: commit_snapshot(tables, root, cfg, note=f"racer-{i}"),
            range(4)))
    assert sorted(sids) == sorted(set(sids))  # all distinct
    log = snapshot_log(root)
    assert sorted(e["id"] for e in log) == sorted(sids)  # none dropped
    assert len({e["dir"] for e in log}) == 4


def test_expire_snapshots(spark, tmp_path):
    """Retention GC: commit 4, expire to keep_last=2 -> v1/v2 dirs gone,
    log holds exactly the retained tail with a truncated (but audited)
    parent chain, and time travel to every retained snapshot still
    works.  Second expire is a no-op."""
    import json
    import os

    from information_retrieval_system_spark.config import EngineConfig
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.index.snapshots import (
        commit_snapshot, expire_snapshots, read_snapshot, snapshot_lineage,
        snapshot_log)

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    root = str(tmp_path / "snaps")
    sids = []
    for i, cap in enumerate((100, 200, 300, 400)):
        tables = build_index(docs.filter(f"doc_id < {cap}"), cfg,
                             doc_col="doc_id", text_col="text")
        sids.append(commit_snapshot(tables, root, cfg, note=f"gen-{i}"))
    v3_terms = sorted((r.term, r.df)
                      for r in read_snapshot(spark, root, sids[2]).terms.collect())

    expired = expire_snapshots(root, keep_last=2)
    assert expired == sids[:2]
    for sid in sids[:2]:
        assert not os.path.isdir(os.path.join(root, f"v{sid}"))
    log = snapshot_log(root)
    assert [e["id"] for e in log] == sids[2:]
    # parent chain truncated to retained ancestors, audit field kept
    assert log[0]["parent"] is None
    assert log[0]["expired_parent"] == sids[1]
    assert log[1]["parent"] == sids[2]
    assert [e["id"] for e in snapshot_lineage(root)] == [sids[3], sids[2]]
    # retained snapshots still read byte-identically
    assert sorted((r.term, r.df)
                  for r in read_snapshot(spark, root, sids[2]).terms.collect()) == v3_terms
    assert read_snapshot(spark, root).docs.count() == \
        read_snapshot(spark, root, sids[3]).docs.count()
    # idempotent: nothing left past the horizon
    assert expire_snapshots(root, keep_last=2) == []
    # log file is valid json on disk (consistency after the rewrite)
    with open(os.path.join(root, "snapshots.json")) as f:
        assert [e["id"] for e in json.load(f)] == sids[2:]


def test_merge_into_snapshot_equals_batch_build(spark, tmp_path):
    """Append-merge commit: v1 (first half, batch) + streamed deltas
    (second half) merge-committed as v2 must equal a from-scratch batch
    build over ALL docs — terms, stats, and VSM norms; v1 stays
    time-travelable underneath."""
    from information_retrieval_system_spark.config import EngineConfig
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.index.snapshots import (
        commit_snapshot, read_snapshot, snapshot_log)
    from information_retrieval_system_spark.streaming.incremental import (
        incremental_index_stream, merge_into_snapshot)

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    root = str(tmp_path / "snaps")
    v1 = commit_snapshot(
        build_index(docs.filter("doc_id < 200"), cfg, doc_col="doc_id",
                    text_col="text"),
        root, cfg, operation="initial-build")
    in_dir = str(tmp_path / "in")
    docs.filter("doc_id >= 200").repartition(4).write.parquet(in_dir)
    q = incremental_index_stream(spark, in_dir, str(tmp_path / "ckpt"),
                                 str(tmp_path / "delta"), cfg)
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    v2 = merge_into_snapshot(spark, root, str(tmp_path / "delta"), cfg)
    assert [e["operation"] for e in snapshot_log(root)] == \
        ["initial-build", "merge-append"]

    merged = read_snapshot(spark, root)  # current == v2
    full = build_index(docs, cfg, doc_col="doc_id", text_col="text")
    assert sorted((r.term, r.df, r.cf) for r in merged.terms.collect()) == \
        sorted((r.term, r.df, r.cf) for r in full.terms.collect())
    for k in ("n_docs", "avgdl", "total_len", "n_postings"):
        assert merged.stats[k] == full.stats[k], k
    assert sorted((r.doc_id, round(r.norm, 6)) for r in merged.docs.collect()) == \
        sorted((r.doc_id, round(r.norm, 6)) for r in full.docs.collect())
    # v1 unchanged underneath the merge commit
    assert read_snapshot(spark, root, v1).docs.count() == 200
    assert v2 > v1


def test_merge_watermark_no_double_count(spark, tmp_path):
    """Re-merging against the same delta dir must not double-count:
    merge #2 with nothing new is a no-op (same snapshot id), and after
    a SECOND streamed wave lands in the same dir, merge #3 consumes
    only batches past the recorded watermark — final stats equal one
    batch build over everything."""
    from information_retrieval_system_spark.config import EngineConfig
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.index.snapshots import (
        commit_snapshot, read_snapshot, snapshot_log)
    from information_retrieval_system_spark.streaming.incremental import (
        incremental_index_stream, merge_into_snapshot)

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    root = str(tmp_path / "snaps")
    commit_snapshot(
        build_index(docs.filter("doc_id < 150"), cfg, doc_col="doc_id",
                    text_col="text"),
        root, cfg, operation="initial-build")

    # ONE logical maintenance stream: same input dir + same checkpoint
    # across waves, so batch_id stays monotonic and the merge watermark
    # is sound (see merge_into_snapshot's docstring)
    in_dir = str(tmp_path / "in")

    def stream_wave(pred):
        docs.filter(pred).repartition(2).write.mode("append").parquet(in_dir)
        q = incremental_index_stream(spark, in_dir, str(tmp_path / "ckpt"),
                                     str(tmp_path / "delta"), cfg)
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()

    stream_wave("doc_id >= 150 AND doc_id < 300")
    v2 = merge_into_snapshot(spark, root, str(tmp_path / "delta"), cfg)
    assert snapshot_log(root)[-1]["merge_watermark"] >= 0
    # no new deltas -> no-op, no new snapshot
    assert merge_into_snapshot(spark, root, str(tmp_path / "delta"), cfg) == v2
    assert len(snapshot_log(root)) == 2

    stream_wave("doc_id >= 300")
    v3 = merge_into_snapshot(spark, root, str(tmp_path / "delta"), cfg)
    assert v3 > v2
    merged = read_snapshot(spark, root)
    full = build_index(docs, cfg, doc_col="doc_id", text_col="text")
    for k in ("n_docs", "avgdl", "total_len", "n_postings"):
        assert merged.stats[k] == full.stats[k], k
    assert sorted((r.term, r.df, r.cf) for r in merged.terms.collect()) == \
        sorted((r.term, r.df, r.cf) for r in full.terms.collect())


def test_merge_watermark_advances_on_zero_term_batch(spark, tmp_path):
    """A micro-batch whose docs ALL tokenize to zero terms writes
    docs_delta rows but no postings rows; the merge watermark must
    still advance past it (it derives from docs_delta), or the next
    merge re-consumes those doc rows — duplicate docs, inflated
    n_docs/avgdl (round-5 ADVICE regression)."""
    from information_retrieval_system_spark.config import EngineConfig
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.index.snapshots import (
        commit_snapshot, read_snapshot, snapshot_log)
    from information_retrieval_system_spark.streaming.incremental import (
        incremental_index_stream, merge_into_snapshot)

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    root = str(tmp_path / "snaps")
    commit_snapshot(
        build_index(docs.filter("doc_id < 100"), cfg, doc_col="doc_id",
                    text_col="text"),
        root, cfg, operation="initial-build")
    in_dir = str(tmp_path / "in")

    def stream_wave(df):
        df.repartition(1).write.mode("append").parquet(in_dir)
        q = incremental_index_stream(spark, in_dir, str(tmp_path / "ckpt"),
                                     str(tmp_path / "delta"), cfg)
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()

    # wave 1: docs that tokenize to NOTHING (punctuation only)
    zero_term = spark.createDataFrame(
        [(10_000 + i, "!!! ??? ...") for i in range(5)], "doc_id long, text string")
    stream_wave(zero_term)
    v2 = merge_into_snapshot(spark, root, str(tmp_path / "delta"), cfg)
    assert snapshot_log(root)[-1]["merge_watermark"] >= 0
    n_after_zero = read_snapshot(spark, root).stats["n_docs"]
    assert n_after_zero == 105  # the 5 zero-term docs count exactly once

    # re-merge with nothing new: no-op — the zero-term batch must NOT
    # be re-consumed (this is the bug: postings-derived watermark never
    # advanced past it)
    assert merge_into_snapshot(spark, root, str(tmp_path / "delta"), cfg) == v2
    assert read_snapshot(spark, root).stats["n_docs"] == 105

    # wave 2: real docs — merge consumes ONLY the new batches
    stream_wave(docs.filter("doc_id >= 100 AND doc_id < 150")
                .select("doc_id", "text"))
    merge_into_snapshot(spark, root, str(tmp_path / "delta"), cfg)
    merged = read_snapshot(spark, root)
    assert merged.stats["n_docs"] == 155
    full = build_index(docs.filter("doc_id < 150"), cfg, doc_col="doc_id",
                       text_col="text")
    assert sorted((r.term, r.df, r.cf) for r in merged.terms.collect()) == \
        sorted((r.term, r.df, r.cf) for r in full.terms.collect())


def test_expire_preserves_merge_watermark(spark, tmp_path):
    """expire_snapshots must carry max(merge_watermark) from expired
    log entries onto the retained tail: if re-crawl commits
    land after the last merge and expiry drops the merge entry, a
    watermark reset to -1 would re-consume every already-merged delta
    batch (round-5 ADVICE regression)."""
    from information_retrieval_system_spark.config import EngineConfig
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.index.snapshots import (
        commit_snapshot, expire_snapshots, read_snapshot, snapshot_log)
    from information_retrieval_system_spark.streaming.incremental import (
        incremental_index_stream, merge_into_snapshot)

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    root = str(tmp_path / "snaps")
    commit_snapshot(
        build_index(docs.filter("doc_id < 150"), cfg, doc_col="doc_id",
                    text_col="text"),
        root, cfg, operation="initial-build")
    in_dir = str(tmp_path / "in")
    docs.filter("doc_id >= 150 AND doc_id < 300").select("doc_id", "text") \
        .repartition(2).write.mode("append").parquet(in_dir)
    q = incremental_index_stream(spark, in_dir, str(tmp_path / "ckpt"),
                                 str(tmp_path / "delta"), cfg)
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    merge_into_snapshot(spark, root, str(tmp_path / "delta"), cfg)
    wm = snapshot_log(root)[-1]["merge_watermark"]
    n_docs = read_snapshot(spark, root).stats["n_docs"]

    # two non-merge commits after the merge, then expire past the merge
    cur = read_snapshot(spark, root)
    for i in range(2):
        commit_snapshot(cur, root, cfg, operation="re-crawl", note=f"rc{i}")
    expired = expire_snapshots(root, keep_last=2)
    assert len(expired) == 2  # initial-build + merge-append are gone
    log = snapshot_log(root)
    assert all(e["operation"] == "re-crawl" for e in log)
    # the watermark survived the rewrite...
    assert max(e.get("merge_watermark", -1) for e in log) == wm
    # ...so a re-merge against the same (fully-consumed) delta dir is a
    # no-op instead of double-counting every batch
    before = log[-1]["id"]
    assert merge_into_snapshot(spark, root, str(tmp_path / "delta"), cfg) == before
    assert read_snapshot(spark, root).stats["n_docs"] == n_docs


def test_replayed_batch_merges_once(spark, tmp_path):
    """foreachBatch is at-least-once: a micro-batch that was written but
    not yet recorded in the stream's commit log runs again after a
    restart, with the same batch_id.  The replay must replace the
    batch's delta, not add a second copy: after the merge, terms, stats
    and VSM norms equal a from-scratch build over all docs."""
    from information_retrieval_system_spark.config import EngineConfig
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.index.snapshots import (
        commit_snapshot, read_snapshot)
    from information_retrieval_system_spark.streaming.incremental import (
        _process_batch_factory, merge_into_snapshot)

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    root, delta = str(tmp_path / "snaps"), str(tmp_path / "delta")
    commit_snapshot(
        build_index(docs.filter("doc_id < 200"), cfg, doc_col="doc_id",
                    text_col="text"),
        root, cfg, operation="initial-build")
    process = _process_batch_factory(delta, cfg, "doc_id", "text")
    batch = docs.filter("doc_id >= 200")
    process(batch, 0)
    process(batch, 0)  # the replay
    merge_into_snapshot(spark, root, delta, cfg)

    merged = read_snapshot(spark, root)
    full = build_index(docs, cfg, doc_col="doc_id", text_col="text")
    assert sorted((r.term, r.df, r.cf) for r in merged.terms.collect()) == \
        sorted((r.term, r.df, r.cf) for r in full.terms.collect())
    for k in ("n_docs", "avgdl", "total_len", "n_postings"):
        assert merged.stats[k] == full.stats[k], k
    assert sorted((r.doc_id, round(r.norm, 6)) for r in merged.docs.collect()) == \
        sorted((r.doc_id, round(r.norm, 6)) for r in full.docs.collect())
