"""Incremental streaming index: a base snapshot plus streamed deltas,
merged, equals a from-scratch batch build."""

from __future__ import annotations

import glob
import os
import shutil

from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.index.snapshots import (
    commit_snapshot, read_snapshot)
from information_retrieval_system_spark.streaming.incremental import (
    incremental_index_stream,
    merge_into_snapshot,
)


def test_incremental_stream_matches_batch(spark, sf_small, tmp_path):
    cfg = EngineConfig()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select("doc_id", "text")
    root = str(tmp_path / "snaps")
    commit_snapshot(build_index(docs.filter("doc_id < 200"), cfg, doc_col="doc_id",
                                text_col="text"),
                    root, cfg, operation="initial-build")
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    # two arrival waves, their part-files moved up into the watched dir
    waves = {"w1": "doc_id >= 200 AND doc_id < 350", "w2": "doc_id >= 350"}
    for sub, cond in waves.items():
        docs.filter(cond).write.mode("overwrite").parquet(os.path.join(in_dir, sub))
        for f in glob.glob(os.path.join(in_dir, sub, "*.parquet")):
            shutil.move(f, os.path.join(in_dir, sub + "_" + os.path.basename(f)))
        shutil.rmtree(os.path.join(in_dir, sub))

    q = incremental_index_stream(
        spark, in_dir, str(tmp_path / "ckpt"), str(tmp_path / "out"), cfg
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    merge_into_snapshot(spark, root, str(tmp_path / "out"), cfg)

    got = read_snapshot(spark, root)
    batch = build_index(docs, cfg, doc_col="doc_id", text_col="text")

    def postings(ix):
        return sorted((r.term, r.doc_id, r.tf) for r in
                      ix.postings.select("term", "doc_id", "tf").collect())

    def terms(ix):
        return sorted((r.term, r.df, r.cf) for r in ix.terms.collect())

    def norms(ix):
        return sorted((r.doc_id, round(r.norm, 9)) for r in
                      ix.docs.select("doc_id", "norm").collect())

    assert postings(got) == postings(batch)
    assert terms(got) == terms(batch)
    assert norms(got) == norms(batch)
    assert got.stats["n_docs"] == batch.stats["n_docs"]
    assert got.stats["avgdl"] == batch.stats["avgdl"]
