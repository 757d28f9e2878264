"""Incremental streaming index: stream == batch, compaction lineage."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.streaming.incremental import (
    incremental_index_stream,
    merged_index_view,
)


def test_incremental_stream_matches_batch(spark, sf_small, tmp_path):
    cfg = EngineConfig()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select("doc_id", "text")
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    # two arrival waves
    docs.filter("doc_id < 250").write.mode("overwrite").parquet(os.path.join(in_dir, "w1"))
    docs.filter("doc_id >= 250").write.mode("overwrite").parquet(os.path.join(in_dir, "w2"))
    # file source reads the dir recursively? -> write directly as files
    # instead: move parquet part-files up
    import glob
    import shutil

    for sub in ["w1", "w2"]:
        for f in glob.glob(os.path.join(in_dir, sub, "*.parquet")):
            shutil.move(f, os.path.join(in_dir, os.path.basename(sub + "_" + os.path.basename(f))))
        shutil.rmtree(os.path.join(in_dir, sub))

    q = incremental_index_stream(
        spark, in_dir, str(tmp_path / "ckpt"), str(tmp_path / "out"), cfg
    )
    q.awaitTermination(120)

    postings, sdocs, terms, stats = merged_index_view(spark, str(tmp_path / "out"))
    batch = build_index(docs, cfg, doc_col="doc_id", text_col="text", with_positions=False)
    a = sorted((r.term, r.doc_id, r.tf) for r in postings.collect())
    b = sorted((r.term, r.doc_id, r.tf) for r in
               batch.postings.select("term", "doc_id", "tf").collect())
    assert a == b
    assert stats["n_docs"] == batch.stats["n_docs"]
    assert stats["avgdl"] == batch.stats["avgdl"]


def test_compact_to_snapshot_lineage(spark, tmp_path):
    """Streaming deltas -> compaction committed as an immutable
    snapshot: the lineage log records the operation, and the snapshot
    read matches a batch aggregation of the same deltas."""
    from pyspark.sql import functions as F

    from information_retrieval_system_spark.index.snapshots import (
        read_snapshot, snapshot_lineage)
    from information_retrieval_system_spark.streaming.incremental import (
        compact_to_snapshot)

    delta = str(tmp_path / "delta")
    # two hand-written delta batches (disjoint docs, like foreachBatch)
    p1 = [("alpha", 1, 2), ("beta", 1, 1), ("alpha", 2, 1)]
    p2 = [("beta", 3, 4), ("gamma", 3, 1)]
    for bid, rows in enumerate([p1, p2]):
        spark.createDataFrame(rows, "term string, doc_id long, tf int").withColumn(
            "batch_id", F.lit(bid)).write.mode("append").parquet(f"{delta}/postings_delta")
    d1 = [(1, 3), (2, 1)]
    d2 = [(3, 5)]
    for bid, rows in enumerate([d1, d2]):
        spark.createDataFrame(rows, "doc_id long, length long").withColumn(
            "batch_id", F.lit(bid)).write.mode("append").parquet(f"{delta}/docs_delta")

    root = str(tmp_path / "snaps")
    sid = compact_to_snapshot(spark, delta, root)
    chain = snapshot_lineage(root)
    assert [e["operation"] for e in chain] == ["compaction"]
    ix = read_snapshot(spark, root, sid)
    terms = {r.term: (r.df, r.cf) for r in ix.terms.collect()}
    assert terms == {"alpha": (2, 3), "beta": (2, 5), "gamma": (1, 1)}
    assert ix.stats["n_docs"] == 3 and ix.stats["int_doc_ids"] is True
