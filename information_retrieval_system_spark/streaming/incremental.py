"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9); this module is the
Spark-native growth path a production corpus needs: new corpus files land
in a directory, a file-source stream picks them up, and ``foreachBatch``
runs the SAME batch analyzer/aggregation pipeline per micro-batch.  Each
micro-batch ``n`` writes its own delta directories,
``postings_delta/batch_id=<n>/`` and then ``docs_delta/batch_id=<n>/``;
the ``_SUCCESS`` marker of the docs directory is the batch's commit
marker.  Both writes overwrite their directory, so a batch that Spark
replays after a crash (``foreachBatch`` is at-least-once) replaces its
own output instead of adding a second copy.  Because a document arrives
exactly once, per-batch (term, doc) aggregates are disjoint across
batches.  ``merge_into_snapshot`` is the one commit path: it unions the
current snapshot with the new batches, re-derives the global stats (df,
N, avgdl) by one aggregation over the union (the streaming analog of the
reference's merge cascade, which Spark's shuffle already replaced in
batch mode) and commits the result as a new snapshot.

``trigger(availableNow=True)`` drains everything pending then stops —
the cron-style incremental build; remove it for continuous mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis.analyzer import analyze_tokens, doc_length_expr
from ..config import DEFAULT_CONFIG, EngineConfig
from ..index.builder import IndexTables, read_table, with_vsm_norms

CORPUS_STREAM_SCHEMA = "doc_id long, text string"


def _process_batch_factory(out_dir: str, cfg: EngineConfig,
                           doc_col: str, text_col: str):
    def process(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness probe (one job per batch): an empty batch writes
        # empty delta files, and merge_into_snapshot's stats aggregation,
        # which it runs anyway, finds no new docs in them
        docs = batch_df.select(
            F.col(doc_col).alias("doc_id"), F.col(text_col).alias("content")
        ).withColumn("length", doc_length_expr(F.col("content")))
        toks = analyze_tokens(
            docs, "content", ["doc_id"],
            use_stopwords=cfg.use_stopwords, use_stemmer=cfg.use_stemmer,
        )
        postings = toks.groupBy("term", "doc_id").agg(F.count("*").cast("int").alias("tf"))
        part = f"batch_id={batch_id}"
        postings.write.mode("overwrite").parquet(
            os.path.join(out_dir, "postings_delta", part))
        # docs last: their _SUCCESS marks the whole batch as written
        docs.select("doc_id", "length").write.mode("overwrite").parquet(
            os.path.join(out_dir, "docs_delta", part))

    return process


def incremental_index_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
):
    """Start the incremental build; returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(CORPUS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            _process_batch_factory(out_dir, cfg, doc_col, text_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: the additive index stats: a merge adds the new batches' to the parent's
ADDITIVE_STATS = ("n_docs", "total_len", "n_postings")


def _delta_stats(postings: DataFrame, docs: DataFrame) -> dict:
    """``ADDITIVE_STATS`` of (term, doc_id, tf) + (doc_id, length) delta
    tables, by one aggregation over both."""
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    rows = docs.select(
        one.alias("n_docs"), F.col("length").cast("long").alias("total_len"),
        zero.alias("n_postings"),
    ).unionByName(postings.select(
        zero.alias("n_docs"), zero.alias("total_len"), one.alias("n_postings")))
    r = rows.agg(*[F.sum(k).alias(k) for k in ADDITIVE_STATS]).collect()[0]
    return {k: int(r[k] or 0) for k in ADDITIVE_STATS}


def _written_batches(docs_dir: str) -> list[int]:
    """Ids of the delta batches whose docs write finished (their
    ``batch_id=<n>`` directory holds a ``_SUCCESS`` marker), ascending."""
    if not os.path.isdir(docs_dir):
        return []
    return sorted(
        int(name.split("=", 1)[1]) for name in os.listdir(docs_dir)
        if name.startswith("batch_id=")
        and os.path.exists(os.path.join(docs_dir, name, "_SUCCESS")))


def merge_into_snapshot(
    spark: SparkSession,
    snapshot_root: str,
    delta_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    note: str = "",
) -> int:
    """The APPEND-MERGE commit — the production index-update path
    composed end-to-end: union the CURRENT snapshot's postings/docs
    with the new streaming delta batches, re-derive the global tables
    (df/cf/stats, and the VSM norms with the builder's floor-idf quirk —
    the stream's per-batch aggregates and the snapshot's doc sets are
    disjoint, so the union IS the posting set), and commit the result as
    a NEW immutable snapshot (operation "merge-append").  Prior
    snapshots stay readable (time travel) and GC-able (expire_snapshots)
    — the Iceberg append-commit analog for the serving index.  ``n_docs``,
    ``total_len`` and ``n_postings`` are the parent snapshot's plus the
    new batches' (``ADDITIVE_STATS``).

    Invariant: a document lands EITHER in the snapshot or in the deltas
    (exactly-once file landing — same invariant the streaming module
    documents); both sides must use integer doc keys (the builder's
    doc_int == doc_id fast path).

    RE-MERGEABLE: each merge commit records the highest delta
    ``batch_id`` it consumed (``merge_watermark`` on the log entry), and
    the next merge reads only the written batches (``_SUCCESS`` in
    ``docs_delta/batch_id=<n>/``, found by listing the directory) past
    it — so calling this repeatedly as the stream keeps writing never
    double-counts an already-merged batch.  With no new batch, or only
    batches without documents, it is a NO-OP returning the current
    snapshot id.

    The watermark is sound within ONE streaming checkpoint lineage:
    Structured Streaming's batch_id is monotonic per checkpoint, so the
    maintenance stream must keep its checkpoint across restarts (the
    production shape — one logical stream per delta dir).  Pointing a
    FRESH checkpoint at a delta dir that already has merged batches
    would reuse low batch ids; use a new delta dir instead.
    Returns the committed (or current) snapshot id."""
    from ..index.snapshots import commit_snapshot, read_snapshot, snapshot_log

    log = snapshot_log(snapshot_root)
    if not log:
        raise FileNotFoundError(f"no snapshots at {snapshot_root} to merge into")
    wm = max((e.get("merge_watermark", -1) for e in log), default=-1)
    d_dir = os.path.join(delta_dir, "docs_delta")
    new = [b for b in _written_batches(d_dir) if b > wm]
    if not new:
        return log[-1]["id"]
    parts = [f"batch_id={b}" for b in new]
    dp = read_table(spark, os.path.join(delta_dir, "postings_delta"), parts).select(
        "term", "doc_id", "tf")
    dd = read_table(spark, d_dir, parts).select("doc_id", "length")
    added = _delta_stats(dp, dd)
    if not added["n_docs"]:  # only empty micro-batches
        return log[-1]["id"]
    cur = read_snapshot(spark, snapshot_root)
    # build_index's written schemas: postings (term, doc_id, doc_int, tf
    # int), docs (doc_id, doc_int, length, norm, pagerank)
    doc_int = F.col("doc_id").cast("long").alias("doc_int")
    postings = cur.postings.select("term", "doc_id", "tf").unionByName(dp).select(
        "term", "doc_id", doc_int, "tf")
    docs = cur.docs.select("doc_id", "length").unionByName(dd).select(
        "doc_id", doc_int, "length")
    stats = {k: cur.stats[k] + added[k] for k in ADDITIVE_STATS}
    # the floored average doc length (Indexer.java:688-691)
    stats.update(avgdl=stats["total_len"] // stats["n_docs"], int_doc_ids=True)
    # terms re-derived by one aggregation, cached: the norms' df and the
    # terms write both read it.  Written as one file: the norms broadcast
    # it, so it is small by assumption, and a cached plan keeps its
    # shuffle's partition count (one small file per shuffle partition
    # otherwise, where adaptive execution coalesced the uncached
    # aggregation to one).
    terms = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df"), F.sum("tf").cast("long").alias("cf")
    ).cache()
    docs = with_vsm_norms(docs, postings, terms.select("term", "df"), "term",
                          stats["n_docs"])
    try:
        return commit_snapshot(
            IndexTables(postings=postings, docs=docs, terms=terms.coalesce(1),
                        stats=stats),
            snapshot_root, cfg, operation="merge-append", note=note,
            extra={"merge_watermark": new[-1]})
    finally:
        terms.unpersist()
