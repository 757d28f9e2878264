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
batches — the merged view is a pure union, and global stats (df, N,
avgdl) are re-derived by one aggregation over the union (the streaming
analog of the reference's merge cascade, which Spark's shuffle already
replaced in batch mode).

``trigger(availableNow=True)`` drains everything pending then stops —
the cron-style incremental build; remove it for continuous mode.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis.analyzer import analyze_tokens, doc_length_expr
from ..config import DEFAULT_CONFIG, EngineConfig
from ..index.builder import IndexTables, read_table

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
            # micro-batches are small: the direct Arrow stem UDF beats the
            # distinct+broadcast-join plan (which pays an extra shuffle
            # that only amortizes on large batch sizes)
            stem_via_join=False,
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


def compact_to_snapshot(spark: SparkSession, delta_dir: str, snapshot_root: str,
                        cfg: EngineConfig = DEFAULT_CONFIG,
                        note: str = "") -> int:
    """Compaction committed as an immutable SNAPSHOT (operation
    "compaction" in the lineage log): the streaming deltas become a new
    version of the serving index without disturbing any prior snapshot
    a reader may hold.  Returns the snapshot id."""
    from ..index.snapshots import commit_snapshot

    postings = read_table(spark, os.path.join(delta_dir, "postings_delta")).drop("batch_id")
    docs = read_table(spark, os.path.join(delta_dir, "docs_delta")).drop("batch_id")
    tables, cached = _tables_from_view(postings, docs, _delta_stats(postings, docs))
    try:
        return commit_snapshot(tables, snapshot_root, cfg,
                               operation="compaction", note=note)
    finally:
        for df in cached:
            df.unpersist()


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


def _avgdl(stats: dict) -> int:
    """The floored average doc length (Indexer.java:688-691)."""
    return stats["total_len"] // stats["n_docs"] if stats["n_docs"] else 0


def _tables_from_view(postings: DataFrame, docs: DataFrame, stats: dict):
    """(term, doc_id, tf) + (doc_id, length) -> full IndexTables: terms
    re-derived by one aggregation, VSM norms with the builder's floor-idf
    quirk, integer doc ids (doc_int == doc_id).  ``stats`` holds the
    ``ADDITIVE_STATS`` of the union (a merge carries them forward from
    the parent snapshot, so the snapshot is never scanned for them).
    Shared by delta compaction and snapshot merge — both are 'derive the
    global tables from a posting-row union' jobs.

    The terms table is cached and aggregated once: the norms' df and the
    terms write both read it.  It is written as one file: the norms
    broadcast it, so it is small by assumption, and a cached plan keeps
    its shuffle's partition count (one small file per shuffle partition
    otherwise, where adaptive execution coalesced the uncached
    aggregation to one).

    Returns ``(tables, cached)`` — the CALLER must unpersist every frame
    in ``cached`` after consuming the tables (write/commit), or repeated
    maintenance cycles in a long-lived session leak them."""
    n_docs = stats["n_docs"]
    stats = {**stats, "avgdl": _avgdl(stats), "int_doc_ids": True}
    terms = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df"), F.sum("tf").cast("long").alias("cf")
    ).cache()
    p = postings.withColumn("doc_int", F.col("doc_id").cast("long"))
    log2 = math.log(2.0)
    norm_df = (
        p.join(F.broadcast(terms.select("term", "df")), "term")
        .withColumn(
            "w",
            F.col("tf") * F.log(F.floor(F.lit(n_docs + 1) / F.col("df")).cast("double")) / F.lit(log2),
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("w")).alias("norm"))
    )
    docs_full = (
        docs.withColumn("doc_int", F.col("doc_id").cast("long"))
        .join(norm_df, "doc_id", "left")
        .withColumn("norm", F.coalesce(F.col("norm"), F.lit(0.0)))
        .withColumn("pagerank", F.lit(0.0))
    )
    tables = IndexTables(postings=p, docs=docs_full, terms=terms.coalesce(1),
                         stats=stats)
    return tables, [terms]


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
    (df/cf/stats/norms — the stream's per-batch aggregates and the
    snapshot's doc sets are disjoint, so the union IS the posting set),
    and commit the result as a NEW immutable snapshot
    (operation "merge-append").  Prior snapshots stay readable
    (time travel) and GC-able (expire_snapshots) — the Iceberg
    append-commit analog for the serving index.  ``n_docs``,
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
    cols = lambda df: df.select("term", "doc_id", F.col("tf").cast("long").alias("tf"))  # noqa: E731
    dp = cols(read_table(spark, os.path.join(delta_dir, "postings_delta"), parts))
    dd = read_table(spark, d_dir, parts).select("doc_id", "length")
    added = _delta_stats(dp, dd)
    if not added["n_docs"]:  # only empty micro-batches
        return log[-1]["id"]
    cur = read_snapshot(spark, snapshot_root)
    postings = cols(cur.postings).unionByName(dp)
    docs = cur.docs.select("doc_id", "length").unionByName(dd)
    tables, cached = _tables_from_view(
        postings, docs, {k: cur.stats[k] + added[k] for k in ADDITIVE_STATS})
    try:
        return commit_snapshot(tables, snapshot_root, cfg,
                               operation="merge-append", note=note,
                               extra={"merge_watermark": new[-1]})
    finally:
        for df in cached:
            df.unpersist()


def merged_index_view(spark: SparkSession, out_dir: str):
    """Union the deltas into queryable postings/docs/terms/stats — the
    compaction-read path (compact_to_snapshot is the job that commits
    this union in the bucketed serving layout)."""
    postings = read_table(spark, os.path.join(out_dir, "postings_delta")).drop("batch_id")
    docs = read_table(spark, os.path.join(out_dir, "docs_delta")).drop("batch_id")
    terms = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df"), F.sum("tf").cast("long").alias("cf")
    )
    stats = _delta_stats(postings, docs)
    stats["avgdl"] = _avgdl(stats)
    return postings, docs, terms, stats
