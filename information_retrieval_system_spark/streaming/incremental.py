"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9); this module is the
Spark-native growth path a production corpus needs: new corpus files land
in a directory, a file-source stream picks them up, and ``foreachBatch``
runs the batch analyzer per micro-batch, normalizing each document once.
Each micro-batch ``n`` writes its own delta directories,
``docs_delta/batch_id=<n>/`` and ``postings_delta/batch_id=<n>/``; the
batch counts as written once both hold a ``_SUCCESS`` marker.  Both
writes overwrite their directory, so a batch that Spark replays after a
crash (``foreachBatch`` is at-least-once) replaces its
own output instead of adding a second copy.  Because a document arrives
exactly once, per-batch (term, doc) aggregates are disjoint across
batches.  ``merge_into_snapshot`` is the one commit path, and it costs
O(delta): the new snapshot hard-links its parent's files and appends
the delta as one segment, Lucene's immutable segments in place of the
reference's merge cascade; the term stats (df, cf) add, and a bounded
segment count (``SEGMENT_LIMIT``) folds the segments back into one.

``trigger(availableNow=True)`` drains everything pending then stops —
the cron-style incremental build; remove it for continuous mode.
"""

from __future__ import annotations

import json
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis.analyzer import analyze_tokens, tokens_array_expr
from ..config import DEFAULT_CONFIG, EngineConfig
from ..index.builder import IndexTables, data_files, read_table, write_index, write_stats

CORPUS_STREAM_SCHEMA = "doc_id long, text string"

#: the most segments a snapshot holds: a merge into a snapshot that
#: already has this many folds it and the delta into one segment.  Each
#: segment adds one postings and one docs file to every read, and small
#: files store ~16 % more bytes per doc than one folded segment.  The
#: first read measured flat from 10 to 65 segments (README, "Segment
#: limit"); 32 keeps within that range and folds 1 commit in 32.
SEGMENT_LIMIT = 32


def _process_batch_factory(out_dir: str, cfg: EngineConfig,
                           doc_col: str, text_col: str):
    def process(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness probe (one job per batch): an empty batch writes
        # empty delta files, which merge_into_snapshot counts as no docs.
        # The normalizer runs once: its token arrays are staged for both
        # writes (the postings' tokens and the docs' pre-filter lengths),
        # as build_index stages them.
        arrs = batch_df.select(
            F.col(doc_col).alias("doc_id"),
            tokens_array_expr(F.col(text_col)).alias("_arr"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            toks = analyze_tokens(arrs, F.col("_arr"), ["doc_id"],
                                  use_stopwords=cfg.use_stopwords, use_stemmer=cfg.use_stemmer)
            postings = toks.groupBy("term", "doc_id").agg(F.count("*").cast("int").alias("tf"))
            part = f"batch_id={batch_id}"
            # docs first: their write fills the staged arrays in its one
            # job, where the postings aggregation would stage them in a
            # job of their own
            arrs.select("doc_id", F.size("_arr").alias("length")).write.mode(
                "overwrite").parquet(os.path.join(out_dir, "docs_delta", part))
            postings.write.mode("overwrite").parquet(
                os.path.join(out_dir, "postings_delta", part))
        finally:
            arrs.unpersist()

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


def _written_batches(delta_dir: str) -> list[int]:
    """Ids of the delta batches whose two writes both finished (their
    ``batch_id=<n>`` directories under ``postings_delta/`` and
    ``docs_delta/`` hold a ``_SUCCESS`` marker), ascending."""
    done = []
    for table in ("postings_delta", "docs_delta"):
        t_dir = os.path.join(delta_dir, table)
        done.append({name for name in (os.listdir(t_dir) if os.path.isdir(t_dir) else [])
                     if name.startswith("batch_id=")
                     and os.path.exists(os.path.join(t_dir, name, "_SUCCESS"))})
    return sorted(int(name.split("=", 1)[1]) for name in set.intersection(*done))


def merge_into_snapshot(
    spark: SparkSession,
    snapshot_root: str,
    delta_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    note: str = "",
) -> int:
    """The APPEND-MERGE commit: the new streaming delta batches become a
    NEW immutable snapshot (operation "merge-append") in O(delta):

    - the parent's ``postings/`` and ``docs/`` files are hard-linked into
      the new ``v<N>/``, and the delta is appended as one segment: one
      postings file and one docs file, in the parent's schemas (metadata
      columns null);
    - ``terms/`` is the parent's plus the delta's per-term (df, cf), by
      one aggregation (the stream's per-batch aggregates and the
      snapshot's doc sets are disjoint, so df and cf add);
    - ``stats.json`` adds the delta's ``n_docs``, ``n_postings`` and
      ``total_len``, read from parquet footers and the delta's
      ``length`` column without a Spark job.  VSM norms depend on N and
      every df, so no snapshot stores them: ``read_index`` derives them.

    A merge into a snapshot with ``SEGMENT_LIMIT`` segments (the log
    entry's ``segments``) folds it instead: parent plus delta are
    rewritten as one segment by ``write_index``.  Prior snapshots stay
    readable (time travel) and GC-able (``expire_snapshots``): they share
    files by link, and no file is rewritten in place.

    Invariant: a document lands EITHER in the snapshot or in the deltas
    (exactly-once file landing — same invariant the streaming module
    documents); both sides must use integer doc keys (the builder's
    doc_int == doc_id fast path).

    RE-MERGEABLE: each merge commit records the highest delta
    ``batch_id`` it consumed (``merge_watermark`` on the log entry), and
    the next merge reads only the written batches (``_SUCCESS`` in both
    of their delta directories, found by listing) past it — so calling
    this repeatedly as the stream keeps writing never double-counts an
    already-merged batch.  With no new batch, or only batches without
    documents, it is a NO-OP returning the current snapshot id.

    The watermark is sound within ONE streaming checkpoint lineage:
    Structured Streaming's batch_id is monotonic per checkpoint, so the
    maintenance stream must keep its checkpoint across restarts (the
    production shape — one logical stream per delta dir).  Pointing a
    FRESH checkpoint at a delta dir that already has merged batches
    would reuse low batch ids; use a new delta dir instead.

    The commit names the snapshot it read as its parent, so a merge that
    another commit overtook (a concurrent merge, or a ``commit_snapshot``
    that landed meanwhile) raises ``snapshots.StaleParentError``, with
    nothing committed; calling it again merges onto the new head.
    Returns the committed (or current) snapshot id."""
    from ..index.snapshots import append_log, claim_snapshot, snapshot_log

    log = snapshot_log(snapshot_root)
    if not log:
        raise FileNotFoundError(f"no snapshots at {snapshot_root} to merge into")
    wm = max((e.get("merge_watermark", -1) for e in log), default=-1)
    p_dir, d_dir = (os.path.join(delta_dir, t) for t in ("postings_delta", "docs_delta"))
    new = [b for b in _written_batches(delta_dir) if b > wm]
    if not new:
        return log[-1]["id"]
    parts = [f"batch_id={b}" for b in new]
    d_files = [f for p in parts for f in data_files(os.path.join(d_dir, p))]
    p_files = [f for p in parts for f in data_files(os.path.join(p_dir, p))]
    n_docs = sum(pq.read_metadata(f).num_rows for f in d_files)
    if not n_docs:  # only empty micro-batches
        return log[-1]["id"]
    head = log[-1]
    parent = os.path.join(snapshot_root, head["dir"])
    with open(os.path.join(parent, "stats.json")) as f:
        stats = json.load(f)
    stats["n_docs"] += n_docs
    stats["n_postings"] += sum(pq.read_metadata(f).num_rows for f in p_files)
    stats["total_len"] += sum(pc.sum(pq.read_table(f, columns=["length"])["length"]).as_py() or 0
                              for f in d_files)
    # the floored average doc length (Indexer.java:688-691)
    stats.update(avgdl=stats["total_len"] // stats["n_docs"], int_doc_ids=True)

    def in_parent_schema(delta: DataFrame, table: str) -> DataFrame:
        """The delta rows as the parent table's columns and types:
        doc_int is the integer doc_id, absent columns are typed nulls."""
        have = {**{c: F.col(c) for c in delta.columns}, "doc_int": F.col("doc_id")}
        return delta.select(*[have.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
                              for f in read_table(spark, os.path.join(parent, table)).schema])

    dp = read_table(spark, p_dir, parts).select("term", "doc_id", "tf").cache()
    try:
        seg_postings = in_parent_schema(dp, "postings").coalesce(1)
        seg_docs = in_parent_schema(read_table(spark, d_dir, parts), "docs").coalesce(1)
        # each delta posting adds 1 to its term's df and tf to its cf
        terms = read_table(spark, os.path.join(parent, "terms")).unionByName(
            dp.select("term", F.lit(1).alias("df"), F.col("tf").alias("cf"))
        ).groupBy("term").agg(*[F.sum(c).cast("long").alias(c) for c in ("df", "cf")])
        # one terms file: queries broadcast-join the query-sized slice of
        # it, and a coalesced aggregation writes no empty files
        terms = terms.coalesce(1)
        segments = head.get("segments", 1) + 1
        with claim_snapshot(snapshot_root) as (sid, sdir):
            if segments > SEGMENT_LIMIT:
                segments = 1
                write_index(IndexTables(
                    postings=read_table(spark, os.path.join(parent, "postings"))
                    .unionByName(seg_postings),
                    docs=read_table(spark, os.path.join(parent, "docs")).unionByName(seg_docs),
                    terms=terms, stats=stats), sdir, cfg)
            else:
                for table, seg in (("postings", seg_postings.sortWithinPartitions("term", "doc_int")),
                                   ("docs", seg_docs)):
                    _link_files(os.path.join(parent, table), os.path.join(sdir, table))
                    seg.write.mode("append").parquet(os.path.join(sdir, table))
                terms.write.parquet(os.path.join(sdir, "terms"))
                write_stats(sdir, stats)
            return append_log(snapshot_root, sid, stats, "merge-append", note, head["id"],
                              {"merge_watermark": new[-1], "segments": segments})
    finally:
        dp.unpersist()


def _link_files(src: str, dst: str) -> None:
    """Hard-link every parquet data file under ``src`` into ``dst``."""
    for f in data_files(src):
        out = os.path.join(dst, os.path.relpath(f, src))
        os.makedirs(os.path.dirname(out), exist_ok=True)
        os.link(f, out)
