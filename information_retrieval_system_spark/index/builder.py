"""Inverted-index build as declarative DataFrame aggregations.

Reference pipeline being re-expressed (SURVEY.md §3 E1): stream JSON docs ->
tokenize/stem -> per-batch partial indexes -> pairwise merge cascade ->
second pass for VSM norms + avgDL (Indexer.java:597-686, 735-961;
Index.java:341-397).  In Spark the partial-index machinery and the merge
cascade dissolve into a single shuffle: ``groupBy(term, doc)`` with
partial+final hash aggregation IS the partial-index dump plus the k-way
merge, with spilling handled by the engine.

Scale notes (10^12 files / 1000 executors):
- doc_int assignment is deterministic AND parallel: a two-phase scheme
  (range partition -> per-partition rank -> prefix-sum offsets, see
  ``assign_doc_ints``) that never funnels the corpus through one task.
- the written postings are unbucketed: no reader of ``postings/`` prunes
  by term (the block layout, ``compression.write_block_index``, carries
  the term buckets the driver route prunes on).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..analysis.analyzer import porter_stem_udf
from ..config import DEFAULT_CONFIG, EngineConfig


@dataclass
class IndexTables:
    """The logical index: four DataFrames + scalar stats.

    Maps the reference's on-disk files (SURVEY.md §1.4) to tables:
    vocabulary.idx -> terms; postings.idx -> postings; documents.idx ->
    docs; meta.idx -> stats.
    """

    postings: DataFrame  # term, doc_id, doc_int, tf
    docs: DataFrame      # doc_id, doc_int, length, norm, pagerank
    terms: DataFrame     # term, df, cf
    stats: dict          # n_docs, avgdl (floored long), n_postings, total_len


def assign_dense_ids(
    df: DataFrame, key_col: str, out_col: str, num_ranges: int | None = None
) -> DataFrame:
    """Deterministic dense int64 ids for the UNIQUE values of ``key_col``
    — rank in global key order, starting at 1.

    Scale-safe two-phase scheme — a naive ``row_number() over (order by
    key)`` funnels the whole input through ONE partition
    (Exchange SinglePartition); instead:

    1. range-partition by the key (parallel sort, P partitions);
    2. rank within each range partition (parallel window per partition);
    3. add per-partition offsets from a tiny counts job.

    Deterministic regardless of sampled range boundaries: concatenating
    range partitions in partition order yields the global key order, so
    ``offset[pid] + local_rank`` IS the global rank of the (unique) key.

    Used for doc ids (``assign_doc_ints`` — the ingestion counter,
    Indexer.java:630-632, made order-independent) and for the stemmed
    build's in-memory ``term_id`` aggregation key.
    """
    spark = df.sparkSession
    if num_ranges is None:
        num_ranges = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = df.repartitionByRange(num_ranges, F.col(key_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    # per-partition ranking: the window shuffles by _pid, which preserves
    # the range grouping; orderBy(key) inside re-establishes order.
    w = Window.partitionBy("_pid").orderBy(F.col(key_col))
    # persisted (disk, not exec memory): the pid assignment must be
    # IDENTICAL between the counts job and downstream consumers (range
    # boundaries are sampled per execution), and the corpus-sized rows
    # must not squeeze the shuffle/agg memory of the heavy stages.  In
    # production this stage is a written table (Iceberg), same property.
    from pyspark import StorageLevel

    local = ranged.withColumn("_rn", F.row_number().over(w)).persist(StorageLevel.DISK_ONLY)
    counts = {
        r["_pid"]: r["c"]
        for r in local.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    if not counts:  # empty input: zero-arg create_map won't analyze
        return local.withColumn(out_col, F.lit(None).cast("long")).drop("_pid", "_rn")
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    return local.withColumn(
        out_col, (off_map[F.col("_pid")] + F.col("_rn")).cast("long")
    ).drop("_pid", "_rn")


def assign_doc_ints(corpus: DataFrame, doc_col: str, num_ranges: int | None = None) -> DataFrame:
    """Dense ``doc_int`` for string doc keys — see ``assign_dense_ids``."""
    return assign_dense_ids(corpus, doc_col, "doc_int", num_ranges)


def build_index(
    corpus: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "content",
    with_positions: bool = False,
    meta_cols: list[str] | None = None,
) -> IndexTables:
    """corpus(doc_col, text_col, ...) -> IndexTables.

    All heavy lifting is shuffle-based aggregation; the only Python is the
    Porter stem over the distinct-token table (analyzer.py).

    ``meta_cols`` names corpus columns carried into ``docs`` for the FULL
    result projection (J5 — the reference's documents.idx stores
    title/authors/year/journal alongside the scoring fields,
    DocInfoFull.java:34-94; here any metadata column rides along the same
    way).  They are joined in at the end from a slim projection, so the
    tokenize/stage path never carries them.

    Postings hold no positions, as the reference's hold none
    (Index.java:230-235).  ``with_positions`` stays only because the
    ``irbench`` workloads pass ``with_positions=False``; ``True`` raises."""
    if with_positions:
        raise ValueError("positional postings are not supported")

    slim_corpus = corpus.select(F.col(doc_col).alias("doc_id"), F.col(text_col).alias("content"))
    doc_type = dict(slim_corpus.dtypes)["doc_id"]
    if doc_type in ("tinyint", "smallint", "int", "bigint"):
        # doc key is already an integer: use it directly as doc_int — the
        # ranking pass (range shuffle + per-partition window + counts
        # job) exists only to densify STRING keys, and skipping it saves
        # a full corpus pass.  doc_int ordering == doc_id ordering either
        # way, which is all compression/WAND rely on.
        docs_base = slim_corpus.withColumn("doc_int", F.col("doc_id").cast("long"))
    else:
        docs_base = assign_doc_ints(slim_corpus, "doc_id")
    # ONE regex pass over raw text, staged as token ARRAYS on disk: both
    # consumers (doc lengths = pre-filter count T4, and the token stream
    # for postings) read the staged arrays instead of re-running the
    # normalizer — the regex normalize is the dominant CPU of the build
    # and previously ran twice (once for lengths, once for postings).
    from pyspark import StorageLevel

    from ..analysis.analyzer import stopword_filter_condition, tokens_array_expr

    # DISK_ONLY staging kept after an r7 A/B: one interleaved session
    # measured MEMORY_AND_DISK ~30% faster on the build, but two later
    # sessions inverted the ordering and one bench window showed a 5x
    # encode-phase regression with it — all inside this host's 20-40%
    # drift.  DISK_ONLY never competes with the shuffle/agg working set
    # and its 100-TB behavior is unambiguous, so the unproven 1-3 s
    # stays on the table (OPTIMIZATION_r07.md "left alone").
    pre = docs_base.select(
        "doc_id", "doc_int", tokens_array_expr(F.col("content")).alias("_arr")
    ).persist(StorageLevel.DISK_ONLY)

    docs_slim = pre.select(
        "doc_id", "doc_int", F.size("_arr").alias("length")
    ).cache()

    tokens = pre.select("doc_id", "doc_int", F.explode("_arr").alias("token"))
    if cfg.use_stopwords:
        tokens = tokens.filter(stopword_filter_condition(F.col("token")))

    # The stemmed build stems the distinct token set once and ranks the
    # stems to a dense in-memory ``term_id``: the corpus aggregation then
    # keys on (term_id, doc) — fixed 8-byte keys — and the stem-variant
    # collapse folds into that same aggregation (variants share a
    # term_id), so the build does one corpus shuffle instead of two
    # (A/B-measured, BENCH.md r6).  The no-stem build has no second
    # shuffle to save and aggregates on the string term.
    tf = F.count("*").cast("int").alias("tf")
    if cfg.use_stemmer:
        vocab = tokens.select("token").distinct().withColumn(
            "term", porter_stem_udf("token")
        )
        # cached: the build joins it twice
        stem_ids = assign_dense_ids(
            vocab.select("term").distinct(), "term", "term_id"
        ).cache()
        tok2id = vocab.join(F.broadcast(stem_ids), "term").select("token", "term_id")
        # A1 (both levels in one agg): tf per (term_id, doc) — Catalyst
        # partial+final hash agg (the map-side combine IS the salted
        # pre-aggregation for the tf metric: the reduce key never
        # concentrates on one reducer because doc spreads hot terms
        # across partitions).  At extreme vocabularies the broadcast
        # hint stops fitting; dropping it lets AQE pick a shuffle join.
        postings = (
            tokens.join(F.broadcast(tok2id), "token", "inner")
            .groupBy("term_id", "doc_id", "doc_int")
            .agg(tf)
            # re-attach the string post-agg: BroadcastHashJoin in the
            # same stage, zero extra shuffle
            .join(F.broadcast(stem_ids), "term_id")
        ).cache()
        # A3: df/cf per term — keyed by term_id (fixed-width int agg),
        # string attached from the broadcast dictionary.  Cached: every
        # query broadcast-joins terms.
        tstats = postings.groupBy("term_id").agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        ).cache()
        terms = tstats.join(F.broadcast(stem_ids), "term_id").select(
            "term", "df", "cf"
        ).cache()
        norm_key, norm_stats = "term_id", tstats.select("term_id", "df")
    else:
        postings = (
            tokens.groupBy("token", "doc_id", "doc_int").agg(tf)
            .withColumnRenamed("token", "term")
        ).cache()
        # A3 on the string key
        terms = postings.groupBy("term").agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        ).cache()
        norm_key, norm_stats = "term", terms.select("term", "df")

    # A4: N + floored avgDL (integer division, Indexer.java:688-691).
    # The doc-stats aggregate is the FIRST action: scanning it both
    # materializes the staged ``pre`` arrays (persist fills on first
    # read) and fills the docs_slim cache, so no separate
    # ``pre.count()`` barrier is needed — one fewer full pass over the
    # corpus per build, which is pure serial time at any cluster size.
    r = docs_slim.agg(
        F.count("*").alias("n_docs"), F.sum("length").alias("total_len")
    ).collect()[0]
    n_docs, total_len = int(r["n_docs"]), int(r["total_len"] or 0)
    # Σdf == posting rows (merge-time df1+df2 of Indexer.java:842 is one
    # partial+final agg); reads the already-staged arrays
    n_postings = int(terms.agg(F.sum("df")).collect()[0][0] or 0)
    avgdl = total_len // n_docs if n_docs else 0

    # Cached: the norm aggregation must not rerun per query.
    docs = with_vsm_norms(docs_slim, postings, norm_stats, norm_key, n_docs)
    if meta_cols:
        meta = corpus.select(F.col(doc_col).alias("doc_id"), *meta_cols)
        docs = docs.join(meta, "doc_id", "left")
    docs = docs.cache()

    stats = {
        "n_docs": n_docs,
        "total_len": total_len,
        "avgdl": avgdl,
        "n_postings": n_postings,
        # integer doc keys mean doc_int == doc_id: consumers (WAND) can
        # skip the final doc_int -> doc_id mapping join entirely
        "int_doc_ids": doc_type in ("tinyint", "smallint", "int", "bigint"),
    }
    # the stemmed build's term_id stays in memory
    postings = postings.select("term", "doc_id", "doc_int", "tf")
    return IndexTables(postings=postings, docs=docs, terms=terms, stats=stats)


def with_vsm_norms(docs: DataFrame, postings: DataFrame, term_df: DataFrame,
                   key: str, n_docs: int) -> DataFrame:
    """A5: ``docs`` plus its VSM ``norm`` (0.0 for a doc with no posting)
    and ``pagerank`` 0.0.  The norm is a second pass over ``postings``
    joined to ``term_df`` (``key``, df; other columns unread); idf uses
    the reference's Java-int floor division (N+1)/df (Index.java:371),
    and the norm is SQUARED, exactly like documents.idx offset+48
    (Index.java:385)."""
    # SQL expressions, not Column calls: read_index derives the norms on
    # every read, and each Column call is a JVM round trip (27 ms less
    # per first read of an 8-segment, 3.4k-doc snapshot on 4 vCPUs)
    w = f"(tf * (ln(floor({n_docs + 1} / df)) / ln(2)))"
    norms = postings.join(F.broadcast(term_df), key).groupBy("doc_id").agg(
        F.expr(f"sum({w} * {w})").alias("norm"))
    return docs.join(norms, "doc_id", "left").selectExpr(
        "doc_id", *[f"`{c}`" for c in docs.columns if c != "doc_id"],
        "coalesce(norm, 0.0D) AS norm", "0.0D AS pagerank")


def term_bucket_expr(term, n_buckets: int):
    """Stable bucket id for partition pruning."""
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


#: ``docs`` columns that ``read_index`` derives instead of storing: the
#: VSM norm depends on N and every df, so each commit would change every
#: stored norm; PageRank is attached by ``graph.pagerank.attach_pagerank``
DERIVED_DOC_COLS = ("norm", "pagerank")


def write_stats(out_dir: str, stats: dict) -> None:
    """``stats.json``, written whole to a temporary name and renamed into
    place: it is the last file of an index directory, so its presence
    marks the directory complete."""
    tmp = os.path.join(out_dir, "stats.json.tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=2)
    os.replace(tmp, os.path.join(out_dir, "stats.json"))


def write_index(
    tables: IndexTables,
    out_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> None:
    """Persist the logical index as a parquet layout (``cfg`` is accepted
    for callers; the layout takes nothing from it):

    - ``postings/`` (term, doc_id, doc_int, tf), sorted within files by
      (term, doc_int) — the columnar equivalent of the reference's
      vocabulary-ordered postings file;
    - ``docs/`` without the ``DERIVED_DOC_COLS``, ``terms/``, and
      ``stats.json`` last.
    """
    os.makedirs(out_dir, exist_ok=True)
    (tables.postings.sortWithinPartitions("term", "doc_int")
     .write.mode("overwrite").parquet(os.path.join(out_dir, "postings")))
    (tables.docs.drop(*DERIVED_DOC_COLS)
     .write.mode("overwrite").parquet(os.path.join(out_dir, "docs")))
    tables.terms.write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))
    write_stats(out_dir, tables.stats)


#: footer key under which Spark stores a parquet file's Spark schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def data_files(path: str):
    """The parquet data files under ``path``, in sorted walk order (hidden
    and ``_``-prefixed names skipped, as Spark's file listing skips
    them)."""
    for dp, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for name in sorted(files):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                yield os.path.join(dp, name)


def read_table(spark: SparkSession, path: str,
               partitions: list[str] | None = None) -> DataFrame:
    """Read a Spark-written parquet table with the schema taken from one
    file's footer instead of inferred.

    Schema inference (``spark.read.parquet``) runs a Spark job that reads
    every footer; every file Spark writes already stores its Spark schema
    under ``SPARK_SCHEMA_KEY``, so one footer read by pyarrow in the driver
    gives the same schema with no job.  Partition columns (``tbucket``,
    ``batch_id``: the ``name=value`` directories above the
    file) are appended as int, as inference types them.  ``partitions``
    (directory names under ``path``, e.g. ``["batch_id=3"]``) restricts the
    read to those partitions; the partition column is kept.  A table with
    no data file falls back to inference."""
    dirs = [os.path.join(path, p) for p in partitions] if partitions else [path]
    sample = next((f for d in dirs for f in data_files(d)), None)
    reader = spark.read.option("basePath", path) if partitions else spark.read
    if sample is None:
        return reader.parquet(*dirs)
    schema = StructType.fromJson(json.loads(
        pq.read_metadata(sample).metadata[SPARK_SCHEMA_KEY]))
    for part in os.path.relpath(os.path.dirname(sample), path).split(os.sep):
        if "=" in part:
            schema = schema.add(StructField(part.split("=", 1)[0], IntegerType()))
    return reader.schema(schema).parquet(*dirs)


def read_index(spark: SparkSession, out_dir: str) -> IndexTables:
    """The written layout of ``write_index``, read without a Spark job.
    ``docs`` gets the ``DERIVED_DOC_COLS`` back lazily through
    ``with_vsm_norms``; a plan that reads no norm (BM25) has the norm
    join pruned by the optimizer."""
    postings = read_table(spark, os.path.join(out_dir, "postings"))
    terms = read_table(spark, os.path.join(out_dir, "terms"))
    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    docs = with_vsm_norms(read_table(spark, os.path.join(out_dir, "docs")), postings,
                          terms, "term", stats["n_docs"])
    return IndexTables(postings=postings, docs=docs, terms=terms, stats=stats)
