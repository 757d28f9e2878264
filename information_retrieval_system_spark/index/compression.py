"""Posting blocks with block-max metadata, as native parquet int arrays.

North-star addition over the reference (whose postings.idx stores flat
16-byte records, Index.java:230-235): one row per (term, block) holding
the block's in-block doc offsets and tfs as ``array<int>`` columns, plus
``max_tf`` for block-max WAND pruning (SURVEY.md §4 items 1-2).  The
arrays stay native so parquet's own dictionary, RLE and bit-packing
encodings apply to them: a hand-written delta+VByte codec stored 38-47 %
more bytes, its payloads being opaque to those encodings.

Block alignment: ``block_id = doc_int // block_span`` with one GLOBAL span
for all terms.  This has two scale properties:

1. no per-term ``row_number`` window is needed (a per-term window would
   funnel each hot term through one task); block assignment is a pure
   column expression and the groupBy(term, block_id) keys are bounded by
   ``block_span`` postings — skew is capped by construction;
2. blocks of different terms cover the SAME doc ranges, so the driver
   route (``query/wand.driver_ranked``) scores one doc range at a time
   from the query terms' rows of one block id, and reads a window of
   contiguous block ids with one ``block_id`` range filter —
   doc-at-a-time scoring without a global posting sort.

The build is column expressions only (a sorted ``collect_list`` and
``transform``), with no Python worker.  Readers take a list column as
numpy views (``list_column``), never as per-row Python lists.
"""

from __future__ import annotations

import os
import weakref

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, functions as F

from .builder import read_table, term_bucket_expr

#: docs per aligned block range (power of two keeps div/mod cheap)
DEFAULT_BLOCK_SPAN = 1024


# ---------------------------------------------------------------------------
# block builders
# ---------------------------------------------------------------------------

def _sorted_block(df: DataFrame, keys: list[str], val: str, block_span: int, *aggs):
    """df(*keys, doc_int, <val>) -> one row per (*keys, block_id): ``n``,
    ``aggs``, then ``docs`` (the in-block offsets ``doc_int % block_span``,
    ascending) and the ``val`` of each doc, both ``array<int>``.  One
    groupBy with a sorted collect_list; its keys are bounded by
    ``block_span`` docs, so no key is skewed."""
    block_id = (F.col("doc_int") / F.lit(block_span)).cast("long").alias("block_id")
    grouped = df.groupBy(*keys, block_id).agg(
        F.sort_array(F.collect_list(F.struct("doc_int", val))).alias("pl"), *aggs)
    agg_names = grouped.columns[len(keys) + 2:]  # after the keys, block_id and pl
    return grouped.select(
        *keys, "block_id", F.size("pl").alias("n"), *agg_names,
        F.transform("pl", lambda x: (x["doc_int"] % block_span).cast("int")).alias("docs"),
        F.transform("pl", lambda x: x[val].cast("int")).alias(val))


def build_block_postings(
    postings: DataFrame,
    block_span: int = DEFAULT_BLOCK_SPAN,
) -> DataFrame:
    """postings(term, doc_int, tf) -> one row per (term, block):
    ``(term, block_id, n, max_tf, docs, tfs)``, ``max_tf`` being the
    block-max of the WAND bound."""
    return _sorted_block(postings, ["term"], "tf", block_span,
                         F.max("tf").cast("int").alias("max_tf")).withColumnRenamed("tf", "tfs")


def build_dl_blocks(docs: DataFrame, block_span: int = DEFAULT_BLOCK_SPAN) -> DataFrame:
    """docs(doc_int, length) -> aligned doc-length blocks
    ``(block_id, n, docs, dls)`` for the driver route's dl lookups (avoids
    a postings⋈docs shuffle at query time)."""
    return _sorted_block(docs, [], "length", block_span).withColumnRenamed("length", "dls")


def list_column(col) -> list[np.ndarray]:
    """A ``list<int>`` pyarrow column (a ChunkedArray) as one numpy array
    per row: each chunk's values sliced at its list offsets (which index
    the unsliced values, so a sliced chunk reads right).  The arrays are
    views of the Arrow buffers, so no per-row Python list is built."""
    out: list[np.ndarray] = []
    for chunk in col.chunks:
        vals, off = chunk.values.to_numpy(), chunk.offsets.to_numpy().tolist()
        out += [vals[a:b] for a, b in zip(off[:-1], off[1:])]
    return out


# ---------------------------------------------------------------------------
# persistence (the serving layout)
# ---------------------------------------------------------------------------

def write_block_index(
    blocks: DataFrame,
    dl_blocks: DataFrame,
    out_dir: str,
    term_buckets: int = 32,
) -> None:
    """Persist the serving layout.

    Blocks are partitioned by ``tbucket = hash(term) % term_buckets`` so a
    query touching T terms scans at most T buckets (partition pruning —
    the columnar analog of the reference's vocabulary offset pointers),
    and each bucket file is sorted by (term, block_id) for row-group
    locality.  ``tbucket`` leads the sort: the partitioned writer needs
    each task's rows ordered by it, and rows not already so ordered get
    a sort by ``tbucket`` alone, which loses the term order."""
    (
        blocks.withColumn("tbucket", term_bucket_expr(F.col("term"), term_buckets))
        .repartition(term_buckets, "tbucket")
        .sortWithinPartitions("tbucket", "term", "block_id")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(os.path.join(out_dir, "blocks"))
    )
    dl_blocks.write.mode("overwrite").parquet(os.path.join(out_dir, "dl_blocks"))


class BlockLayout:
    """The files of one ``read_block_index`` call as pyarrow datasets, for
    readers in the driver.  Listed when the frames are read, as Spark
    lists them, so both readers see the same files.  ``blocks`` carries
    the ``tbucket`` hive partition column."""

    def __init__(self, out_dir: str):
        self.blocks = ds.dataset(os.path.join(out_dir, "blocks"), format="parquet",
                                 partitioning="hive")
        self.dl_blocks = ds.dataset(os.path.join(out_dir, "dl_blocks"), format="parquet")


#: frame -> the layout ``read_block_index`` read it from.  A frame derived
#: from one of these (filtered, projected, joined) is a new object and is
#: not a key.
_READ_FROM: "weakref.WeakKeyDictionary[DataFrame, BlockLayout]" = weakref.WeakKeyDictionary()


def served_layout(blocks: DataFrame, dl_blocks: DataFrame) -> BlockLayout | None:
    """The layout when both frames are the exact ones one
    ``read_block_index`` call returned, else None."""
    layout = _READ_FROM.get(blocks)
    return layout if layout is not None and _READ_FROM.get(dl_blocks) is layout else None


def read_block_index(
    spark,
    out_dir: str,
    keep_bucket: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Read the serving layout, without a Spark job.  With
    ``keep_bucket`` the tbucket partition column stays on the frame so a
    long-lived reader lists the layout ONCE.  The returned pair is
    registered with its files (``served_layout``), so the route serves
    queries from them in the driver, reading only the query terms'
    ``tbucket`` partitions."""
    blocks = read_table(spark, os.path.join(out_dir, "blocks"))
    if not keep_bucket:
        blocks = blocks.drop("tbucket")
    dl_blocks = read_table(spark, os.path.join(out_dir, "dl_blocks"))
    _READ_FROM[blocks] = _READ_FROM[dl_blocks] = BlockLayout(out_dir)
    return blocks, dl_blocks
