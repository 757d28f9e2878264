"""Delta + variable-byte posting blocks with block-max metadata.

North-star addition over the reference (whose postings.idx stores flat
16-byte records, Index.java:230-235): docID gaps and tfs are VByte-packed
into ``BinaryType`` columns, one row per (term, block), with ``max_tf`` /
``first_doc`` / ``last_doc`` metadata for block-max WAND pruning
(SURVEY.md §4 items 1-2).

Block alignment: ``block_id = doc_int // block_span`` with one GLOBAL span
for all terms.  This has two scale properties:

1. no per-term ``row_number`` window is needed (a per-term window would
   funnel each hot term through one task); block assignment is a pure
   column expression and the groupBy(term, block_id) keys are bounded by
   ``block_span`` postings — skew is capped by construction;
2. blocks of different terms cover the SAME doc ranges, so the WAND
   kernel can process one doc-range at a time via a cogroup on block_id —
   doc-at-a-time scoring without a global posting sort.

Encode/decode are vectorized numpy inside Arrow-batched pandas UDFs —
no per-row Python.
"""

from __future__ import annotations

import os
import weakref

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, functions as F

from .builder import read_table, term_bucket_expr

#: docs per aligned block range (power of two keeps div/mod cheap)
DEFAULT_BLOCK_SPAN = 1024


# ---------------------------------------------------------------------------
# VByte codec (vectorized numpy)
# ---------------------------------------------------------------------------

def _vbyte_encode_raw(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Core encoder -> (byte array, per-value byte lengths)."""
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    # byte length per value = number of 7-bit chunks (min 1); computed
    # with a shift loop over chunks — float log2 is unsafe at the 64-bit
    # edge and this loop runs at most 9 times regardless of array size.
    lens = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        lens += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(lens.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(lens)          # index AFTER each value's last byte
    starts = ends - lens
    # fill bytes least-significant-first
    maxlen = int(lens.max())
    work = v.copy()
    for i in range(maxlen):
        mask = lens > i
        idx = starts[mask] + i
        out[idx] = (work[mask] & np.uint64(0x7F)).astype(np.uint8)
        work[mask] >>= np.uint64(7)
    out[ends - 1] |= 0x80           # terminator bit on last byte
    return out, lens


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array: 7 data bits per byte, high bit set on the
    LAST byte of each value (classic VByte)."""
    out, _ = _vbyte_encode_raw(np.asarray(values, dtype=np.uint64))
    return out.tobytes()


def vbyte_decode(buf: bytes) -> np.ndarray:
    """Decode back to uint64. Vectorized: terminator bits mark value ends."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.nonzero(b & 0x80)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    data = (b & 0x7F).astype(np.uint64)
    vals = np.zeros(ends.size, dtype=np.uint64)
    maxlen = int(lens.max())
    for i in range(maxlen):
        mask = lens > i
        vals[mask] |= data[starts[mask] + i] << np.uint64(7 * i)
    return vals


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    d = np.asarray(sorted_vals, dtype=np.uint64).copy()
    d[1:] = d[1:] - d[:-1]
    return d


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(deltas, dtype=np.uint64), dtype=np.uint64)


# ---------------------------------------------------------------------------
# block builders
# ---------------------------------------------------------------------------

BLOCK_SCHEMA = (
    "term string, block_id long, n int, first_doc long, last_doc long, "
    "max_tf int, docs_vb binary, tfs_vb binary"
)

DL_BLOCK_SCHEMA = "block_id long, n int, docs_vb binary, dls_vb binary"


def _encode_concat(flat: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """VByte-encode a concatenation of blocks in ONE vectorized pass,
    then split the byte stream at block boundaries."""
    out, lens = _vbyte_encode_raw(flat)
    if flat.size == 0:
        return []
    blens = np.add.reduceat(lens, starts)
    bends = np.cumsum(blens)
    buf = out.tobytes()
    return [buf[e - l:e] for e, l in zip(bends.tolist(), blens.tolist())]


def _encode_pairs(docs_s: pd.Series, vals_s: pd.Series) -> pd.DataFrame:
    """Arrow-batched scalar encoder: each row is ONE block's (sorted)
    doc array + value array; returns the two VByte buffers.

    A scalar pandas UDF (not groupBy.applyInPandas) because a realistic
    Zipf vocabulary yields millions of (term, block) groups and
    per-group pandas dispatch dominates.  Inside the batch everything is
    vectorized ACROSS blocks too: the arrays are concatenated, deltas
    are computed in one pass (with each block's first element reset to
    its absolute value), VByte runs once over the whole batch, and the
    byte stream is sliced at block boundaries — per-block Python is two
    list appends."""
    n = len(docs_s)
    if n == 0:
        return pd.DataFrame({"docs_vb": [], "vals_vb": []})
    counts = np.fromiter((len(x) for x in docs_s), dtype=np.int64, count=n)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    all_docs = np.concatenate([np.asarray(x, dtype=np.uint64) for x in docs_s])
    all_vals = np.concatenate([np.asarray(x, dtype=np.uint64) for x in vals_s])
    # per-block delta coding on the concatenated array: global deltas,
    # then restore each block's first element to its absolute doc id
    d = all_docs.copy()
    d[1:] -= all_docs[:-1]
    d[starts] = all_docs[starts]
    return pd.DataFrame(
        {"docs_vb": _encode_concat(d, starts), "vals_vb": _encode_concat(all_vals, starts)}
    )


def _encode_pairs_udf():
    # constructed lazily: parsing the DDL return type needs an active
    # SparkSession, which doesn't exist at import time in tests
    return F.pandas_udf(_encode_pairs, "docs_vb binary, vals_vb binary")


def build_block_postings(
    postings: DataFrame,
    block_span: int = DEFAULT_BLOCK_SPAN,
) -> DataFrame:
    """postings(term, doc_int, tf) -> one row per (term, block).

    Shape: one groupBy(term, block_id) with a sorted collect_list (keys
    bounded by ``block_span`` postings — no skew), block-max metadata as
    native aggregates, and the VByte packing as ONE scalar Arrow UDF
    over the collected arrays."""
    wb = postings.select(
        "term",
        (F.col("doc_int") / F.lit(block_span)).cast("long").alias("block_id"),
        "doc_int", "tf",
    )
    grouped = wb.groupBy("term", "block_id").agg(
        F.sort_array(F.collect_list(F.struct("doc_int", "tf"))).alias("pl"),
        F.count("*").cast("int").alias("n"),
        F.min("doc_int").alias("first_doc"),
        F.max("doc_int").alias("last_doc"),
        F.max("tf").cast("int").alias("max_tf"),
    )
    enc = _encode_pairs_udf()(
        F.transform(F.col("pl"), lambda x: x["doc_int"]),
        F.transform(F.col("pl"), lambda x: x["tf"].cast("long")),
    )
    return grouped.select(
        "term", "block_id", "n", "first_doc", "last_doc", "max_tf",
        enc["docs_vb"].alias("docs_vb"), enc["vals_vb"].alias("tfs_vb"),
    )


def build_dl_blocks(docs: DataFrame, block_span: int = DEFAULT_BLOCK_SPAN) -> DataFrame:
    """docs(doc_int, length) -> aligned doc-length blocks for the WAND
    kernel's dl lookups (avoids a postings⋈docs shuffle at query time)."""
    wb = docs.select(
        (F.col("doc_int") / F.lit(block_span)).cast("long").alias("block_id"),
        "doc_int", F.col("length").cast("long").alias("length"),
    )
    grouped = wb.groupBy("block_id").agg(
        F.sort_array(F.collect_list(F.struct("doc_int", "length"))).alias("pl"),
        F.count("*").cast("int").alias("n"),
    )
    enc = _encode_pairs_udf()(
        F.transform(F.col("pl"), lambda x: x["doc_int"]),
        F.transform(F.col("pl"), lambda x: x["length"]),
    )
    return grouped.select(
        "block_id", "n",
        enc["docs_vb"].alias("docs_vb"), enc["vals_vb"].alias("dls_vb"),
    )


def decode_block(docs_vb: bytes, tfs_vb: bytes) -> tuple[np.ndarray, np.ndarray]:
    return delta_decode(vbyte_decode(docs_vb)), vbyte_decode(tfs_vb)


# ---------------------------------------------------------------------------
# persistence (the compressed serving layout)
# ---------------------------------------------------------------------------

def write_block_index(
    blocks: DataFrame,
    dl_blocks: DataFrame,
    out_dir: str,
    term_buckets: int = 32,
) -> None:
    """Persist the compressed serving index.

    Blocks are partitioned by ``tbucket = hash(term) % term_buckets`` so a
    query touching T terms scans at most T buckets (partition pruning —
    the columnar analog of the reference's vocabulary offset pointers),
    and sorted within partitions by (term, block_id) for row-group
    locality."""
    (
        blocks.withColumn("tbucket", term_bucket_expr(F.col("term"), term_buckets))
        .repartition(term_buckets, "tbucket")
        .sortWithinPartitions("term", "block_id")
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
    long-lived reader lists the layout ONCE and the route prunes per
    query with a ``tbucket.isin(...)`` filter (partition pruning still
    applies at plan time).  The returned pair is registered with its
    files (``served_layout``), so the route can serve small queries from
    them in the driver."""
    blocks = read_table(spark, os.path.join(out_dir, "blocks"))
    if not keep_bucket:
        blocks = blocks.drop("tbucket")
    dl_blocks = read_table(spark, os.path.join(out_dir, "dl_blocks"))
    _READ_FROM[blocks] = _READ_FROM[dl_blocks] = BlockLayout(out_dir)
    return blocks, dl_blocks
