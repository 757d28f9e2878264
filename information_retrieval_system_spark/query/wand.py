"""Routed exact top-k BM25: one path for one query and for a query set.

The reference sends every query through one scorer, one ad-hoc query or
the 635 queries of a TREC run alike (OkapiBM25_FR.java:90-420, looped by
Search_FR.java:994-1098).  Here too there is one path:
``route_batch_bm25`` takes a (qid, term[, qtf]) frame, and a single query
is a batch of one (``route_bm25`` runs it as qid 0).

- The query frame is collected in the driver once, and ONE term-stats
  collect fetches every distinct query term's (df[, tbucket]) row.  The
  frames of ``analyze_query_terms`` / ``queries_to_terms`` and the route's
  own (qid, term) frames are local relations, so that collect is the only
  Spark job of planning.
- Each qid routes on ``Σ df``, the posting rows the exhaustive plan would
  score: ``>= wand_min_postings`` -> block-max WAND over the compressed
  blocks, below -> the exhaustive ``scoring.bm25_scores`` plan.
- ONE per-qid window over the union of both routes cuts each query's
  top-k under (score DESC, doc_id ASC).  Both routes are exact, so
  routing is invisible in values.

Block-max WAND replaces the reference's approximate early cutoff
(idf-sorted terms, stop when >= topk docs collected,
OkapiBM25_FR.java:486-511,758-761) with an EXACT scheme (SURVEY.md §2.5
O5, §4 item 1):

- posting blocks are doc-range aligned across terms (compression.py); a
  broadcast (qid, term) fan-out keys them by (qid, block_id), and the dl
  blocks are inner-joined to each qid's block ids, so one cogroup yields,
  per (query, doc range), the query's postings plus the range's doc
  lengths.  dl work follows the query's posting footprint, never the
  corpus;
- per-range upper bound: ``ub(range) = Σ_t idf_t · max_tf·(k1+1) /
  (max_tf + k1·(1-b))`` — since ``dl ≥ 0`` and the BM25 term score is
  monotone increasing in tf and decreasing in dl, this dominates every
  doc score in the range (safe-pruning proof in SURVEY.md §4.1);
- a per-(python worker, qid) shared threshold (the k-th best score seen
  so far) skips whole ranges whose ub cannot reach the heap —
  opportunistic but SAFE: the final k-th best is ≥ any worker's current
  k-th best, so skipped ranges can never hold a final top-k doc.
  Negative-idf terms (df > N/2, common in tiny corpora) bound at 0;
- each cogroup cell emits at most k rows.

Only the kernel body is Python (vectorized numpy over decoded blocks),
entering via ``applyInArrow`` on a cogroup — pyarrow Tables in and out,
never per-row and never through a pandas block manager (the per-cell
pandas construction cost halved the batch path in the r7 A/B).
"""

from __future__ import annotations

import dataclasses
import heapq
import uuid

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..analysis.analyzer import local_frame
from ..config import DEFAULT_CONFIG, EngineConfig
from ..index.builder import term_bucket_expr
from ..index.compression import DEFAULT_BLOCK_SPAN, vbyte_decode
from .batch import rank_per_qid
from .scoring import bm25_scores

# per-worker shared pruning state: {query_key: heap of best scores (size<=k)}
_THRESH: dict[str, list[float]] = {}

class _DecodeMemo(dict):
    """Per-worker decode memo keyed by the ENCODED bytes themselves: in a
    batch, every query touching a (term, block) cell receives the same
    VByte payload, so a head term shared by hundreds of Zipf queries
    would otherwise decode once PER QUERY.

    Bounded by the bytes of the arrays it holds (``nbytes <=
    max_bytes``), evicting oldest-first; cached arrays are read-only, so
    a kernel that mutated one would fail loudly instead of corrupting
    later queries."""

    def __init__(self, decode, max_bytes: int):
        super().__init__()
        self.decode = decode
        self.max_bytes = max_bytes
        self.nbytes = 0

    def lookup(self, vb: bytes) -> "np.ndarray":
        arr = self.get(vb)
        if arr is None:
            arr = self.decode(vb)
            arr.setflags(write=False)
            self[vb] = arr
            self.nbytes += arr.nbytes
            while self.nbytes > self.max_bytes:
                self.nbytes -= self.pop(next(iter(self))).nbytes
        return arr

    def clear(self) -> None:
        super().clear()
        self.nbytes = 0


#: per memo, per Python worker
_DECODE_MAX_BYTES = 32 * 2**20
_DECODE_VALS = _DecodeMemo(vbyte_decode, _DECODE_MAX_BYTES)
# absolute doc ids (cumsum of the stored gaps), cached post-cumsum
_DECODE_DOCS = _DecodeMemo(
    lambda vb: np.cumsum(vbyte_decode(vb), dtype=np.uint64), _DECODE_MAX_BYTES)
_cached_vals = _DECODE_VALS.lookup
_cached_docs = _DECODE_DOCS.lookup


def collect_query_term_rows(terms: DataFrame, qset: list[str],
                            blocks: DataFrame, term_buckets: int | None) -> list:
    """ONE driver job: (term, df) rows for the query terms, plus each
    term's ``tb`` partition id when the serving layout carries
    ``tbucket`` (the write side's ``term_bucket_expr``, evaluated by
    Spark)."""
    sel = [F.col("term"), F.col("df")]
    if term_buckets and "tbucket" in blocks.columns:
        sel.append(term_bucket_expr(F.col("term"), term_buckets).alias("tb"))
    return terms.filter(F.col("term").isin(list(qset))).select(*sel).collect()


def _empty_cell():
    import pyarrow as pa

    return pa.table({"qid": pa.array([], pa.int64()),
                     "doc_int": pa.array([], pa.int64()),
                     "score": pa.array([], pa.float64())})


def _wand_kernel(idfs_by_qid: dict[int, dict[str, float]], k: int,
                 k1: float, b: float, avgdl: float, span: int, qkey: str):
    """The cogroup kernel over one (qid, block) cell -> that query's top-k
    docs of the range.

    Arrow-native (``applyInArrow``): each cell arrives as a pyarrow Table
    and never round-trips through a pandas block manager — the per-cell
    dispatch overhead dominated the batch path (thousands of (qid, block)
    cells per query set) and halved under Arrow in the r7 A/B (11.7 s ->
    5.9 s, identical output)."""
    import pyarrow as pa

    def kernel(key, pblocks, dlblock):
        if pblocks.num_rows == 0 or dlblock.num_rows == 0:
            return _empty_cell()
        qid, block = int(key[0].as_py()), int(key[1].as_py())
        idfs = idfs_by_qid[qid]
        if len(_THRESH) > 4096:  # bound per-worker state across queries
            _THRESH.clear()
        heap = _THRESH.setdefault(f"{qkey}:{qid}", [])
        theta = heap[0] if len(heap) >= k else -np.inf

        # --- block-max upper bound for this doc range ------------------
        # per-term contributions, kept for the in-kernel early exit
        # (negative idf contributes 0: the term score is < 0 everywhere,
        # so 0 is a safe upper bound for it)
        rows_term = pblocks.column("term").to_pylist()
        contribs = []
        for term, max_tf in zip(rows_term, pblocks.column("max_tf").to_pylist()):
            idf = idfs[term]
            mt = float(max_tf)
            contribs.append(
                idf * mt * (k1 + 1.0) / (mt + k1 * (1.0 - b)) if idf >= 0.0 else 0.0
            )
        ub = sum(contribs)
        if ub < theta:
            return _empty_cell()

        # --- decode dl block (memoized across queries) ----------------
        base = block * span
        ddocs = _cached_docs(dlblock.column("docs_vb")[0].as_py())
        dls = _cached_vals(dlblock.column("dls_vb")[0].as_py()).astype(np.float64)
        dl_arr = np.zeros(span, dtype=np.float64)
        dl_arr[(ddocs - np.uint64(base)).astype(np.int64)] = dls

        # --- doc-at-a-time accumulation over the range -----------------
        # terms in DESCENDING bound order with suffix sums: after term j,
        # no doc can exceed max(best partial, 0) + suffix_ub[j+1] — when
        # that falls below theta the remaining (smaller) terms need not
        # be decoded at all (tightens the static block-max with the
        # ACTUAL best partial once the heavy terms are in)
        order = sorted(range(len(contribs)), key=lambda i: -contribs[i])
        suffix = 0.0
        suffix_ub = [0.0] * (len(order) + 1)
        for j in range(len(order) - 1, -1, -1):
            suffix += contribs[order[j]]
            suffix_ub[j] = suffix
        rows_dvb = pblocks.column("docs_vb").to_pylist()
        rows_tvb = pblocks.column("tfs_vb").to_pylist()
        scores = np.zeros(span, dtype=np.float64)
        touched = np.zeros(span, dtype=bool)
        best_partial = 0.0
        for j, ri in enumerate(order):
            if best_partial + suffix_ub[j] < theta and j > 0:
                return _empty_cell()  # no doc here can reach the heap
            idf = idfs[rows_term[ri]]
            docs = _cached_docs(rows_dvb[ri])
            tfs = _cached_vals(rows_tvb[ri]).astype(np.float64)
            off = (docs - np.uint64(base)).astype(np.int64)
            dl = dl_arr[off]
            s = idf * tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dl / avgdl))
            scores[off] += s
            touched[off] = True
            if off.size:
                best_partial = max(best_partial, float(scores[off].max()))

        idx = np.nonzero(touched)[0]
        if idx.size == 0:
            return _empty_cell()
        sc = scores[idx]
        # local top-k of this range under the GLOBAL total order
        # (score DESC, doc_int ASC): argpartition alone keeps an arbitrary
        # subset among docs tied at the k-th score, which can drop the
        # smaller-doc_int doc the per-qid window would have kept
        if idx.size > k:
            order = np.lexsort((idx, -sc))[:k]
            idx, sc = idx[order], sc[order]
        # update the worker-shared threshold heap
        for v in sc:
            if len(heap) < k:
                heapq.heappush(heap, float(v))
            elif v > heap[0]:
                heapq.heapreplace(heap, float(v))
        return pa.table({"qid": pa.array(np.full(idx.size, qid, dtype=np.int64)),
                         "doc_int": pa.array((idx + base).astype(np.int64)),
                         "score": pa.array(sc)})

    return kernel


def route_batch_bm25(
    index,
    blocks: DataFrame,
    dl_blocks: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    block_span: int = DEFAULT_BLOCK_SPAN,
    term_buckets: int | None = None,
    wand_min_postings: int = 1_000_000,
) -> tuple[DataFrame, dict[int, str]]:
    """query_terms(qid, term[, qtf]) -> ((qid, doc_id, rank, score) top-k
    per query, {qid: route}).

    ``blocks``/``dl_blocks`` come from compression.build_* or
    ``read_block_index``; with ``keep_bucket=True`` and ``term_buckets``
    the blocks scan carries a ``tbucket`` partition filter for the WAND
    queries' terms.  ``wand_min_postings`` is the per-cluster crossover:
    BENCH.md round 4 (5M-doc Zipf) measured WAND 1.9-2.2x faster at 2.5M+
    postings and 0.91x at ~380k; re-calibrate with
    ``tools/wand_crossover.py``.  Duplicate (qid, term) rows count once
    (BM25 counts a term once per query, OkapiBM25_FR.java:330-404)."""
    spark = query_terms.sparkSession
    queries: dict[int, set[str]] = {}
    for r in query_terms.select("qid", "term").collect():
        queries.setdefault(int(r.qid), set()).add(r.term)
    union_terms = sorted({t for ts in queries.values() for t in ts})
    trows = (collect_query_term_rows(index.terms, union_terms, blocks, term_buckets)
             if union_terms else [])
    dfmap = {r.term: float(r.df) for r in trows}
    routes = {q: "wand" if sum(dfmap.get(t, 0) for t in ts) >= wand_min_postings
              else "exhaustive" for q, ts in queries.items()}

    def pairs(route: str) -> list[tuple[int, str]]:
        return [(q, t) for q in sorted(queries) if routes[q] == route
                for t in sorted(queries[q]) if t in dfmap]

    parts = []
    wand_pairs = pairs("wand")
    if wand_pairs:
        n, avgdl = index.stats["n_docs"], float(index.stats["avgdl"])
        idfs: dict[int, dict[str, float]] = {}
        for q, t in wand_pairs:
            idfs.setdefault(q, {})[t] = float(
                np.log2((n - dfmap[t] + 0.5) / (dfmap[t] + 0.5)))
        # unique per plan: a stale heap from an earlier plan (possibly
        # another corpus) must never seed this one's pruning threshold
        kernel = _wand_kernel(idfs, k, cfg.k1, cfg.b, avgdl, block_span, uuid.uuid4().hex)
        wand_terms = sorted({t for _, t in wand_pairs})
        qb = blocks
        if "tbucket" in qb.columns:
            if term_buckets:
                tbs = sorted({int(r.tb) for r in trows if r.term in wand_terms})
                qb = qb.filter(F.col("tbucket").isin(tbs))
            qb = qb.drop("tbucket")
        qt = local_frame(spark, wand_pairs, "qid long, term string")
        qblocks = qb.filter(F.col("term").isin(wand_terms)).join(F.broadcast(qt), "term")
        # dl fan-out: inner join on each qid's posting block ids (renamed
        # keys: qdl and qblocks share lineage, and the cogroup would
        # otherwise see ambiguous attribute ids)
        qkeys = qblocks.select(F.col("qid").alias("_qid"),
                               F.col("block_id").alias("_bid")).distinct()
        qdl = (dl_blocks.join(qkeys, F.col("block_id") == F.col("_bid"))
               .select(F.col("_qid").alias("qid"), "block_id", "docs_vb", "dls_vb"))
        w = (qblocks.groupBy("qid", "block_id")
             .cogroup(qdl.groupBy("qid", "block_id"))
             .applyInArrow(kernel, "qid long, doc_int long, score double"))
        if index.stats.get("int_doc_ids"):
            w = w.select("qid", F.col("doc_int").alias("doc_id"), "score")
        else:
            w = (w.join(index.docs.select("doc_int", "doc_id"), "doc_int", "left")
                 .select("qid", "doc_id", "score"))
        parts.append(w)
    ex_pairs = pairs("exhaustive")
    if ex_pairs:
        # prefilter the postings scan to the exhaustive terms (a no-op on
        # values: the inner join keeps only these terms anyway); the
        # literal isin runs in the scan stage ahead of the broadcast probe
        # and measured 1.7x on a 436-query set (r7 A/B)
        ex_terms = sorted({t for _, t in ex_pairs})
        ix_f = dataclasses.replace(
            index, postings=index.postings.filter(F.col("term").isin(ex_terms)))
        parts.append(bm25_scores(ix_f, local_frame(spark, ex_pairs, "qid long, term string"),
                                 cfg=cfg))
    if not parts:
        return local_frame(spark, [], "qid long, doc_id long, rank int, score double"), routes
    scores = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return rank_per_qid(scores, k), routes


def route_bm25(index, blocks: DataFrame, dl_blocks: DataFrame, query_terms: DataFrame,
               k: int = 10, cfg: EngineConfig = DEFAULT_CONFIG,
               block_span: int = DEFAULT_BLOCK_SPAN, term_buckets: int | None = None,
               wand_min_postings: int = 1_000_000) -> tuple[DataFrame, str]:
    """One query (term[, qtf]) run as the batch of one, qid 0 ->
    ((doc_id, score) top-k in rank order, route)."""
    res, routes = route_batch_bm25(
        index, blocks, dl_blocks, query_terms.withColumn("qid", F.lit(0).cast("long")),
        k=k, cfg=cfg, block_span=block_span, term_buckets=term_buckets,
        wand_min_postings=wand_min_postings)
    # the limit plans a k-row top-k merge, not a range-partitioned sort
    return res.orderBy("rank").limit(k).select("doc_id", "score"), routes.get(0, "exhaustive")
