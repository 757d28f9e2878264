"""Routed exact top-k BM25: one path for one query and for a query set.

The reference answers each query in one process: it loads the
vocabulary, fetches the query terms' posting lists and scores them
(OkapiBM25_FR.java:90-420), one ad-hoc query or the 635 queries of a
TREC run alike (looped by Search_FR.java:994-1098).  Here too there is
one path: ``route_batch_bm25`` takes a (qid, term[, qtf]) frame, and a
single query is a batch of one (``route_bm25`` runs it as qid 0).

The query frame is collected in the driver once, and routing is one
choice for the whole batch:

- driver: when ``blocks``/``dl_blocks`` are the exact pair
  ``read_block_index`` returned (``compression.served_layout``), every
  qid is scored in this process.  A pyarrow read of the query terms'
  ``(term, n, tbucket)`` block rows gives each term's df (Σ ``n``), its
  ``tbucket`` hive partition and the bytes the driver holds for it
  (``layout_term_rows``); ``driver_ranked`` then reads the terms' block
  rows and the dl blocks they touch, one window of contiguous block
  ids at a time (``DRIVER_MAX_BYTES`` sets the window count), and
  ``score_block`` scores each (qid, block).  The rows come back as a
  local relation already in rank order: 0 Spark jobs for int doc ids,
  one doc_int -> doc_id lookup job for string ones;
- exhaustive: any other frames (in memory, or derived from a read
  frame) send every distinct (qid, term) pair to the
  ``scoring.bm25_scores`` plan, cut per qid by ``batch.rank_per_qid``
  under (score DESC, doc_id ASC).  Planning starts no Spark job: terms
  outside the vocabulary drop out in the plan's ``terms`` join.

Both routes are exact, so routing is invisible in values; the route is
named per qid.

Block-max WAND replaces the reference's approximate early cutoff
(idf-sorted terms, stop when >= topk docs collected,
OkapiBM25_FR.java:486-511,758-761) with an EXACT scheme (SURVEY.md §2.5
O5, §4 item 1), in ONE per-(qid, block) body, ``score_block``:

- posting blocks are doc-range aligned across terms (compression.py), so
  one (qid, block) cell holds the query's postings of one doc range plus
  the range's doc lengths, and a window of block ids holds every query
  term's rows of its doc range.  dl work follows the query's posting
  footprint, never the corpus;
- per-range upper bound: ``ub(range) = Σ_t idf_t · max_tf·(k1+1) /
  (max_tf + k1·(1-b))`` — since ``dl ≥ 0`` and the BM25 term score is
  monotone increasing in tf and decreasing in dl, this dominates every
  doc score in the range (safe-pruning proof in SURVEY.md §4.1);
- a per-qid threshold heap (the k-th best score seen so far, carried
  across windows) skips whole ranges whose ub cannot reach it — SAFE:
  the final k-th best is ≥ any partial heap's k-th best, so skipped
  ranges can never hold a final top-k doc.  Negative-idf terms
  (df > N/2, common in tiny corpora) bound at 0;
- each cell emits at most k rows.

The body is vectorized numpy over the blocks' int arrays, read as
numpy views of the Arrow buffers (``compression.list_column``), with no
decode step and no per-row Python list.
"""

from __future__ import annotations

import dataclasses
import heapq
import math

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..analysis.analyzer import local_frame
from ..config import DEFAULT_CONFIG, EngineConfig
from ..index.compression import DEFAULT_BLOCK_SPAN, BlockLayout, list_column, served_layout
from .batch import rank_per_qid
from .scoring import bm25_scores

#: what ``driver_ranked`` holds per block row (its Python objects: the
#: row tuples, term, block id and two numpy views, plus the row's Arrow
#: bytes) and per posting (its doc offset and tf, two int32s in Arrow
#: buffers).  Measured on 200k Zipf docs at block spans 256 and 4096 with
#: tracemalloc plus ``pyarrow.total_allocated_bytes()`` (the numpy views
#: share Arrow's buffers, which tracemalloc does not see): 426-452 B of
#: Python objects and ~35 B of Arrow per row; ~9 B per posting.
ROW_BYTES, POSTING_BYTES = 500, 9

#: the driver route's window bound: a routed call's estimated bytes
#: (``ROW_BYTES``, ``POSTING_BYTES``, summed over the distinct terms of
#: all its qids) are split into ceil(bytes / DRIVER_MAX_BYTES) windows of
#: contiguous block ids, at most one per block, and the driver holds one
#: window's block rows at a time.  Besides them it holds the window's dl
#: blocks and Arrow's scan buffers (10-120 MB measured), so a window
#: stays near 0.5 GiB.  A memory bound, not a time crossover: the driver
#: beat both Spark routes on every single query
#: ``tools/wand_crossover.py --zipf`` measured (Σdf 176 to 772k over
#: 2k-1M docs) and on every measured batch (CHANGES.md).
DRIVER_MAX_BYTES = 384 * 2**20


def layout_term_rows(layout: BlockLayout, qset: list[str]) -> tuple[dict, dict, dict]:
    """(df, bytes, tbucket) per query term, read from a written layout by
    pyarrow in the driver: df is the Σ ``n`` of the term's block rows,
    bytes what the driver route holds for the term, and tbucket its hive
    partition.  A ``term`` filter over every partition, so no bucket
    count is assumed.  No Spark job."""
    t = layout.blocks.to_table(columns=["term", "n", "tbucket"],
                               filter=pc.field("term").isin(qset))
    g = t.group_by(["term", "tbucket"]).aggregate([("n", "sum"), ("n", "count")]).to_pydict()
    return (dict(zip(g["term"], map(float, g["n_sum"]))),
            {t: r * ROW_BYTES + n * POSTING_BYTES
             for t, r, n in zip(g["term"], g["n_count"], g["n_sum"])},
            dict(zip(g["term"], g["tbucket"])))


@dataclasses.dataclass(frozen=True)
class Bm25Params:
    """What scoring a block needs besides its rows."""
    k: int
    k1: float
    b: float
    avgdl: float
    span: int


#: the block columns ``score_block`` reads, one tuple per (term, block) row
BLOCK_COLS = ("term", "max_tf", "docs", "tfs")


def block_rows(t) -> list[tuple]:
    """The ``BLOCK_COLS`` rows of a pyarrow table, the ``docs``/``tfs``
    arrays as numpy views (``list_column``)."""
    return list(zip(t.column("term").to_pylist(), t.column("max_tf").to_pylist(),
                    list_column(t.column("docs")), list_column(t.column("tfs"))))


def dl_rows(t) -> list[tuple]:
    """The ``(docs, dls)`` arrays of each row of a pyarrow dl-block table."""
    return list(zip(list_column(t.column("docs")), list_column(t.column("dls"))))


def score_block(block: int, rows: list[tuple], dl: tuple[np.ndarray, np.ndarray],
                idfs: dict[str, float], heap: list[float], p: Bm25Params):
    """One query's top-k docs of one doc range, the body of the driver
    loop.

    ``rows`` are the query terms' ``BLOCK_COLS`` rows of ``block``, ``dl``
    its (docs, dls) doc-length arrays; ``heap`` holds the best
    scores seen so far for the query (size <= k) and is updated here.
    -> (doc_int, score) arrays, or None when no doc of the range can
    reach the heap."""
    theta = heap[0] if len(heap) >= p.k else -np.inf

    # --- block-max upper bound for this doc range ----------------------
    # per-term contributions, kept for the early exit below (negative idf
    # contributes 0: the term score is < 0 everywhere, so 0 is a safe
    # upper bound for it)
    contribs = []
    for term, max_tf, _, _ in rows:
        idf, mt = idfs[term], float(max_tf)
        contribs.append(idf * mt * (p.k1 + 1.0) / (mt + p.k1 * (1.0 - p.b))
                        if idf >= 0.0 else 0.0)
    if sum(contribs) < theta:
        return None

    # --- the range's doc lengths, indexed by in-block offset -----------
    dl_arr = np.zeros(p.span, dtype=np.float64)
    dl_arr[dl[0]] = dl[1]

    # --- doc-at-a-time accumulation over the range ---------------------
    # terms in DESCENDING bound order with suffix sums: after term j, no
    # doc can exceed max(best partial, 0) + suffix_ub[j+1] — when that
    # falls below theta the remaining (smaller) terms need not be scored
    # at all (tightens the static block-max with the ACTUAL best partial
    # once the heavy terms are in)
    order = sorted(range(len(contribs)), key=lambda i: -contribs[i])
    suffix_ub = np.cumsum([contribs[i] for i in order][::-1])[::-1].tolist()
    scores = np.zeros(p.span, dtype=np.float64)
    touched = np.zeros(p.span, dtype=bool)
    best_partial = 0.0
    for j, ri in enumerate(order):
        if j > 0 and best_partial + suffix_ub[j] < theta:
            return None  # no doc here can reach the heap
        term, _, off, tfs = rows[ri]
        tfs = tfs.astype(np.float64)
        s = idfs[term] * tfs * (p.k1 + 1.0) / (
            tfs + p.k1 * (1.0 - p.b + p.b * dl_arr[off] / p.avgdl))
        scores[off] += s
        touched[off] = True
        if off.size:
            best_partial = max(best_partial, float(scores[off].max()))

    idx = np.nonzero(touched)[0]
    if idx.size == 0:
        return None
    sc = scores[idx]
    # local top-k of this range under the GLOBAL total order (score DESC,
    # doc_int ASC): argpartition alone keeps an arbitrary subset among
    # docs tied at the k-th score, which can drop the smaller-doc_int doc
    # the final ranking would have kept
    if idx.size > p.k:
        top = np.lexsort((idx, -sc))[:p.k]
        idx, sc = idx[top], sc[top]
    for v in sc.tolist():
        if len(heap) < p.k:
            heapq.heappush(heap, v)
        elif v > heap[0]:
            heapq.heapreplace(heap, v)
    return idx + block * p.span, sc


def block_windows(layout: BlockLayout, est_bytes: int) -> list[tuple[int, int] | None]:
    """The driver route's windows for ``est_bytes`` of block rows: an
    inclusive (first, last) block id range each, ceil(est_bytes /
    ``DRIVER_MAX_BYTES``) of them with an equal share of the layout's
    block ids, at most one per block.  One window is ``[None]`` (no
    ``block_id`` filter) and reads nothing here."""
    n = math.ceil(est_bytes / DRIVER_MAX_BYTES)
    if n <= 1:
        return [None]
    ids = np.unique(layout.dl_blocks.to_table(columns=["block_id"]).column("block_id").to_numpy())
    return [(int(w[0]), int(w[-1])) for w in np.array_split(ids, min(n, ids.size))]


def _score_window(layout: BlockLayout, flt, idfs_by_qid: dict[int, dict[str, float]],
                  heaps: dict[int, list[float]], best: dict[int, tuple], p: Bm25Params) -> None:
    """Score one window: a pyarrow read of the query terms' block rows
    that pass ``flt``, one of the dl blocks they touch, then
    ``score_block`` per (qid, block), updating each qid's heap and its
    (doc_int, score) top-k arrays in ``best``.  The window's rows are
    released on return, before the next window is read."""
    tab = layout.blocks.to_table(columns=["block_id", *BLOCK_COLS], filter=flt)
    block_ids = tab.column("block_id").to_pylist()
    by_term: dict[str, list[tuple]] = {}  # term -> [(block_id, BLOCK_COLS row)]
    for b, row in zip(block_ids, block_rows(tab)):
        by_term.setdefault(row[0], []).append((b, row))
    dl = layout.dl_blocks.to_table(columns=["block_id", "docs", "dls"],
                                   filter=pc.field("block_id").isin(sorted(set(block_ids))))
    dl_of = dict(zip(dl.column("block_id").to_pylist(), dl_rows(dl)))
    for q, idfs in idfs_by_qid.items():
        by_block: dict[int, list[tuple]] = {}
        for term in idfs:
            for b, row in by_term.get(term, ()):
                by_block.setdefault(b, []).append(row)
        docs, sc = [best[q][0]], [best[q][1]]
        for b in sorted(by_block.keys() & dl_of.keys()):
            got = score_block(b, by_block[b], dl_of[b], idfs, heaps[q], p)
            if got is not None:
                docs.append(got[0])
                sc.append(got[1])
        d, s = np.concatenate(docs), np.concatenate(sc)
        top = np.lexsort((d, -s))[:p.k]
        best[q] = d[top], s[top]


def driver_ranked(layout: BlockLayout, idfs_by_qid: dict[int, dict[str, float]],
                  tbucket: dict[str, int], est_bytes: int,
                  p: Bm25Params) -> dict[int, list[tuple[int, float]]]:
    """qid -> its top-k [(doc_int, score)] in rank order (score DESC,
    doc_int ASC), scored in the driver one ``block_windows`` window at a
    time (``_score_window``): the window's read keeps the query terms'
    tbucket partitions, a ``term`` filter and, past one window, a
    ``block_id`` range.  Each qid's heap and top-k carry across windows."""
    terms = sorted({t for idfs in idfs_by_qid.values() for t in idfs})
    if not terms:
        return {}
    by_terms = (pc.field("tbucket").isin(sorted({tbucket[t] for t in terms}))
                & pc.field("term").isin(terms))
    heaps: dict[int, list[float]] = {q: [] for q in idfs_by_qid}
    best = {q: (np.zeros(0, np.int64), np.zeros(0)) for q in idfs_by_qid}
    for rng in block_windows(layout, est_bytes):
        _score_window(layout, by_terms if rng is None else (
            by_terms & (pc.field("block_id") >= rng[0]) & (pc.field("block_id") <= rng[1])),
            idfs_by_qid, heaps, best, p)
    return {q: list(zip(d.tolist(), s.tolist())) for q, (d, s) in best.items()}


def _with_doc_ids(index, ranked: dict[int, list[tuple[int, float]]]) -> tuple[dict, str]:
    """``driver_ranked``'s rows with doc_int mapped to doc_id, and the
    doc_id type.  String doc ids cost one lookup job for the result
    rows' docs; integer ones are their doc_int."""
    if index.stats.get("int_doc_ids"):
        return ranked, "long"
    ints = sorted({d for rows in ranked.values() for d, _ in rows})
    ids = {r.doc_int: r.doc_id for r in index.docs.filter(F.col("doc_int").isin(ints))
           .select("doc_int", "doc_id").collect()} if ints else {}
    return ({q: [(ids[d], s) for d, s in rows] for q, rows in ranked.items()},
            dict(index.docs.dtypes)["doc_id"])


def _route(index, blocks, dl_blocks, queries: dict[int, set[str]], k, cfg, block_span):
    """{qid: terms} -> (route, (qid, doc_id, rank, score) frame of the
    exhaustive route or None, {qid: [(doc_id, score)] in rank order} of
    the driver route, doc_id type)."""
    layout = served_layout(blocks, dl_blocks)
    pairs = [(q, t) for q in sorted(queries) for t in sorted(queries[q])]
    if layout is None:
        if not pairs:
            return ("exhaustive", None, *_with_doc_ids(index, {}))
        # prefilter the postings scan to the query terms (a no-op on
        # values: the inner join keeps only these terms anyway); the
        # literal isin runs in the scan stage ahead of the broadcast probe
        # and measured 1.7x on a 436-query set (r7 A/B)
        ix_f = dataclasses.replace(index, postings=index.postings.filter(
            F.col("term").isin(sorted({t for _, t in pairs}))))
        qt = local_frame(blocks.sparkSession, pairs, "qid long, term string")
        return "exhaustive", rank_per_qid(bm25_scores(ix_f, qt, cfg=cfg), k), {}, None
    dfmap, held, tbmap = (layout_term_rows(layout, sorted({t for _, t in pairs}))
                          if pairs else ({}, {}, {}))
    n, avgdl = index.stats["n_docs"], float(index.stats["avgdl"])
    idfs: dict[int, dict[str, float]] = {}
    for q, t in pairs:
        if t in dfmap:
            idfs.setdefault(q, {})[t] = float(np.log2((n - dfmap[t] + 0.5) / (dfmap[t] + 0.5)))
    ranked = driver_ranked(layout, idfs, tbmap, sum(held.values()),
                           Bm25Params(k, cfg.k1, cfg.b, avgdl, block_span))
    return ("driver", None, *_with_doc_ids(index, ranked))


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
    per query, {qid: route}), route "driver" for every qid when
    ``blocks``/``dl_blocks`` are the exact pair ``read_block_index``
    returned, else "exhaustive" for every qid.

    ``blocks``/``dl_blocks`` come from compression.build_* or
    ``read_block_index``; the driver route reads each term's bucket from
    the layout.  ``term_buckets`` and ``wand_min_postings`` are ignored:
    they stay in the signature until the bench stops passing them
    (ROADMAP item 3).  Duplicate (qid, term) rows count once (BM25
    counts a term once per query, OkapiBM25_FR.java:330-404)."""
    queries: dict[int, set[str]] = {}
    for r in query_terms.select("qid", "term").collect():
        queries.setdefault(int(r.qid), set()).add(r.term)
    route, ranked, driver, id_type = _route(index, blocks, dl_blocks, queries, k, cfg, block_span)
    routes = dict.fromkeys(queries, route)
    if ranked is not None:
        return ranked, routes
    return local_frame(query_terms.sparkSession,
                       [(q, d, r, s) for q in sorted(driver)
                        for r, (d, s) in enumerate(driver[q], 1)],
                       f"qid long, doc_id {id_type}, rank int, score double"), routes


def route_bm25(index, blocks: DataFrame, dl_blocks: DataFrame, query_terms: DataFrame,
               k: int = 10, cfg: EngineConfig = DEFAULT_CONFIG,
               block_span: int = DEFAULT_BLOCK_SPAN, term_buckets: int | None = None,
               wand_min_postings: int = 1_000_000) -> tuple[DataFrame, str]:
    """One query (term[, qtf]) routed as the batch of one, qid 0 ->
    ((doc_id, score) top-k in rank order, route), route "driver" over a
    served layout, else "exhaustive", also for a query with no terms.  A
    driver result, or a query with no terms, is a local relation already
    in rank order.  ``term_buckets`` and ``wand_min_postings`` are
    ignored, as in ``route_batch_bm25``."""
    terms = {r.term for r in query_terms.collect()}
    route, ranked, driver, id_type = _route(
        index, blocks, dl_blocks, {0: terms} if terms else {}, k, cfg, block_span)
    if ranked is not None:
        # the limit plans a k-row top-k merge, not a range-partitioned sort
        return ranked.orderBy("rank").limit(k).select("doc_id", "score"), route
    return local_frame(blocks.sparkSession, driver.get(0, []),
                       f"doc_id {id_type}, score double"), route
