"""Routed exact top-k BM25: one path for one query and for a query set.

The reference answers each query in one process: it loads the
vocabulary, fetches the query terms' posting lists and scores them
(OkapiBM25_FR.java:90-420), one ad-hoc query or the 635 queries of a
TREC run alike (looped by Search_FR.java:994-1098).  Here too there is
one path: ``route_batch_bm25`` takes a (qid, term[, qtf]) frame, and a
single query is a batch of one (``route_bm25`` runs it as qid 0).

- The query frame is collected in the driver once.  Each distinct query
  term's df comes from the written layout when ``blocks``/``dl_blocks``
  are the exact pair ``read_block_index`` returned
  (``compression.served_layout``): a pyarrow read of the terms'
  ``(term, n, tbucket)`` block rows gives df = Σ ``n`` and the term's
  ``tbucket`` hive partition, with no Spark job.  Any other frames (in
  memory, or derived from a read frame) take ONE term-stats collect.
- The first routing choice is driver or Spark:
  - driver: on the written layout, smallest qids first while the block
    rows of the driver qids' distinct terms, which the driver holds at
    once, fit in ``DRIVER_MAX_BYTES`` (a bound on the batch, not per
    qid).  pyarrow reads those rows (their tbucket partitions, a
    ``term`` filter) and the dl blocks they touch; ``score_block``
    scores each (qid, block) in this process.  The rows come back as a
    local relation already in rank order: 0 Spark jobs for int doc ids,
    one doc_int -> doc_id lookup job for string ones;
  - Spark, by each qid's ``Σ df`` (the posting rows an exhaustive plan
    would score): ``>= wand_min_postings`` -> block-max WAND,
    ``score_block`` run by an ``applyInArrow`` cogroup kernel; below ->
    the exhaustive
    ``scoring.bm25_scores`` plan.  ONE per-qid window over the union of
    both cuts each query's top-k under (score DESC, doc_id ASC).
- Every route is exact, so routing is invisible in values; the route
  is named per qid, so a fallback to Spark is never silent.

Block-max WAND replaces the reference's approximate early cutoff
(idf-sorted terms, stop when >= topk docs collected,
OkapiBM25_FR.java:486-511,758-761) with an EXACT scheme (SURVEY.md §2.5
O5, §4 item 1), in ONE per-(qid, block) body, ``score_block``:

- posting blocks are doc-range aligned across terms (compression.py), so
  one (qid, block) cell holds the query's postings of one doc range plus
  the range's doc lengths.  On Spark a broadcast (qid, term) fan-out
  keys the blocks by (qid, block_id) and the dl blocks are inner-joined
  to each qid's block ids; in the driver the read is keyed the same way.
  dl work follows the query's posting footprint, never the corpus;
- per-range upper bound: ``ub(range) = Σ_t idf_t · max_tf·(k1+1) /
  (max_tf + k1·(1-b))`` — since ``dl ≥ 0`` and the BM25 term score is
  monotone increasing in tf and decreasing in dl, this dominates every
  doc score in the range (safe-pruning proof in SURVEY.md §4.1);
- a threshold heap (the k-th best score seen so far; per qid in the
  driver, per (python worker, qid) on Spark) skips whole ranges whose ub
  cannot reach it — SAFE: the final k-th best is ≥ any partial heap's
  k-th best, so skipped ranges can never hold a final top-k doc.
  Negative-idf terms (df > N/2, common in tiny corpora) bound at 0;
- each cell emits at most k rows.

The body is vectorized numpy over the blocks' int arrays, read as
numpy views of the Arrow buffers (``compression.list_column``), with no
decode step and no per-row Python list.  On Spark it enters
via ``applyInArrow`` — pyarrow Tables in and out, never per-row and never
through a pandas block manager (the per-cell pandas construction cost
halved the batch path in the r7 A/B).
"""

from __future__ import annotations

import dataclasses
import heapq
import uuid

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..analysis.analyzer import local_frame
from ..config import DEFAULT_CONFIG, EngineConfig
from ..index.builder import term_bucket_expr
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

#: the driver route's budget for one routed call: the estimated bytes
#: (``ROW_BYTES``, ``POSTING_BYTES``) of the distinct terms of every
#: driver-served qid; the other qids go to Spark.  Besides it the driver
#: holds the touched dl blocks and Arrow's scan buffers (10-120 MB
#: measured), so one call stays near 0.5 GiB.  A memory bound, since no
#: time crossover was found on 4 vCPUs: the driver beat both Spark routes
#: on every single query ``tools/wand_crossover.py --zipf`` measured (Σdf
#: 176 to 772k over 2k-1M docs), on its 635-query batch at 200k docs
#: (7.6-8.9 s against 14.5 s all on Spark) and on a 50-qid batch of
#: 14,000 Zipf tail terms (Σdf 583k at 200k docs: 10.5 s against 21.3 s
#: for Spark WAND).  Σdf alone is no memory bound: that tail batch holds
#: 539k block rows, the 635-query batch 29,550 rows for 4.3M postings.
DRIVER_MAX_BYTES = 384 * 2**20

# per-worker shared pruning state: {query_key: heap of best scores (size<=k)}
_THRESH: dict[str, list[float]] = {}


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


def layout_term_rows(layout: BlockLayout, qset: list[str]) -> tuple[dict, dict, dict]:
    """The same (df, tbucket) per query term, read from a written layout
    by pyarrow in the driver, plus the bytes the driver route holds for
    the term: df is the Σ ``n`` of the term's block rows and tbucket its
    hive partition.  A ``term`` filter over every partition, so no bucket
    count is assumed.  No Spark job."""
    t = layout.blocks.to_table(columns=["term", "n", "tbucket"],
                               filter=pc.field("term").isin(qset))
    g = t.group_by(["term", "tbucket"]).aggregate([("n", "sum"), ("n", "count")]).to_pydict()
    return (dict(zip(g["term"], map(float, g["n_sum"]))),
            {t: r * ROW_BYTES + n * POSTING_BYTES
             for t, r, n in zip(g["term"], g["n_count"], g["n_sum"])},
            dict(zip(g["term"], g["tbucket"])))


def _empty_cell():
    import pyarrow as pa

    return pa.table({"qid": pa.array([], pa.int64()),
                     "doc_int": pa.array([], pa.int64()),
                     "score": pa.array([], pa.float64())})


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
    """One query's top-k docs of one doc range, the body of both the
    Spark kernel and the driver loop.

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


def _wand_kernel(idfs_by_qid: dict[int, dict[str, float]], p: Bm25Params, qkey: str):
    """The cogroup kernel over one (qid, block) cell: ``score_block`` with
    a per-(python worker, qid) shared heap.

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
        if len(_THRESH) > 4096:  # bound per-worker state across queries
            _THRESH.clear()
        got = score_block(
            block, block_rows(pblocks), dl_rows(dlblock)[0],
            idfs_by_qid[qid], _THRESH.setdefault(f"{qkey}:{qid}", []), p)
        if got is None:
            return _empty_cell()
        docs, sc = got
        return pa.table({"qid": pa.array(np.full(docs.size, qid, dtype=np.int64)),
                         "doc_int": pa.array(docs),
                         "score": pa.array(sc)})

    return kernel


def driver_ranked(layout: BlockLayout, idfs_by_qid: dict[int, dict[str, float]],
                  tbucket: dict[str, int], p: Bm25Params) -> dict[int, list[tuple[int, float]]]:
    """qid -> its top-k [(doc_int, score)] in rank order (score DESC,
    doc_int ASC), scored in the driver: one pyarrow read of the query
    terms' block rows (their tbucket partitions, a ``term`` filter), one of
    the dl blocks they touch, then ``score_block`` per (qid, block)."""
    terms = sorted({t for idfs in idfs_by_qid.values() for t in idfs})
    if not terms:
        return {}
    tab = layout.blocks.to_table(
        columns=["block_id", *BLOCK_COLS],
        filter=(pc.field("tbucket").isin(sorted({tbucket[t] for t in terms}))
                & pc.field("term").isin(terms)))
    block_ids = tab.column("block_id").to_pylist()
    by_term: dict[str, list[tuple]] = {}  # term -> [(block_id, BLOCK_COLS row)]
    for b, row in zip(block_ids, block_rows(tab)):
        by_term.setdefault(row[0], []).append((b, row))
    dl = layout.dl_blocks.to_table(columns=["block_id", "docs", "dls"],
                                   filter=pc.field("block_id").isin(sorted(set(block_ids))))
    dl_of = dict(zip(dl.column("block_id").to_pylist(), dl_rows(dl)))
    out = {}
    for q, idfs in idfs_by_qid.items():
        by_block: dict[int, list[tuple]] = {}
        for term in idfs:
            for b, row in by_term.get(term, ()):
                by_block.setdefault(b, []).append(row)
        heap: list[float] = []
        docs, sc = [np.zeros(0, np.int64)], [np.zeros(0)]
        for b in sorted(by_block.keys() & dl_of.keys()):
            got = score_block(b, by_block[b], dl_of[b], idfs, heap, p)
            if got is not None:
                docs.append(got[0])
                sc.append(got[1])
        d, s = np.concatenate(docs), np.concatenate(sc)
        top = np.lexsort((d, -s))[:p.k]
        out[q] = list(zip(d[top].tolist(), s[top].tolist()))
    return out


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


def _route(index, blocks, dl_blocks, queries: dict[int, set[str]], k, cfg, block_span,
           term_buckets, wand_min_postings):
    """{qid: terms} -> ((qid, doc_id, rank, score) frame of the Spark
    routes or None, {qid: [(doc_id, score)] in rank order} of the driver
    route, doc_id type, {qid: route})."""
    spark = blocks.sparkSession
    union_terms = sorted({t for ts in queries.values() for t in ts})
    layout = served_layout(blocks, dl_blocks)
    held: dict[str, int] = {}  # term -> bytes the driver route holds
    if not union_terms:
        dfmap, tbmap = {}, {}
    elif layout is not None:
        dfmap, held, tbmap = layout_term_rows(layout, union_terms)
    else:
        trows = collect_query_term_rows(index.terms, union_terms, blocks, term_buckets)
        dfmap = {r.term: float(r.df) for r in trows}
        tbmap = {r.term: int(r.tb) for r in trows if "tb" in r.asDict()}

    # driver admission, smallest first: a qid is served in the driver
    # while the terms of every qid served so far fit in DRIVER_MAX_BYTES
    # (driver_ranked holds all their block rows at once)
    sigma = {q: sum(dfmap.get(t, 0) for t in ts) for q, ts in queries.items()}
    routes: dict[int, str] = {}
    in_driver: set[str] = set()
    load = 0
    for q in sorted(queries, key=lambda q: (sum(held.get(t, 0) for t in queries[q]), q)):
        new = {t for t in queries[q] if t in held} - in_driver
        add = sum(held[t] for t in new)
        if layout is not None and load + add <= DRIVER_MAX_BYTES:
            routes[q] = "driver"
            in_driver |= new
            load += add
        else:
            routes[q] = "wand" if sigma[q] >= wand_min_postings else "exhaustive"

    def pairs(name: str) -> list[tuple[int, str]]:
        return [(q, t) for q in sorted(queries) if routes[q] == name
                for t in sorted(queries[q]) if t in dfmap]

    n, avgdl = index.stats["n_docs"], float(index.stats["avgdl"])

    def idfs_of(qt_pairs) -> dict[int, dict[str, float]]:
        idfs: dict[int, dict[str, float]] = {}
        for q, t in qt_pairs:
            idfs.setdefault(q, {})[t] = float(
                np.log2((n - dfmap[t] + 0.5) / (dfmap[t] + 0.5)))
        return idfs

    p = Bm25Params(k, cfg.k1, cfg.b, avgdl, block_span)
    parts = []
    wand_pairs = pairs("wand")
    if wand_pairs:
        # unique per plan: a stale heap from an earlier plan (possibly
        # another corpus) must never seed this one's pruning threshold
        kernel = _wand_kernel(idfs_of(wand_pairs), p, uuid.uuid4().hex)
        wand_terms = sorted({t for _, t in wand_pairs})
        qb = blocks
        if "tbucket" in qb.columns:
            if tbmap:
                qb = qb.filter(F.col("tbucket").isin(sorted({tbmap[t] for t in wand_terms})))
            qb = qb.drop("tbucket")
        qt = local_frame(spark, wand_pairs, "qid long, term string")
        qblocks = qb.filter(F.col("term").isin(wand_terms)).join(F.broadcast(qt), "term")
        # dl fan-out: inner join on each qid's posting block ids (renamed
        # keys: qdl and qblocks share lineage, and the cogroup would
        # otherwise see ambiguous attribute ids)
        qkeys = qblocks.select(F.col("qid").alias("_qid"),
                               F.col("block_id").alias("_bid")).distinct()
        qdl = (dl_blocks.join(qkeys, F.col("block_id") == F.col("_bid"))
               .select(F.col("_qid").alias("qid"), "block_id", "docs", "dls"))
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
    ranked = None
    if parts:
        ranked = rank_per_qid(parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1]), k)
    driver, id_type = _with_doc_ids(
        index, driver_ranked(layout, idfs_of(pairs("driver")), tbmap, p))
    return ranked, driver, id_type, routes


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
    per query, {qid: route}), route one of "driver", "wand", "exhaustive".

    ``blocks``/``dl_blocks`` come from compression.build_* or
    ``read_block_index``; only the exact pair ``read_block_index``
    returned is served from its files (the driver route).
    ``term_buckets`` is the layout's bucket count (``write_block_index``).
    Over ``keep_bucket=True`` frames the Spark WAND blocks scan carries a
    ``tbucket`` partition filter, its buckets read from the layout's
    partitions when served, else computed from ``term_buckets`` (when
    given); the driver route reads each term's bucket from the layout.
    ``wand_min_postings``
    is the Spark route's crossover: WAND beat exhaustive from ~50k-90k
    postings at 200k-1M Zipf docs and never at 2k-10k docs (CHANGES.md);
    BENCH.md round 4 (5M docs) measured 1.9-2.2x at 2.5M+ postings.
    Re-calibrate with ``tools/wand_crossover.py``.  Duplicate (qid, term)
    rows count once (BM25 counts a term once per query,
    OkapiBM25_FR.java:330-404)."""
    queries: dict[int, set[str]] = {}
    for r in query_terms.select("qid", "term").collect():
        queries.setdefault(int(r.qid), set()).add(r.term)
    ranked, driver, id_type, routes = _route(
        index, blocks, dl_blocks, queries, k, cfg, block_span, term_buckets, wand_min_postings)
    if ranked is not None and not driver:
        return ranked, routes
    drv = local_frame(query_terms.sparkSession,
                      [(q, d, r, s) for q in sorted(driver)
                       for r, (d, s) in enumerate(driver[q], 1)],
                      f"qid long, doc_id {id_type}, rank int, score double")
    return (drv if ranked is None else ranked.unionByName(drv)), routes


def route_bm25(index, blocks: DataFrame, dl_blocks: DataFrame, query_terms: DataFrame,
               k: int = 10, cfg: EngineConfig = DEFAULT_CONFIG,
               block_span: int = DEFAULT_BLOCK_SPAN, term_buckets: int | None = None,
               wand_min_postings: int = 1_000_000) -> tuple[DataFrame, str]:
    """One query (term[, qtf]) routed as the batch of one, qid 0 ->
    ((doc_id, score) top-k in rank order, route).  A driver result, or a
    query that matches no term, is a local relation already in rank
    order.  A query with no terms reports "driver" over a served layout,
    else "exhaustive"."""
    terms = {r.term for r in query_terms.collect()}
    ranked, driver, id_type, routes = _route(
        index, blocks, dl_blocks, {0: terms} if terms else {}, k, cfg, block_span,
        term_buckets, wand_min_postings)
    route = routes.get(0) or (
        "driver" if served_layout(blocks, dl_blocks) is not None else "exhaustive")
    if ranked is not None:
        # the limit plans a k-row top-k merge, not a range-partitioned sort
        return ranked.orderBy("rank").limit(k).select("doc_id", "score"), route
    return local_frame(blocks.sparkSession, driver.get(0, []),
                       f"doc_id {id_type}, score double"), route
