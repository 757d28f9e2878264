"""Block-max pruned exact top-k BM25 over compressed posting blocks.

The reference's approximate early-cutoff (idf-sorted terms, stop when
>= topk docs collected, OkapiBM25_FR.java:486-511,758-761) is replaced by
an EXACT block-max scheme (SURVEY.md §2.5 O5, §4 item 1):

- posting blocks are doc-range aligned across terms (compression.py), so
  one cogroup on ``block_id`` yields, per doc range, every query term's
  postings plus the range's doc lengths — doc-at-a-time scoring without
  a global sort;
- per-range upper bound: ``ub(range) = Σ_t idf_t · max_tf·(k1+1) /
  (max_tf + k1·(1-b))`` — since ``dl ≥ 0`` and the BM25 term score is
  monotone increasing in tf and decreasing in dl, this dominates every
  doc score in the range (safe-pruning proof in SURVEY.md §4.1);
- a per-python-worker shared threshold (the k-th best score seen by that
  worker so far) skips whole ranges whose ub cannot reach the heap —
  opportunistic but SAFE: the final global k-th best is ≥ any worker's
  current k-th best, so skipped ranges can never contain a final top-k
  doc.  Negative-idf terms (df > N/2, common in tiny corpora) contribute
  their negative minimum to the bound, keeping it an upper bound;
- each cogroup task emits at most k rows; the global
  ``orderBy(score desc, doc_id asc).limit(k)`` merge is Spark's
  TakeOrderedAndProject — per-partition top-k + k-row driver merge.

Only the kernel body is Python (vectorized numpy over decoded blocks),
entering via ``applyInArrow`` on a cogroup — pyarrow Tables in and out,
never per-row and never through a pandas block manager (the per-cell
pandas construction cost halved the batch path in the r7 A/B).
"""

from __future__ import annotations

import heapq

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..index.builder import IndexTables
from ..index.compression import DEFAULT_BLOCK_SPAN, vbyte_decode

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


def _pruned_blocks(blocks: DataFrame, qterms: list[str], trows, term_buckets) -> DataFrame:
    qb = blocks
    if "tbucket" in qb.columns:
        if term_buckets:
            tbs = sorted({int(r.tb) for r in trows})
            qb = qb.filter(F.col("tbucket").isin(tbs))
        qb = qb.drop("tbucket")
    return qb.filter(F.col("term").isin(qterms))


def _should_prune_dl(df_sum: float, n_docs: int, block_span: int) -> bool:
    """Prune the dl side only when the query's posting-block footprint
    (bounded above by Σ df) is well under the corpus block count —
    otherwise the semi-join moves ~the same rows plus extra stages."""
    n_blocks = n_docs // block_span + 1
    return df_sum <= n_blocks / 2


def collect_query_term_rows(terms: DataFrame, qset: list[str],
                            blocks: DataFrame, term_buckets: int | None) -> list:
    """ONE driver job per query: (term, df) rows for the query's terms,
    plus each term's ``tbucket`` partition id when the serving layout
    carries one (bit-identical xxhash64, evaluated by Spark)."""
    sel = [F.col("term"), F.col("df")]
    if term_buckets and "tbucket" in blocks.columns:
        sel.append(F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int").alias("tb"))
    return terms.filter(F.col("term").isin(list(qset))).select(*sel).collect()


def _empty_cell(with_qid: bool):
    import pyarrow as pa

    cols = {"doc_int": pa.array([], pa.int64()),
            "score": pa.array([], pa.float64())}
    if with_qid:
        cols = {"qid": pa.array([], pa.int64()), **cols}
    return pa.table(cols)


def _kernel_factory(term_stats: dict[str, tuple[float, float]], k: int,
                    k1: float, b: float, avgdl: float, span: int, qkey: str):
    """term_stats: term -> (idf, tf_ub_factor) where the block ub is
    idf>0 ? idf * max_tf*(k1+1)/(max_tf+k1*(1-b)) : idf * small_tf_bound.

    Arrow-native (``applyInArrow``): each cogroup cell arrives as a
    pyarrow Table and never round-trips through a pandas block manager —
    the per-cell dispatch overhead dominated the batch path (thousands
    of (qid, block) cells per query set) and halved under Arrow in the
    r7 A/B (11.7 s -> 5.9 s, identical output)."""
    import pyarrow as pa

    def kernel(key, pblocks, dlblock):
        if pblocks.num_rows == 0 or dlblock.num_rows == 0:
            return _empty_cell(False)

        if len(_THRESH) > 64:  # bound per-worker state across queries
            _THRESH.clear()
        heap = _THRESH.setdefault(qkey, [])
        theta = heap[0] if len(heap) >= k else -np.inf

        # --- block-max upper bound for this doc range ------------------
        # per-term contributions, kept for the in-kernel early exit
        # (negative idf contributes 0: the term score is < 0 everywhere,
        # so 0 is a safe upper bound for it)
        rows_term = pblocks.column("term").to_pylist()
        contribs = []
        for term, max_tf in zip(rows_term, pblocks.column("max_tf").to_pylist()):
            idf, _ = term_stats[term]
            mt = float(max_tf)
            c = idf * mt * (k1 + 1.0) / (mt + k1 * (1.0 - b)) if idf >= 0.0 else 0.0
            contribs.append(c)
        ub = sum(contribs)
        if ub < theta:
            return _empty_cell(False)

        # --- decode dl block (memoized across queries) ----------------
        base = int(key[0].as_py()) * span
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
                return _empty_cell(False)  # no doc here can reach the heap
            idf, _ = term_stats[rows_term[ri]]
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
            return _empty_cell(False)
        sc = scores[idx]
        # local top-k of this range under the GLOBAL total order
        # (score DESC, doc_int ASC): argpartition alone keeps an arbitrary
        # subset among docs tied at the k-th score, which can drop the
        # smaller-doc_int doc the global merge would have kept
        if idx.size > k:
            order = np.lexsort((idx, -sc))[:k]
            idx, sc = idx[order], sc[order]
        # update worker-shared threshold heap
        for v in sc:
            if len(heap) < k:
                heapq.heappush(heap, float(v))
            elif v > heap[0]:
                heapq.heapreplace(heap, float(v))
        return pa.table({"doc_int": pa.array((idx + base).astype(np.int64)),
                         "score": pa.array(sc)})

    return kernel


def bm25_topk_wand(
    blocks: DataFrame,
    dl_blocks: DataFrame,
    terms: DataFrame,
    stats: dict,
    query_terms: list[str],
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    block_span: int = DEFAULT_BLOCK_SPAN,
    docs: DataFrame | None = None,
    term_buckets: int | None = None,
    prune_dl: bool | str = "auto",
    precollected_trows: list | None = None,
) -> DataFrame:
    """-> (doc_int, score) top-k (plus doc_id when ``docs`` given).

    ``blocks``/``dl_blocks`` from compression.build_*; ``terms``/``stats``
    from the IndexTables.  ``query_terms`` are ALREADY analyzed terms.

    ``term_buckets``: when ``blocks`` still carries the serving layout's
    ``tbucket`` partition column (read_block_index(keep_bucket=True)),
    the query's buckets are computed INSIDE the same term-stats collect
    (one Spark job, bit-identical xxhash64) and applied as a partition
    filter — no separate term_buckets_for round-trip per query.

    ``prune_dl``: restrict the doc-length blocks to the query's posting
    block ids (broadcast semi-join).  Without it every dl block of the
    corpus (N/span rows — ~10^8 at 100 TB) is shuffled into the cogroup
    and dispatched to the Python kernel per query even though ranges
    with no query postings return empty; with it the per-query work is
    proportional to the query's posting footprint.  ``"auto"`` (default)
    decides from the term dfs already collected: a term's posting
    blocks are at most its df, so ``Σ df`` bounds the pruned set — when
    that bound isn't well under the corpus's block count the query
    touches (nearly) every block and the semi-join stages are pure
    overhead, so the full dl scan is kept (measured: a mid-frequency
    3-term query at 600k docs lost 2× to the unconditional semi-join).
    """
    spark = blocks.sparkSession
    n, avgdl = stats["n_docs"], float(stats["avgdl"])
    qset = sorted(set(query_terms))
    if precollected_trows is not None:
        # a router already collected (term, df[, tb]) — reuse it instead
        # of issuing a second driver job for the same rows
        qs = set(qset)
        trows = [r for r in precollected_trows if r.term in qs]
    else:
        trows = collect_query_term_rows(terms, qset, blocks, term_buckets)
    if not trows:
        out = spark.createDataFrame([], "doc_int long, score double")
        return out
    term_stats = {}
    for r in trows:
        df = float(r.df)
        idf = float(np.log2((n - df + 0.5) / (df + 0.5)))
        term_stats[r.term] = (idf, 0.0)

    # unique per invocation: a stale heap from a previous query (possibly a
    # different corpus) must never seed this query's pruning threshold
    import uuid

    qkey = uuid.uuid4().hex
    kernel = _kernel_factory(term_stats, k, cfg.k1, cfg.b, avgdl, block_span, qkey)

    qb = _pruned_blocks(blocks, list(term_stats), trows, term_buckets)
    if prune_dl == "auto":
        df_sum = sum(float(r.df) for r in trows)
        prune_dl = _should_prune_dl(df_sum, n, block_span)
    dlq = dl_blocks
    if prune_dl:
        # broadcast hint is safe: under the auto bound the distinct
        # block-id set is at most Σ df < n_blocks/2 rows
        dlq = dl_blocks.join(
            F.broadcast(qb.select("block_id").distinct()), "block_id", "leftsemi"
        )
    ranked = (
        qb.groupBy("block_id")
        .cogroup(dlq.groupBy("block_id"))
        .applyInArrow(kernel, "doc_int long, score double")
        .orderBy(F.desc("score"), F.asc("doc_int"))
        .limit(k)
    )
    if docs is not None:
        ranked = (
            ranked.join(docs.select("doc_int", "doc_id"), "doc_int", "left")
            .select("doc_id", "doc_int", "score")
            .orderBy(F.desc("score"), F.asc("doc_int"))
        )
    return ranked


# ---------------------------------------------------------------------------
# batched WAND: the whole query set through the pruned kernel in ONE plan
# ---------------------------------------------------------------------------

def _batch_kernel_factory(stats_by_qid: dict[int, dict[str, float]], k: int,
                          k1: float, b: float, avgdl: float, span: int, qkey: str):
    """Arrow-native (``applyInArrow``) — see _kernel_factory."""
    import pyarrow as pa

    def kernel(key, pblocks, dlblock):
        if pblocks.num_rows == 0 or dlblock.num_rows == 0:
            return _empty_cell(True)
        qid, block = int(key[0].as_py()), int(key[1].as_py())
        idfs = stats_by_qid[qid]
        if len(_THRESH) > 4096:
            _THRESH.clear()
        heap = _THRESH.setdefault(f"{qkey}:{qid}", [])
        theta = heap[0] if len(heap) >= k else -np.inf

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
            return _empty_cell(True)

        base = block * span
        ddocs = _cached_docs(dlblock.column("docs_vb")[0].as_py())
        dls = _cached_vals(dlblock.column("dls_vb")[0].as_py()).astype(np.float64)
        dl_arr = np.zeros(span, dtype=np.float64)
        dl_arr[(ddocs - np.uint64(base)).astype(np.int64)] = dls

        # descending-bound term order + suffix bounds: same in-kernel
        # early exit as the single-query kernel
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
                return _empty_cell(True)
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
            return _empty_cell(True)
        sc = scores[idx]
        if idx.size > k:
            order = np.lexsort((idx, -sc))[:k]
            idx, sc = idx[order], sc[order]
        for v in sc:
            if len(heap) < k:
                heapq.heappush(heap, float(v))
            elif v > heap[0]:
                heapq.heapreplace(heap, float(v))
        return pa.table({"qid": pa.array(np.full(idx.size, qid, dtype=np.int64)),
                         "doc_int": pa.array((idx + base).astype(np.int64)),
                         "score": pa.array(sc)})

    return kernel


def batch_bm25_topk_wand(
    blocks: DataFrame,
    dl_blocks: DataFrame,
    terms: DataFrame,
    stats: dict,
    queries: dict[int, list[str]],
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    block_span: int = DEFAULT_BLOCK_SPAN,
    term_buckets: int | None = None,
    precollected_trows: list | None = None,
) -> DataFrame:
    """Whole-query-set block-max WAND in ONE plan -> (qid, doc_int,
    rank, score) exact top-k per query.

    The reference's B2 harness loops 635 queries through the scorer
    one at a time (Search_FR.java:994-1098); here the union of all
    query terms prunes the blocks scan once, a broadcast (term, qid)
    fan-out keys posting blocks by (qid, block_id), and the dl side is
    fanned out per qid by an inner join on the query's block ids — the
    cogroup then scores every (query, doc-range) cell independently,
    with per-(worker, qid) shared thresholds.  dl work is pruned BY
    CONSTRUCTION here (the inner join only keeps blocks the qid's
    postings touch).  One cogroup regardless of query count.
    """
    from pyspark.sql import Window

    spark = blocks.sparkSession
    n, avgdl = stats["n_docs"], float(stats["avgdl"])
    union_terms = sorted({t for ts in queries.values() for t in ts})
    if precollected_trows is not None:
        uset = set(union_terms)
        trows = [r for r in precollected_trows if r.term in uset]
    else:
        trows = collect_query_term_rows(terms, union_terms, blocks, term_buckets)
    dfmap = {r.term: float(r.df) for r in trows}
    stats_by_qid: dict[int, dict[str, float]] = {}
    pairs = []
    for qid, ts in queries.items():
        present = sorted({t for t in ts if t in dfmap})
        if not present:
            continue
        stats_by_qid[qid] = {
            t: float(np.log2((n - dfmap[t] + 0.5) / (dfmap[t] + 0.5))) for t in present
        }
        pairs += [(qid, t) for t in present]
    if not pairs:
        return spark.createDataFrame([], "qid long, doc_int long, rank long, score double")

    import uuid

    qkey = uuid.uuid4().hex
    kernel = _batch_kernel_factory(stats_by_qid, k, cfg.k1, cfg.b, avgdl,
                                   block_span, qkey)

    qb = _pruned_blocks(blocks, union_terms, trows, term_buckets)
    qt = spark.createDataFrame(pairs, "qid long, term string")
    qblocks = qb.join(F.broadcast(qt), "term")  # fan out per qid
    # dl fan-out: inner join on the qid's posting block ids — per-query
    # dl volume == per-query posting footprint, never the corpus.
    # (renamed key columns: qdl and qblocks share lineage, and the
    # cogroup would otherwise see ambiguous attribute ids)
    qkeys = (
        qblocks.select(F.col("qid").alias("_qid"), F.col("block_id").alias("_bid"))
        .distinct()
    )
    qdl = (
        dl_blocks.join(qkeys, F.col("block_id") == F.col("_bid"))
        .select(F.col("_qid").alias("qid"), "block_id", "docs_vb", "dls_vb")
    )
    ranked = (
        qblocks.groupBy("qid", "block_id")
        .cogroup(qdl.groupBy("qid", "block_id"))
        .applyInArrow(kernel, "qid long, doc_int long, score double")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_int"))
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "doc_int", F.col("rank").cast("long").alias("rank"), "score")
    )


# ---------------------------------------------------------------------------
# cost-based routing: exhaustive join vs block-max WAND per query
# ---------------------------------------------------------------------------

def route_bm25(
    index,
    blocks: DataFrame,
    dl_blocks: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    block_span: int = DEFAULT_BLOCK_SPAN,
    term_buckets: int | None = None,
    wand_min_postings: int = 1_000_000,
) -> tuple[DataFrame, str]:
    """Pick the execution path per query from the term stats the planner
    already has: the measured crossover (BENCH.md round 4, 5M-doc Zipf)
    shows block-max WAND wins once the query's posting volume is large
    (2.5M+ postings: 1.9-2.2x — the head-heavy queries that are the
    exhaustive join's worst case), while moderate posting sets are
    cheaper through the plain codegen broadcast-join plan than through
    the cogroup + Arrow kernel's per-block dispatch (measured 0.91x at
    ~380k postings when the head term floods every block).  The 1M
    default sits between those measured regimes; re-calibrate per
    cluster with the crossover harness.

    Routes on ``Σ df`` (the exact posting row count the exhaustive plan
    must score): >= ``wand_min_postings`` -> WAND over the compressed
    blocks; below -> exhaustive.  Returns (result, route) with result
    ALWAYS (doc_id, score) top-k under the same total order — routing
    is invisible in values (both paths are exact), which is what makes
    it safe to flip thresholds in production.
    """
    from . import scoring

    spark = query_terms.sparkSession
    # ONE driver job carries the routing decision AND the WAND path's
    # term stats: distinct query terms joined to the vocabulary
    qset = sorted({r.term for r in query_terms.select("term").distinct().collect()})
    trows = collect_query_term_rows(index.terms, qset, blocks, term_buckets)
    total_postings = sum(int(r.df) for r in trows)
    if total_postings >= wand_min_postings:
        out = bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                             qset, k=k, cfg=cfg, block_span=block_span,
                             docs=None if index.stats.get("int_doc_ids") else index.docs,
                             term_buckets=term_buckets,
                             precollected_trows=trows)
        if index.stats.get("int_doc_ids"):
            out = out.select(F.col("doc_int").alias("doc_id"), "score")
        else:
            out = out.select("doc_id", "score")
        return out, "wand"
    # deduplicated terms on the exhaustive route too: bm25_search sums
    # one tscore per query_terms ROW, so duplicate term rows would
    # double-count on this route only — routing must stay value-invisible
    qt = spark.createDataFrame([(t,) for t in qset], "term string")
    # pre-filter the postings scan to the query's term set: the inner
    # join restricts to exactly these terms anyway, so the literal isin
    # is a no-op on values but runs ahead of the broadcast probe in the
    # scan stage (and prunes parquet row groups on term-sorted layouts)
    ix_f = IndexTables(
        postings=index.postings.filter(F.col("term").isin(qset)),
        docs=index.docs, terms=index.terms, stats=index.stats,
        term_dict=index.term_dict)
    return scoring.bm25_search(ix_f, qt, k=k, cfg=cfg), "exhaustive"


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
    """Route a WHOLE query set (qid, term, qtf) with ONE driver job,
    then execute each route as a single batch plan — the full Run_B6
    query-set shape (Search_FR.java:1265-1319) in at most two scoring
    plans regardless of query count:

    - one collect fetches every distinct query term's (df[, tbucket])
      row; per-qid ``Σ df`` (the exact posting-row count the exhaustive
      plan would score) decides the route;
    - the WAND subset runs through ``batch_bm25_topk_wand`` (one
      cogroup for all of them, threaded trows — no second collect);
    - the rest run through ``batch_bm25_search`` (one scan + two
      shuffles for all of them);
    - results union into one (qid, doc_id, rank, score) frame.

    Both paths are exact, so routing is value-invisible; returns
    (result, {qid: route}).  Duplicate (qid, term) rows are collapsed
    before either path (BM25 counts a term once per query —
    OkapiBM25_FR.java:330-404)."""
    from . import scoring  # noqa: F401  (parity with route_bm25 imports)
    from .batch import batch_bm25_search

    spark = query_terms.sparkSession
    qpairs = [(int(r.qid), r.term) for r in
              query_terms.select("qid", "term").distinct().collect()]
    queries: dict[int, list[str]] = {}
    for qid, t in qpairs:
        queries.setdefault(qid, []).append(t)
    union_terms = sorted({t for _, t in qpairs})
    trows = collect_query_term_rows(index.terms, union_terms, blocks, term_buckets)
    dfmap = {r.term: int(r.df) for r in trows}
    routes = {
        qid: ("wand" if sum(dfmap.get(t, 0) for t in ts) >= wand_min_postings
              else "exhaustive")
        for qid, ts in queries.items()
    }
    parts = []
    wand_queries = {q: ts for q, ts in queries.items() if routes[q] == "wand"}
    if wand_queries:
        w = batch_bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                                 wand_queries, k=k, cfg=cfg,
                                 block_span=block_span,
                                 term_buckets=term_buckets,
                                 precollected_trows=trows)
        if index.stats.get("int_doc_ids"):
            w = w.select("qid", F.col("doc_int").alias("doc_id"), "rank", "score")
        else:
            w = (
                w.join(index.docs.select("doc_int", "doc_id"), "doc_int", "left")
                .select("qid", "doc_id", "rank", "score")
            )
        parts.append(w)
    ex_qids = [q for q, r in routes.items() if r == "exhaustive"]
    if ex_qids:
        qt = spark.createDataFrame(
            [(q, t, 1.0) for q in ex_qids for t in queries[q]],
            "qid long, term string, qtf double",
        )
        # pre-filter the postings scan to the exhaustive union's term
        # set (a no-op on values — the inner join restricts to these
        # terms anyway): the literal isin runs in the scan stage ahead
        # of the broadcast probe and measured 1.7x on the 436-query
        # half (4.5 -> 2.7 s, identical output — r7 A/B)
        ex_terms = sorted({t for q in ex_qids for t in queries[q]})
        ix_f = IndexTables(
            postings=index.postings.filter(F.col("term").isin(ex_terms)),
            docs=index.docs, terms=index.terms, stats=index.stats,
            term_dict=index.term_dict)
        parts.append(batch_bm25_search(ix_f, qt, k=k, cfg=cfg))
    if not parts:
        return (spark.createDataFrame([], "qid long, doc_id long, rank long, score double"),
                routes)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, routes
