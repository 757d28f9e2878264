"""Measure the two BM25 routes on a Zipf corpus: the driver route
(block-max WAND in this process, one window of block ids at a time) and
the exhaustive Spark plan — the evidence for serving every query on the
written layout in the driver.

``python3 tools/wand_crossover.py --zipf [n_docs] [vocab] [parallelism]``
builds a deterministic Zipf corpus (sources/zipf.py: realistic term
distribution, selective tails) and its persisted layouts, then forces
one route at a time through ``route_bm25``: the exact pair
``read_block_index`` returned goes to the driver, which reads the query
terms' block rows with pyarrow and scores them here; a projection of it
(a frame that is not served) goes to the exhaustive plan, which reads
the postings parquet and joins docs for dl.  Each query reports its Σdf.
The 635-query batch runs in one window, in >= 4 windows (a quarter of
its own byte estimate as ``wand.DRIVER_MAX_BYTES``) and on the
exhaustive route, with the driver's peak memory per window count.  Up to
10k docs the layout has the interactive bench's geometry (block span
256, 8 term buckets).

Runs on ``get_spark``'s host-sized session (``local[CPUs this process
may use]``); a ``parallelism`` argument overrides the CPU count.  Prints
one JSON line.
"""

from __future__ import annotations

import contextlib
import json
import math
import shutil
import sys
import tempfile
import time
import tracemalloc

import pyarrow as pa

sys.path.insert(0, ".")

from information_retrieval_system_spark.analysis.analyzer import local_frame
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.index.compression import (
    build_block_postings,
    build_dl_blocks,
    served_layout,
)
from information_retrieval_system_spark.query import wand
from information_retrieval_system_spark.query.wand import (
    layout_term_rows, route_batch_bm25, route_bm25)
from information_retrieval_system_spark.session import get_spark


@contextlib.contextmanager
def driver_limit(max_bytes: int):
    """Route with ``wand.DRIVER_MAX_BYTES`` set to ``max_bytes``, the
    driver route's window bound."""
    saved, wand.DRIVER_MAX_BYTES = wand.DRIVER_MAX_BYTES, max_bytes
    try:
        yield
    finally:
        wand.DRIVER_MAX_BYTES = saved


def driver_peak(run) -> int:
    """run()'s driver memory peak in bytes: the tracemalloc peak plus the
    most Arrow held when a window's block and dl tables were both read
    (``pyarrow.total_allocated_bytes()``, sampled in ``wand.dl_rows``;
    the numpy views share Arrow's buffers, which tracemalloc does not
    see)."""
    arrow = [pa.total_allocated_bytes()]
    dl_rows = wand.dl_rows

    def sampled(t):
        arrow.append(pa.total_allocated_bytes())
        return dl_rows(t)

    wand.dl_rows = sampled
    tracemalloc.start()
    try:
        run()
        return tracemalloc.get_traced_memory()[1] + max(arrow)
    finally:
        tracemalloc.stop()
        wand.dl_rows = dl_rows


def zipf_query_ranks(vocab: int) -> list[tuple[int, int, int]]:
    """Query shapes as vocabulary ranks, scaled to the vocabulary size:
    a head/mid-frequency term + selective tail terms — the ad-hoc query
    profile WAND targets."""
    return [
        (3, vocab // 10, vocab // 3),
        (10, vocab // 4, 3 * vocab // 4),
        (100, vocab // 16, 5 * vocab // 6),
    ]


_P = 2_147_483_647


def batch_zipf_queries(vocab: int, n: int = 635) -> dict[int, list[str]]:
    """Deterministic Run_B6-shaped query set: ``n`` queries of 1-4
    terms whose vocabulary ranks are Zipf-spread (rank = vocab^u, u
    hash-uniform — same sampling law as the corpus), so the set
    naturally mixes head-heavy queries (WAND's regime) with all-tail
    queries (exhaustive's regime).  No RNG state: query i is a pure
    function of (i, vocab), reproducible across rounds."""
    from information_retrieval_system_spark.sources.zipf import rank_token

    qs: dict[int, list[str]] = {}
    for i in range(n):
        nt = 1 + (i % 4)
        terms = set()
        for j in range(nt):
            u = ((i * 2654435761 + j * 40503 + 13) % _P) / _P
            terms.add(rank_token(max(1, int(vocab ** u))))
        qs[i] = sorted(terms)
    return qs


def run_batch_routed(spark, six, b_all, dlb_served, vocab: int,
                     block_span: int, k: int = 20,
                     n_queries: int = 635, sample_n: int = 24) -> dict:
    """The reference's 635-query Run_B6 loop (Search_FR.java:1265-1319
    runs them one at a time) vs ONE routed batch over the same persisted
    layouts:

    - ``batch_sec``: route_batch_bm25 over all ``n_queries`` in the
      driver, in ``windows`` windows at the default
      ``wand.DRIVER_MAX_BYTES``; ``batch_windowed_sec`` the same batch
      at a quarter of its own byte estimate (``windowed_windows`` >= 4
      windows); ``batch_exhaustive_sec`` the same batch on the
      exhaustive Spark plan;
    - ``driver_peak_bytes`` / ``windowed_driver_peak_bytes``: the
      driver's memory peak (``driver_peak``) of an untimed run at each
      of the two window bounds;
    - ``loop_sample``: the first ``sample_n`` queries through the
      per-query route_bm25 loop, plus the SAME sample batched — a fully
      measured apples-to-apples speedup; the 635-scale speedup is then
      per-query-extrapolated (labelled _est).
    """
    from pyspark.sql import functions as F

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    queries = batch_zipf_queries(vocab, n_queries)
    unserved = (b_all.select("*"), dlb_served)
    layout = served_layout(b_all, dlb_served)
    est = sum(layout_term_rows(layout, sorted({t for ts in queries.values() for t in ts}))[1]
              .values())
    quarter = math.ceil(est / 4)

    def batch_df(qids):
        rows = [(q, t, 1.0) for q in qids for t in queries[q]]
        return local_frame(spark, rows, "qid long, term string, qtf double")

    def batch(frames=(b_all, dlb_served), qids=range(n_queries)):
        res, routes = route_batch_bm25(six, *frames, batch_df(qids), k=k, cfg=cfg,
                                       block_span=block_span)
        return {(r.qid, r.rank): (r.doc_id, round(r.score, 6)) for r in res.collect()}, routes

    def timed(run) -> tuple:
        t0 = time.perf_counter()
        out = run()
        return time.perf_counter() - t0, out

    # warm both routes (JIT, codegen)
    batch(qids=range(4))
    batch(unserved, range(4))

    t0 = time.perf_counter()
    res, routes = route_batch_bm25(six, b_all, dlb_served, batch_df(range(n_queries)), k=k,
                                   cfg=cfg, block_span=block_span)
    # materialize the run output ONCE (inside the timed batch window):
    # both consumers (the correctness collect below and the composed
    # eval) read the k*n_queries result rows instead of re-running the
    # whole routed retrieval
    res = res.localCheckpoint(eager=True)
    full = {(r.qid, r.rank): (r.doc_id, round(r.score, 6)) for r in res.collect()}
    batch_sec = time.perf_counter() - t0

    with driver_limit(quarter):
        windowed_sec, (windowed, _) = timed(batch)
        windowed_peak = driver_peak(batch)
        n_windowed = len(wand.block_windows(layout, est))
    peak = driver_peak(batch)
    exhaustive_sec, (exhaustive, _) = timed(lambda: batch(unserved))

    sample = list(range(sample_n))
    t0 = time.perf_counter()
    loop_out: dict = {}
    for q in sample:
        qt = batch_df([q])
        one, _ = route_bm25(six, b_all, dlb_served, qt.select("term", "qtf"),
                            k=k, cfg=cfg, block_span=block_span)
        for rank, r in enumerate(one.collect(), start=1):
            loop_out[(q, rank)] = (r.doc_id, round(r.score, 6))
    loop_sample_sec = time.perf_counter() - t0
    batch_sample_sec, (bs_rows, _) = timed(lambda: batch(qids=sample))

    # retrieval -> eval composed (r5 verdict #5): the SAME routed batch
    # feeding qrels-joined AP/nDCG + suite aggregates in one plan — the
    # reference's whole golden run (retrieve 635, score with themisEval,
    # Search_FR.java:994-1098) as a single Spark job.  Deterministic
    # synthetic qrels (same expression as the batch_eval_summary gate),
    # restricted to a doc prefix so the qrels side stays ~1M rows.
    from information_retrieval_system_spark.evaluation.metrics import evaluate

    t0 = time.perf_counter()
    qids_df = spark.createDataFrame([(q,) for q in range(n_queries)], "qid long")
    qdocs = six.docs.select("doc_id").filter(F.col("doc_id") < 2000)
    qrels = qids_df.crossJoin(qdocs).withColumn(
        "relevance",
        ((F.col("doc_id") * 3 + F.col("qid") * 17) % 10 < 3).cast("int"))
    summary = evaluate(res.select("qid", "doc_id", "score"), qrels).collect()[0]
    eval_sec = time.perf_counter() - t0

    per_q = loop_sample_sec / sample_n
    return {
        "n_queries": n_queries,
        "est_bytes": est,
        "window_bound_bytes": wand.DRIVER_MAX_BYTES,
        "windows": len(wand.block_windows(layout, est)),
        "batch_sec": round(batch_sec, 3),
        "driver_peak_bytes": peak,
        "windowed_bound_bytes": quarter,
        "windowed_windows": n_windowed,
        "batch_windowed_sec": round(windowed_sec, 3),
        "batch_windowed_identical": windowed == full,
        "windowed_driver_peak_bytes": windowed_peak,
        "batch_exhaustive_sec": round(exhaustive_sec, 3),
        "batch_exhaustive_identical": exhaustive == full,
        "eval_sec": round(eval_sec, 3),
        "eval_mean_ap": round(float(summary["mean_ap"]), 4),
        "eval_mean_ndcg": round(float(summary["mean_ndcg"]), 4),
        "routes": {name: sum(1 for v in routes.values() if v == name)
                   for name in ("driver", "exhaustive")},
        "loop_sample_n": sample_n,
        "loop_sample_sec": round(loop_sample_sec, 3),
        "loop_per_query_sec": round(per_q, 4),
        "batch_sample_sec": round(batch_sample_sec, 3),
        "speedup_sample_measured": round(loop_sample_sec / batch_sample_sec, 2)
        if batch_sample_sec > 0 else None,
        "speedup_635_est": round((per_q * n_queries) / batch_sec, 2)
        if batch_sec > 0 else None,
        "loop_batch_identical": (
            bs_rows == {kk: v for kk, v in full.items() if kk[0] < sample_n}
            and loop_out == bs_rows),
    }


def run_zipf_crossover(spark, n_docs: int, vocab: int, block_span: int = 4096,
                       term_buckets: int = 64, reps: int = 3, k: int = 20,
                       work_dir: str | None = None, batch_n: int = 635) -> dict:
    """Build the Zipf corpus + both persisted layouts, then time the
    driver and the exhaustive route per query (min over reps).
    Returns the result dict."""
    import os

    from information_retrieval_system_spark.index.builder import (
        read_index, read_table, write_index)
    from information_retrieval_system_spark.index.compression import (
        read_block_index, write_block_index)
    from information_retrieval_system_spark.sources.zipf import rank_token, zipf_corpus

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    base = work_dir or os.path.join(tempfile.gettempdir(), f"zipf_wand_{n_docs}")
    ix_dir, bl_dir = base + "_ix", base + "_blocks"
    out: dict = {"n_docs": n_docs, "vocab": vocab, "block_span": block_span}

    # stage boundaries are PINNED by forcing materialization inside each
    # timer: build_sec ends only after every index table is realized, so
    # internal laziness changes can never shift work between the build
    # and write columns again (r2->r3: removing an eager barrier inside
    # build_index moved the first postings materialization into
    # encode_write_sec, which read as a 2x "regression")
    t0 = time.perf_counter()
    corpus = zipf_corpus(spark, n_docs, vocab=vocab).cache()
    corpus.count()
    ix = build_index(corpus, cfg, doc_col="doc_id", text_col="text")
    ix.postings.count(); ix.docs.count(); ix.terms.count()
    out["build_sec"] = round(time.perf_counter() - t0, 2)

    # plain-layout write (the postings parquet), min over reps —
    # the same interleaved-min methodology the scaling bench uses, so
    # host drift can't masquerade as a code regression
    t_ixw = float("inf")
    for _ in range(max(reps, 1)):
        t0 = time.perf_counter()
        shutil.rmtree(ix_dir, ignore_errors=True)
        write_index(ix, ix_dir, cfg)
        t_ixw = min(t_ixw, time.perf_counter() - t0)
    out["index_write_sec"] = round(t_ixw, 2)
    corpus.unpersist()
    spark.catalog.clearCache()

    # block build + serving write, fed from the WRITTEN
    # postings table (the production shape: the encoder is a separate
    # job reading the postings table, not a continuation of the build
    # lineage), min over reps
    served_postings = read_table(spark, os.path.join(ix_dir, "postings"))
    served_docs = read_table(spark, os.path.join(ix_dir, "docs"))
    t_enc = float("inf")
    for _ in range(max(reps, 1)):
        t0 = time.perf_counter()
        blocks = build_block_postings(served_postings, block_span=block_span)
        dlb = build_dl_blocks(served_docs, block_span=block_span)
        shutil.rmtree(bl_dir, ignore_errors=True)
        write_block_index(blocks, dlb, bl_dir, term_buckets=term_buckets)
        t_enc = min(t_enc, time.perf_counter() - t0)
    out["encode_write_sec"] = round(t_enc, 2)
    n_postings = ix.stats.get("n_postings") or 0
    if t_enc > 0 and n_postings:
        out["encode_postings_per_sec"] = round(n_postings / t_enc, 1)

    six = read_index(spark, ix_dir)
    six.terms.cache().count()
    six.docs.cache().count()

    # list the layout ONCE; a projection of it is not served, so it
    # takes the exhaustive route
    b_all, dlb_served = read_block_index(spark, bl_dir, keep_bucket=True)
    layout = served_layout(b_all, dlb_served)
    forced = {"driver": (b_all, dlb_served), "exhaustive": (b_all.select("*"), dlb_served)}

    def routed(qt, frames):
        res, route = route_bm25(six, *frames, qt, k=k, cfg=cfg, block_span=block_span)
        return route, [(r.doc_id, round(r.score, 6)) for r in res.collect()]

    out["queries"] = {}
    for ranks in zipf_query_ranks(vocab):
        terms = [rank_token(r) for r in ranks]
        qt = local_frame(spark, [(t, 1.0) for t in terms], "term string, qtf double")
        for frames in forced.values():  # warm every route (JIT, codegen)
            routed(qt, frames)
        best = {name: float("inf") for name in forced}
        rows = {}
        for _ in range(reps):
            for name, frames in forced.items():
                t0 = time.perf_counter()
                route, rows[name] = routed(qt, frames)
                best[name] = min(best[name], time.perf_counter() - t0)
                assert route == name, (route, name)
        rec = {"sigma_df": int(sum(layout_term_rows(layout, terms)[0].values()))}
        rec.update({f"{name}_sec": round(t, 4) for name, t in best.items()})
        rec["driver_speedup"] = round(best["exhaustive"] / best["driver"], 2)
        rec["identical_topk"] = rows["driver"] == rows["exhaustive"]
        out["queries"]["+".join(map(str, ranks))] = rec
    if batch_n:
        out["batch_routed"] = run_batch_routed(
            spark, six, b_all, dlb_served, vocab, block_span=block_span, k=k,
            n_queries=batch_n)
    six.terms.unpersist(); six.docs.unpersist()
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    n_docs = int(args[0]) if len(args) > 0 else 2_000_000
    vocab = int(args[1]) if len(args) > 1 else 200_000
    par = int(args[2]) if len(args) > 2 else None
    spark = get_spark("wand-zipf", parallelism=par)
    small = n_docs <= 10_000
    out = run_zipf_crossover(spark, n_docs, vocab, block_span=256 if small else 4096,
                             term_buckets=8 if small else 64)
    out["parallelism"] = spark.sparkContext.defaultParallelism
    print(json.dumps(out))


if __name__ == "__main__":
    main()
