"""Measure exact-join BM25 vs block-max WAND top-k latency — the
evidence for when the pruned path pays off.

Two modes:

- default: the driver testdata expanded N× (31-term vocabulary — the
  regime where WAND CANNOT win, kept as the honest negative control).
- ``--zipf [n_docs] [vocab] [parallelism]``: deterministic Zipf corpus
  (sources/zipf.py — realistic term distribution, selective tails),
  BOTH routes of ``route_bm25`` served from the persisted layouts, the
  threshold forcing one route or the other: exhaustive reads the
  postings parquet and joins docs for dl; WAND reads the compressed
  block layout with its term-bucket partition filter (dl blocks
  aligned, no docs join).  This is WAND's regime and the fair
  serving-vs-serving comparison.

Both modes run on ``get_spark``'s host-sized session (``local[CPUs
this process may use]``); a ``parallelism`` argument overrides the CPU
count.  Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms, local_frame
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.index.compression import (
    build_block_postings,
    build_dl_blocks,
)
from information_retrieval_system_spark.query import scoring
from information_retrieval_system_spark.query.wand import route_batch_bm25, route_bm25
from information_retrieval_system_spark.session import get_spark
from information_retrieval_system_spark.sources.corpus import expand_documents

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
                     block_span: int, term_buckets: int, k: int = 20,
                     n_queries: int = 635, sample_n: int = 24,
                     wand_min_postings: int = 100_000) -> dict:
    """The reference's 635-query Run_B6 loop (Search_FR.java:1265-1319
    runs them one at a time) vs ONE routed batch over the same persisted
    layouts:

    - ``batch_sec``: route_batch_bm25 over all ``n_queries`` — one
      driver collect routes every qid, <=2 scoring plans total;
    - ``loop_sample``: the first ``sample_n`` queries through the
      per-query route_bm25 loop (each = its own routing job + scoring
      plan), plus the SAME sample batched — a fully measured
      apples-to-apples speedup; the 635-scale speedup is then
      per-query-extrapolated (labelled _est — a full 635-query loop
      is minutes of driver-loop overhead, which is the point).
    """
    from pyspark.sql import functions as F

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    queries = batch_zipf_queries(vocab, n_queries)

    def batch_df(qids):
        rows = [(q, t, 1.0) for q in qids for t in queries[q]]
        return local_frame(spark, rows, "qid long, term string, qtf double")

    # warm both paths (JIT, codegen, python worker pool)
    route_batch_bm25(six, b_all, dlb_served, batch_df(range(4)), k=k,
                     cfg=cfg, block_span=block_span,
                     term_buckets=term_buckets,
                     wand_min_postings=wand_min_postings)[0].collect()

    t0 = time.perf_counter()
    res, routes = route_batch_bm25(
        six, b_all, dlb_served, batch_df(range(n_queries)), k=k, cfg=cfg,
        block_span=block_span, term_buckets=term_buckets,
        wand_min_postings=wand_min_postings)
    # materialize the run output ONCE (inside the timed batch window):
    # both consumers (the correctness collect below and the composed
    # eval) read the k*n_queries result rows instead of re-running the
    # whole routed retrieval — previously eval_sec silently paid a
    # second full 635-query retrieval because `res` was a lazy plan
    res = res.localCheckpoint(eager=True)
    full = {(r.qid, r.rank): (r.doc_id, round(r.score, 6)) for r in res.collect()}
    batch_sec = time.perf_counter() - t0

    sample = list(range(sample_n))
    t0 = time.perf_counter()
    loop_out: dict = {}
    for q in sample:
        qt = batch_df([q])
        one, _ = route_bm25(six, b_all, dlb_served, qt.select("term", "qtf"),
                            k=k, cfg=cfg, block_span=block_span,
                            term_buckets=term_buckets,
                            wand_min_postings=wand_min_postings)
        for rank, r in enumerate(one.collect(), start=1):
            loop_out[(q, rank)] = (r.doc_id, round(r.score, 6))
    loop_sample_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    bs, _ = route_batch_bm25(six, b_all, dlb_served, batch_df(sample), k=k,
                             cfg=cfg, block_span=block_span,
                             term_buckets=term_buckets,
                             wand_min_postings=wand_min_postings)
    bs_rows = {(r.qid, r.rank): (r.doc_id, round(r.score, 6)) for r in bs.collect()}
    batch_sample_sec = time.perf_counter() - t0

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
        "batch_sec": round(batch_sec, 3),
        "eval_sec": round(eval_sec, 3),
        "eval_mean_ap": round(float(summary["mean_ap"]), 4),
        "eval_mean_ndcg": round(float(summary["mean_ndcg"]), 4),
        "routes_wand": sum(1 for v in routes.values() if v == "wand"),
        "routes_exhaustive": sum(1 for v in routes.values() if v == "exhaustive"),
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
    """Build the Zipf corpus + both persisted layouts, then time
    exhaustive-served vs WAND-served per query (min over reps).
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
    ix = build_index(corpus, cfg, doc_col="doc_id", text_col="text", with_positions=False)
    ix.postings.count(); ix.docs.count(); ix.terms.count()
    out["build_sec"] = round(time.perf_counter() - t0, 2)

    # plain-layout write (bucketed postings parquet), min over reps —
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

    # compressed-block encode + serving write, fed from the WRITTEN
    # postings table (the production shape: the encoder is a separate
    # job reading the postings table, not a continuation of the build
    # lineage), min over reps
    served_postings = read_table(spark, os.path.join(ix_dir, "postings")).drop("bucket")
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

    # list the layout ONCE; the route prunes per query (tbucket partition
    # filter, dl side joined to the query's block ids)
    b_all, dlb_served = read_block_index(spark, bl_dir, keep_bucket=True)

    def routed(qt, wand_min_postings):
        res, _ = route_bm25(six, b_all, dlb_served, qt, k=k, cfg=cfg,
                            block_span=block_span, term_buckets=term_buckets,
                            wand_min_postings=wand_min_postings)
        return res.collect()

    out["queries"] = {}
    for ranks in zipf_query_ranks(vocab):
        qt = local_frame(spark, [(rank_token(r), 1.0) for r in ranks],
                         "term string, qtf double")
        routed(qt, 10**18); routed(qt, 0)  # warm both routes (JIT, python pool)
        t_ex = t_wd = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter(); ex = routed(qt, 10**18); t_ex = min(t_ex, time.perf_counter() - t0)
            t0 = time.perf_counter(); wd = routed(qt, 0); t_wd = min(t_wd, time.perf_counter() - t0)
        same = ([(r.doc_id, round(r.score, 6)) for r in ex]
                == [(r.doc_id, round(r.score, 6)) for r in wd])
        out["queries"]["+".join(map(str, ranks))] = {
            "exhaustive_sec": round(t_ex, 3),
            "wand_sec": round(t_wd, 3),
            "speedup": round(t_ex / t_wd, 2) if t_wd > 0 else None,
            "identical_topk": same,
        }
    if batch_n:
        out["batch_routed"] = run_batch_routed(
            spark, six, b_all, dlb_served, vocab,
            block_span=block_span, term_buckets=term_buckets, k=k,
            n_queries=batch_n)
    six.terms.unpersist(); six.docs.unpersist()
    return out


def main_zipf() -> None:
    args = [a for a in sys.argv[2:] if not a.startswith("-")]
    n_docs = int(args[0]) if len(args) > 0 else 2_000_000
    vocab = int(args[1]) if len(args) > 1 else 200_000
    par = int(args[2]) if len(args) > 2 else None
    spark = get_spark("wand-zipf", parallelism=par)
    out = run_zipf_crossover(spark, n_docs, vocab)
    out["parallelism"] = spark.sparkContext.defaultParallelism
    print(json.dumps(out))


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 160
    par = int(sys.argv[2]) if len(sys.argv) > 2 else None
    spark = get_spark("wand-crossover", parallelism=par)
    par = spark.sparkContext.defaultParallelism
    cfg = EngineConfig()
    docs = expand_documents(
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet"), factor
    ).cache()
    n = docs.count()
    ix = build_index(docs, cfg, doc_col="doc_id", text_col="text", with_positions=False)
    ix.postings.count(); ix.docs.count(); ix.terms.count()
    blocks = build_block_postings(ix.postings).cache()
    dlb = build_dl_blocks(ix.docs).cache()
    blocks.count(); dlb.count()

    queries = ["spark join merge", "vector stream window", "batch group hash"]
    out = {"n_docs": n, "parallelism": par, "queries": {}}
    for q in queries:
        qt = analyze_query_terms(spark, q, cfg)

        def wand():
            return route_bm25(ix, blocks, dlb, qt, k=20, cfg=cfg,
                              wand_min_postings=0)[0].collect()

        # warm both paths once, then measure
        scoring.bm25_search(ix, qt, k=20, cfg=cfg).collect()
        wand()
        t0 = time.perf_counter()
        exact = scoring.bm25_search(ix, qt, k=20, cfg=cfg).collect()
        t_exact = time.perf_counter() - t0
        t0 = time.perf_counter()
        got = wand()
        t_wand = time.perf_counter() - t0
        same = [r.doc_id for r in got] == [r.doc_id for r in exact]
        out["queries"][q] = {"exact_sec": round(t_exact, 3),
                             "wand_sec": round(t_wand, 3),
                             "identical_topk": same}
    print(json.dumps(out))


if __name__ == "__main__":
    if "--zipf" in sys.argv:
        main_zipf()
    else:
        main()
