"""WAND == exhaustive-scoring equality (prune safety, SURVEY.md §5.5)."""

from __future__ import annotations

import pytest

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.index.compression import (
    build_block_postings,
    build_dl_blocks,
    decode_block,
)
from information_retrieval_system_spark.query import scoring
from information_retrieval_system_spark.query.wand import bm25_topk_wand

SPAN = 128  # small span to exercise multi-block paths on 500 docs


@pytest.fixture(scope="module")
def blocked(spark, sf_small):
    cfg = EngineConfig()
    docs_df = spark.read.parquet(f"{sf_small}/documents.parquet")
    index = build_index(docs_df, cfg, doc_col="doc_id", text_col="text")
    blocks = build_block_postings(index.postings, block_span=SPAN).cache()
    dl_blocks = build_dl_blocks(index.docs, block_span=SPAN).cache()
    blocks.count(), dl_blocks.count()
    return cfg, index, blocks, dl_blocks


def test_blocks_roundtrip_postings(blocked):
    cfg, index, blocks, dl_blocks = blocked
    # decode every block and compare against the raw postings rows
    raw = {(r.term, r.doc_int): r.tf for r in index.postings.collect()}
    dec = {}
    for r in blocks.collect():
        docs, tfs = decode_block(r.docs_vb, r.tfs_vb)
        assert r.n == len(docs) == len(tfs)
        assert r.first_doc == docs[0] and r.last_doc == docs[-1]
        assert r.max_tf == tfs.max()
        for d, t in zip(docs, tfs):
            dec[(r.term, int(d))] = int(t)
    assert dec == raw


@pytest.mark.parametrize("query,k", [
    ("spark join merge", 10),
    ("spark join merge", 50),
    ("window filter sort batch", 25),
    ("vector stream", 5),
    ("zzz_absent spark", 10),
])
def test_wand_equals_exhaustive(blocked, spark, query, k):
    cfg, index, blocks, dl_blocks = blocked
    qt = analyze_query_terms(spark, query, cfg)
    terms = [r.term for r in qt.collect()]
    exact = [(r.doc_id, r.score) for r in
             scoring.bm25_search(index, qt, k=k, cfg=cfg).collect()]
    wand = [(r.doc_id, r.score) for r in
            bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                           terms, k=k, cfg=cfg, block_span=SPAN,
                           docs=index.docs).collect()]
    assert [d for d, _ in wand] == [d for d, _ in exact]
    for (d1, s1), (d2, s2) in zip(wand, exact):
        assert abs(s1 - s2) <= 1e-9 * max(1.0, abs(s2))


def test_wand_dl_side_semijoin_pruned(blocked, spark):
    """With prune_dl on, the dl_blocks side of the cogroup must be
    restricted to the query's posting block ids (a LeftSemi join in the
    plan) — without it every query shuffles N/span dl rows,
    corpus-proportional work.  Results identical either way."""
    cfg, index, blocks, dl_blocks = blocked
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    terms = [r.term for r in qt.collect()]
    out = bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                         terms, k=10, cfg=cfg, block_span=SPAN, prune_dl=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan
    # and the opt-out really opts out
    out2 = bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                          terms, k=10, cfg=cfg, block_span=SPAN, prune_dl=False)
    assert "LeftSemi" not in out2._jdf.queryExecution().optimizedPlan().toString()
    assert [(r.doc_int, round(r.score, 9)) for r in out.collect()] == \
           [(r.doc_int, round(r.score, 9)) for r in out2.collect()]


def test_should_prune_dl_auto_bound():
    """Auto mode prunes only when Σ df bounds the posting-block
    footprint well under the corpus block count."""
    from information_retrieval_system_spark.query.wand import _should_prune_dl

    # 1M docs, span 1024 -> 977 blocks: a 3-rare-term query prunes...
    assert _should_prune_dl(df_sum=300, n_docs=1_000_000, block_span=1024)
    # ...a head-term query (df ~ every block) does not
    assert not _should_prune_dl(df_sum=500_000, n_docs=1_000_000, block_span=1024)
    # boundary: footprint comparable to block count -> overhead, skip
    assert not _should_prune_dl(df_sum=600, n_docs=1_000_000, block_span=1024)


def test_wand_served_bucket_partition_filter(blocked, spark, tmp_path):
    """Through the persisted layout with keep_bucket=True + term_buckets,
    the blocks scan must carry a tbucket PartitionFilter (the pruned
    serving read path) and results must match the in-memory path."""
    from information_retrieval_system_spark.index.compression import (
        read_block_index, write_block_index)

    cfg, index, blocks, dl_blocks = blocked
    out_dir = str(tmp_path / "layout")
    write_block_index(blocks, dl_blocks, out_dir, term_buckets=8)
    b_all, dlb = read_block_index(spark, out_dir, keep_bucket=True)
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    terms = [r.term for r in qt.collect()]
    served = bm25_topk_wand(b_all, dlb, index.terms, index.stats,
                            terms, k=10, cfg=cfg, block_span=SPAN,
                            term_buckets=8)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbucket" in plan
    mem = bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                         terms, k=10, cfg=cfg, block_span=SPAN)
    assert [(r.doc_int, round(r.score, 9)) for r in served.collect()] == \
           [(r.doc_int, round(r.score, 9)) for r in mem.collect()]


def test_batch_wand_equals_per_query_loop(blocked, spark):
    """Batched WAND (one cogroup for the whole query set) must equal
    the single-query kernel run in a loop — same docs, same scores."""
    from information_retrieval_system_spark.query.wand import batch_bm25_topk_wand

    cfg, index, blocks, dl_blocks = blocked
    queries = {}
    for qid, text in [(1, "spark join merge"), (2, "vector stream"),
                      (3, "window filter sort batch"), (4, "zzz_absent")]:
        qt = analyze_query_terms(spark, text, cfg)
        queries[qid] = [r.term for r in qt.collect()]
    batch = batch_bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                                 queries, k=7, cfg=cfg, block_span=SPAN)
    got = {(r.qid, r.rank): (r.doc_int, round(r.score, 9)) for r in batch.collect()}
    want = {}
    for qid, ts in queries.items():
        single = bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                                ts, k=7, cfg=cfg, block_span=SPAN).collect()
        for rank, r in enumerate(single, start=1):
            want[(qid, rank)] = (r.doc_int, round(r.score, 9))
    assert got == want
    assert not any(q == 4 for q, _ in got)  # absent-term query yields nothing


def test_batch_wand_served_bucket_pruned(blocked, spark, tmp_path):
    """Batched WAND through the persisted layout: tbucket partition
    filter applies to the UNION of all query terms; results equal the
    in-memory batch."""
    from information_retrieval_system_spark.index.compression import (
        read_block_index, write_block_index)
    from information_retrieval_system_spark.query.wand import batch_bm25_topk_wand

    cfg, index, blocks, dl_blocks = blocked
    out_dir = str(tmp_path / "layout")
    write_block_index(blocks, dl_blocks, out_dir, term_buckets=8)
    b_all, dlb = read_block_index(spark, out_dir, keep_bucket=True)
    queries = {}
    for qid, text in [(1, "spark join merge"), (2, "vector stream")]:
        qt = analyze_query_terms(spark, text, cfg)
        queries[qid] = [r.term for r in qt.collect()]
    served = batch_bm25_topk_wand(b_all, dlb, index.terms, index.stats,
                                  queries, k=5, cfg=cfg, block_span=SPAN,
                                  term_buckets=8)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbucket" in plan
    mem = batch_bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                               queries, k=5, cfg=cfg, block_span=SPAN)
    key = lambda rs: sorted((r.qid, r.rank, r.doc_int, round(r.score, 9)) for r in rs)
    assert key(served.collect()) == key(mem.collect())


def test_route_bm25_flips_on_threshold_value_invisibly(blocked, spark):
    """Routing must pick WAND above the posting-volume threshold and
    exhaustive below — with IDENTICAL top-k values either way."""
    from information_retrieval_system_spark.query.wand import route_bm25

    cfg, index, blocks, dl_blocks = blocked
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    lo, route_lo = route_bm25(index, blocks, dl_blocks, qt, k=10, cfg=cfg,
                              block_span=SPAN, wand_min_postings=1)
    hi, route_hi = route_bm25(index, blocks, dl_blocks, qt, k=10, cfg=cfg,
                              block_span=SPAN, wand_min_postings=10**9)
    assert route_lo == "wand" and route_hi == "exhaustive"
    a = [(r.doc_id, round(r.score, 9)) for r in lo.collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in hi.collect()]
    assert a == b and len(a) == 10


def test_route_batch_mixed_routes_equal_unrouted(blocked, spark):
    """One collect routes the whole query set; with a threshold that
    splits it, WAND-routed and exhaustive-routed queries land in ONE
    result frame equal to the unrouted batch oracle — and duplicate
    (qid, term) rows are collapsed on BOTH routes."""
    from information_retrieval_system_spark.query.batch import batch_bm25_search
    from information_retrieval_system_spark.query.wand import route_batch_bm25

    cfg, index, blocks, dl_blocks = blocked
    qt = spark.createDataFrame(
        [(1, "spark", 1.0), (1, "spark", 1.0), (1, "join", 1.0),
         (2, "zzznotfound", 1.0), (3, "window", 1.0),
         (4, "merge", 1.0), (4, "stream", 1.0), (4, "filter", 1.0)],
        "qid long, term string, qtf double",
    )
    # threshold between the single-term and multi-term Sum(df)s -> mixed
    res, routes = route_batch_bm25(index, blocks, dl_blocks, qt, k=10,
                                   cfg=cfg, block_span=SPAN,
                                   wand_min_postings=500)
    assert set(routes.values()) == {"wand", "exhaustive"}
    # unrouted oracle: deduped terms through the exhaustive batch path
    ref = batch_bm25_search(index, qt.distinct(), k=10, cfg=cfg)
    a = sorted((r.qid, r.doc_id, r.rank, round(r.score, 9)) for r in res.collect())
    b = sorted((r.qid, r.doc_id, r.rank, round(r.score, 9)) for r in ref.collect())
    assert a == b and len(a) > 0
