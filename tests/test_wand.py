"""The one routed BM25 path: WAND == exhaustive scoring (prune safety,
SURVEY.md §5.5), a batch == its queries run alone, and a planned query
starts one Spark job."""

from __future__ import annotations

import uuid

import pytest

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.index.compression import (
    build_block_postings,
    build_dl_blocks,
    decode_block,
    read_block_index,
    write_block_index,
)
from information_retrieval_system_spark.query import scoring
from information_retrieval_system_spark.query.batch import queries_to_terms
from information_retrieval_system_spark.query.wand import route_batch_bm25, route_bm25

SPAN = 128  # small span to exercise multi-block paths on 500 docs
ALL_WAND = dict(block_span=SPAN, wand_min_postings=0)


@pytest.fixture(scope="module")
def blocked(spark, sf_small):
    cfg = EngineConfig()
    docs_df = spark.read.parquet(f"{sf_small}/documents.parquet")
    index = build_index(docs_df, cfg, doc_col="doc_id", text_col="text")
    blocks = build_block_postings(index.postings, block_span=SPAN).cache()
    dl_blocks = build_dl_blocks(index.docs, block_span=SPAN).cache()
    blocks.count(), dl_blocks.count()
    return cfg, index, blocks, dl_blocks


@pytest.fixture(scope="module")
def served(blocked, spark, tmp_path_factory):
    """The persisted layout, read with its tbucket partition column."""
    cfg, index, blocks, dl_blocks = blocked
    out_dir = str(tmp_path_factory.mktemp("layout"))
    write_block_index(blocks, dl_blocks, out_dir, term_buckets=8)
    return read_block_index(spark, out_dir, keep_bucket=True)


def jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"wand-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def ranked(res, tol_digits: int = 9):
    """Per-qid [(doc_id, score)] in rank order of a route_batch_bm25 frame."""
    got: dict[int, list] = {}
    for r in sorted(res.collect(), key=lambda r: (r.qid, r.rank)):
        got.setdefault(r.qid, []).append((r.doc_id, round(r.score, tol_digits)))
    return got


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
    exact = [(r.doc_id, r.score) for r in
             scoring.bm25_search(index, qt, k=k, cfg=cfg).collect()]
    res, route = route_bm25(index, blocks, dl_blocks, qt, k=k, cfg=cfg, **ALL_WAND)
    wand = [(r.doc_id, r.score) for r in res.collect()]
    assert route == "wand"
    assert [d for d, _ in wand] == [d for d, _ in exact]
    for (d1, s1), (d2, s2) in zip(wand, exact):
        assert abs(s1 - s2) <= 1e-9 * max(1.0, abs(s2))


def test_wand_dl_side_semijoin_pruned(blocked, spark):
    """The dl_blocks side of the cogroup is joined to the query's posting
    block ids — without it every query would shuffle N/span dl rows,
    corpus-proportional work."""
    cfg, index, blocks, dl_blocks = blocked
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    res, _ = route_bm25(index, blocks, dl_blocks, qt, k=10, cfg=cfg, **ALL_WAND)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "(block_id#" in plan and "= _bid#" in plan, plan
    assert "dls_vb" in plan and "FlatMapCoGroupsInArrow" in plan


def test_wand_served_bucket_partition_filter(blocked, served, spark):
    """Through the persisted layout with keep_bucket=True + term_buckets,
    the blocks scan carries a tbucket PartitionFilter, and results match
    the in-memory blocks."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    res, _ = route_bm25(index, b_all, dlb, qt, k=10, cfg=cfg, term_buckets=8, **ALL_WAND)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbucket" in plan
    mem, _ = route_bm25(index, blocks, dl_blocks, qt, k=10, cfg=cfg, **ALL_WAND)
    assert [(r.doc_id, round(r.score, 9)) for r in res.collect()] == \
           [(r.doc_id, round(r.score, 9)) for r in mem.collect()]


def test_batch_wand_equals_per_query_loop(blocked, spark):
    """A batch through the WAND route (one cogroup for the whole query
    set) equals each of its queries run alone — same docs, same scores."""
    cfg, index, blocks, dl_blocks = blocked
    qs = [(1, "spark join merge"), (2, "vector stream"),
          (3, "window filter sort batch"), (4, "zzz_absent")]
    res, routes = route_batch_bm25(index, blocks, dl_blocks,
                                   queries_to_terms(spark, qs, cfg), k=7, cfg=cfg, **ALL_WAND)
    assert set(routes.values()) == {"wand"}
    want = {}
    for qid, text in qs:
        one, _ = route_bm25(index, blocks, dl_blocks, analyze_query_terms(spark, text, cfg),
                            k=7, cfg=cfg, **ALL_WAND)
        rows = [(r.doc_id, round(r.score, 9)) for r in one.collect()]
        if rows:
            want[qid] = rows
    assert ranked(res) == want
    assert 4 not in want  # absent-term query yields nothing


def test_batch_wand_served_bucket_pruned(blocked, served, spark):
    """A batch through the persisted layout: the tbucket partition filter
    applies to the UNION of the WAND queries' terms; results equal the
    in-memory batch."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = queries_to_terms(spark, [(1, "spark join merge"), (2, "vector stream")], cfg)
    res, _ = route_batch_bm25(index, b_all, dlb, qt, k=5, cfg=cfg, term_buckets=8, **ALL_WAND)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbucket" in plan
    mem, _ = route_batch_bm25(index, blocks, dl_blocks, qt, k=5, cfg=cfg, **ALL_WAND)
    assert ranked(res) == ranked(mem)


def test_route_bm25_flips_on_threshold_value_invisibly(blocked, spark):
    """Routing must pick WAND above the posting-volume threshold and
    exhaustive below — with IDENTICAL top-k values either way."""
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


@pytest.mark.parametrize("text", ["zzz_absent qqq_nothing", "the and or"])
@pytest.mark.parametrize("wand_min_postings", [0, 10**9])
def test_route_empty_queries(blocked, spark, text, wand_min_postings):
    """An absent-term query and an all-stopword query return no rows
    through both adapters, on either route."""
    cfg, index, blocks, dl_blocks = blocked
    kw = dict(k=10, cfg=cfg, block_span=SPAN, wand_min_postings=wand_min_postings)
    one, _ = route_bm25(index, blocks, dl_blocks, analyze_query_terms(spark, text, cfg), **kw)
    assert one.collect() == []
    batch, _ = route_batch_bm25(index, blocks, dl_blocks,
                                queries_to_terms(spark, [(7, text)], cfg), **kw)
    assert batch.collect() == []
    assert scoring.bm25_search(index, analyze_query_terms(spark, text, cfg),
                               k=10, cfg=cfg).collect() == []


@pytest.mark.parametrize("wand_min_postings", [0, 10**9])
def test_planning_a_query_starts_one_job(blocked, served, spark, wand_min_postings):
    """The query side is driver data: the frames of analyze_query_terms and
    queries_to_terms collect with no Spark job, and planning a routed
    query starts exactly one, the term-stats collect."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    assert jobs_started(spark, qt.collect)[1] == 0
    assert jobs_started(spark, queries_to_terms(spark, [(1, "vector stream")], cfg).collect)[1] == 0
    (res, _), n_jobs = jobs_started(spark, lambda: route_bm25(
        index, b_all, dlb, qt, k=10, cfg=cfg, block_span=SPAN, term_buckets=8,
        wand_min_postings=wand_min_postings))
    assert n_jobs == 1
    assert len(res.collect()) == 10
