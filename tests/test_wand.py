"""The one routed BM25 path: the driver route and WAND == exhaustive
scoring and the pure-Python oracle (prune safety, SURVEY.md §5.5), a
batch == its queries run alone, only the written layout is served in the
driver, and a served query starts no Spark job."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms, local_frame
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.index.compression import (
    build_block_postings,
    build_dl_blocks,
    read_block_index,
    served_layout,
    write_block_index,
)
from information_retrieval_system_spark.oracle.pyref import OracleIndex
from information_retrieval_system_spark.query import scoring, wand
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


@pytest.fixture(scope="module", params=["int_ids", "string_ids"])
def layout(request, spark, sf_small, tmp_path_factory):
    """(cfg, index, served blocks, served dl blocks, pyref oracle) on int
    doc ids and on string ones (doc_int ranked from them)."""
    cfg = EngineConfig()
    docs_df = spark.read.parquet(f"{sf_small}/documents.parquet")
    if request.param == "string_ids":
        docs_df = docs_df.withColumn("doc_id", F.concat(F.lit("d"), F.col("doc_id").cast("string")))
    index = build_index(docs_df, cfg, doc_col="doc_id", text_col="text")
    out_dir = str(tmp_path_factory.mktemp(request.param))
    write_block_index(build_block_postings(index.postings, block_span=SPAN),
                      build_dl_blocks(index.docs, block_span=SPAN), out_dir, term_buckets=8)
    b_all, dlb = read_block_index(spark, out_dir, keep_bucket=True)
    oracle = OracleIndex({r.doc_id: r.text for r in docs_df.select("doc_id", "text").collect()},
                         use_stopwords=cfg.use_stopwords, use_stemmer=cfg.use_stemmer)
    return cfg, index, b_all, dlb, oracle


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
    # rebuild (term, doc_int) -> tf from the block arrays and compare
    # against the raw postings rows
    raw = {(r.term, r.doc_int): r.tf for r in index.postings.collect()}
    got = {}
    for r in blocks.collect():
        assert r.n == len(r.docs) == len(r.tfs)
        assert r.docs == sorted(r.docs) and 0 <= r.docs[0] and r.docs[-1] < SPAN
        assert r.max_tf == max(r.tfs)
        for off, tf in zip(r.docs, r.tfs):
            got[(r.term, r.block_id * SPAN + off)] = tf
    assert got == raw
    dls = {r.doc_int: r.length for r in index.docs.collect()}
    assert {r.block_id * SPAN + off: dl for r in dl_blocks.collect()
            for off, dl in zip(r.docs, r.dls)} == dls


def test_block_build_native_int_arrays(blocked, spark, tmp_path):
    """The block build runs no Python UDF, and the written ``blocks/`` and
    ``dl_blocks/`` store their payloads as parquet ``list<int32>``."""
    cfg, index, blocks, dl_blocks = blocked
    postings = local_frame(spark, [(r.term, r.doc_int, r.tf) for r in index.postings.collect()],
                           "term string, doc_int long, tf int")
    docs = local_frame(spark, [(r.doc_int, r.length) for r in index.docs.collect()],
                       "doc_int long, length int")
    for built in (build_block_postings(postings, block_span=SPAN),
                  build_dl_blocks(docs, block_span=SPAN)):
        plan = built._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    write_block_index(blocks, dl_blocks, str(tmp_path), term_buckets=8)
    for table, cols in (("blocks", ("docs", "tfs")), ("dl_blocks", ("docs", "dls"))):
        schema = pq.read_schema(next((tmp_path / table).rglob("*.parquet")))
        for c in cols:
            t = schema.field(c).type
            assert pa.types.is_list(t) and t.value_type == pa.int32(), (table, c, t)


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
    assert "dls#" in plan and "FlatMapCoGroupsInArrow" in plan


def test_wand_served_bucket_partition_filter(blocked, served, spark, monkeypatch):
    """Through the persisted layout with keep_bucket=True on the (forced)
    Spark route, the blocks scan carries a tbucket PartitionFilter, and
    results match the in-memory blocks."""
    monkeypatch.setattr(wand, "DRIVER_MAX_BYTES", -1)
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    res, route = route_bm25(index, b_all, dlb, qt, k=10, cfg=cfg, term_buckets=8, **ALL_WAND)
    assert route == "wand"
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


def test_batch_wand_served_bucket_pruned(blocked, served, spark, monkeypatch):
    """A batch through the persisted layout on the (forced) Spark route:
    the tbucket partition filter applies to the UNION of the WAND
    queries' terms; results equal the in-memory batch."""
    monkeypatch.setattr(wand, "DRIVER_MAX_BYTES", -1)
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = queries_to_terms(spark, [(1, "spark join merge"), (2, "vector stream")], cfg)
    res, routes = route_batch_bm25(index, b_all, dlb, qt, k=5, cfg=cfg, term_buckets=8,
                                   **ALL_WAND)
    assert set(routes.values()) == {"wand"}
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
    one, route = route_bm25(index, blocks, dl_blocks, analyze_query_terms(spark, text, cfg), **kw)
    assert one.collect() == []
    if text == "the and or":  # no terms: in-memory frames are never "driver"
        assert route == "exhaustive"
    batch, _ = route_batch_bm25(index, blocks, dl_blocks,
                                queries_to_terms(spark, [(7, text)], cfg), **kw)
    assert batch.collect() == []
    assert scoring.bm25_search(index, analyze_query_terms(spark, text, cfg),
                               k=10, cfg=cfg).collect() == []


@pytest.mark.parametrize("wand_min_postings", [0, 10**9])
def test_planning_a_query_starts_one_job(blocked, served, spark, monkeypatch, wand_min_postings):
    """The query side is driver data: the frames of analyze_query_terms and
    queries_to_terms collect with no Spark job.  Over the written layout
    (int doc ids) routing AND collecting a query start no job: it is
    served in the driver, and on the forced Spark route the term stats
    come from the files, so planning starts none.  Over in-memory blocks
    planning starts exactly one, the term-stats collect."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    assert jobs_started(spark, qt.collect)[1] == 0
    assert jobs_started(spark, queries_to_terms(spark, [(1, "vector stream")], cfg).collect)[1] == 0
    kw = dict(k=10, cfg=cfg, block_span=SPAN, term_buckets=8, wand_min_postings=wand_min_postings)

    def served_rows():
        res, route = route_bm25(index, b_all, dlb, qt, **kw)
        return route, [(r.doc_id, round(r.score, 9)) for r in res.collect()]

    (route, rows), n_jobs = jobs_started(spark, served_rows)
    assert route == "driver" and n_jobs == 0 and len(rows) == 10
    monkeypatch.setattr(wand, "DRIVER_MAX_BYTES", -1)
    (res, route), n_jobs = jobs_started(spark, lambda: route_bm25(index, b_all, dlb, qt, **kw))
    assert route != "driver" and n_jobs == 0
    assert [(r.doc_id, round(r.score, 9)) for r in res.collect()] == rows
    (res, _), n_jobs = jobs_started(spark, lambda: route_bm25(index, blocks, dl_blocks, qt, **kw))
    assert n_jobs == 1
    assert [(r.doc_id, round(r.score, 9)) for r in res.collect()] == rows


def tie_cut(oracle, text: str) -> int:
    """The smallest k >= 2 whose k-th and (k+1)-th oracle scores tie."""
    full = oracle.bm25(text, k=10**6)
    return next(i for i in range(2, len(full)) if full[i][1] == full[i - 1][1])


def same_rows(got, want) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(a - b) <= 1e-9 * max(1.0, abs(b)) for (_, a), (_, b) in zip(got, want))


@pytest.mark.parametrize("text", [
    "spark join merge",
    "spark",            # ties at the k-th score
    "dup spark window",  # positive and negative idf in one query
    "zzz_absent qqq_nothing",
    "the and or",       # all stopwords
])
def test_driver_route_equals_oracles(layout, spark, text):
    """The driver route equals bm25_search and oracle/pyref.py, ties at
    the k-th score broken on doc_id ASC, on int and string doc ids."""
    cfg, index, b_all, dlb, oracle = layout
    k = tie_cut(oracle, text) if oracle.bm25(text) else 10
    qt = analyze_query_terms(spark, text, cfg)
    res, route = route_bm25(index, b_all, dlb, qt, k=k, cfg=cfg, block_span=SPAN, term_buckets=8)
    got = [(r.doc_id, r.score) for r in res.collect()]
    assert route == "driver"
    assert same_rows(got, [(r.doc_id, r.score) for r in
                           scoring.bm25_search(index, qt, k=k, cfg=cfg).collect()])
    assert same_rows(got, oracle.bm25(text, k=k, k1=cfg.k1, b=cfg.b))
    if text == "dup spark window":
        idfs = [oracle.n - 2 * oracle.df[t] for t in oracle.query_terms(text)]
        assert min(idfs) < 0 < max(idfs)


def test_driver_route_ignores_term_buckets(layout, spark):
    """The driver route reads each term's df and bucket from the layout's
    partitions, so a wrong or missing ``term_buckets`` changes nothing."""
    cfg, index, b_all, dlb, _ = layout
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    got = []
    for term_buckets in (8, None, 3, 64):
        res, route = route_bm25(index, b_all, dlb, qt, k=10, cfg=cfg, block_span=SPAN,
                                term_buckets=term_buckets)
        assert route == "driver"
        got.append([(r.doc_id, round(r.score, 9)) for r in res.collect()])
    assert len(got[0]) == 10 and all(g == got[0] for g in got)


def test_driver_and_spark_batch_equals_queries_alone(layout, spark, monkeypatch):
    """A batch whose qids split between the driver and the Spark routes
    equals each of its queries run alone.  DRIVER_MAX_BYTES bounds the
    batch: qids are admitted smallest first while their distinct terms'
    block rows fit, and a qid that fits alone can still go to Spark.  A
    string-id batch starts at most its one doc_id lookup job on the
    driver side."""
    cfg, index, b_all, dlb, _ = layout
    qs = [(1, "spark join merge"), (2, "dup"), (3, "window"), (4, "zzz_absent"),
          (5, "vector stream"), (6, "dup window")]

    def held(text: str) -> int:
        terms = [r.term for r in analyze_query_terms(spark, text, cfg).collect()]
        return sum(wand.layout_term_rows(served_layout(b_all, dlb), terms)[1].values())

    # each of qids 2, 3 and 5 fits alone, not all three together
    cap = max(held("dup") + held("window"), held("vector stream"))
    monkeypatch.setattr(wand, "DRIVER_MAX_BYTES", cap)
    kw = dict(k=7, cfg=cfg, block_span=SPAN, term_buckets=8, wand_min_postings=800)
    res, routes = route_batch_bm25(index, b_all, dlb, queries_to_terms(spark, qs, cfg), **kw)
    # smallest first: 4 (no rows), 2, 3, then 6 adds no term; 5 no longer fits
    assert routes == {1: "wand", 2: "driver", 3: "driver", 4: "driver",
                      5: "exhaustive", 6: "driver"}
    want = {}
    for qid, text in qs:
        one, route = route_bm25(index, b_all, dlb, analyze_query_terms(spark, text, cfg), **kw)
        assert route == ("wand" if qid == 1 else "driver")
        rows = [(r.doc_id, round(r.score, 9)) for r in one.collect()]
        if rows:
            want[qid] = rows
    assert ranked(res) == want and 4 not in want
    monkeypatch.setattr(wand, "DRIVER_MAX_BYTES", 10**12)

    def all_driver():
        res, routes = route_batch_bm25(index, b_all, dlb, queries_to_terms(spark, qs, cfg), **kw)
        return ranked(res), routes

    (rows, routes), n_jobs = jobs_started(spark, all_driver)
    assert set(routes.values()) == {"driver"} and rows == want
    assert n_jobs == (0 if index.stats["int_doc_ids"] else 1)


def test_derived_or_in_memory_frames_not_served(blocked, served, spark):
    """Only the exact frames read_block_index returned are served from the
    files: a filtered frame, a projected one and the in-memory blocks go
    to Spark, with the same results."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    kw = dict(k=10, cfg=cfg, block_span=SPAN, term_buckets=8, wand_min_postings=0)
    want, route = route_bm25(index, b_all, dlb, qt, **kw)
    assert route == "driver"
    want = [(r.doc_id, round(r.score, 9)) for r in want.collect()]
    for bl, dl in [(b_all.filter(F.col("n") > 0), dlb), (b_all, dlb.select("*")),
                   (blocks, dl_blocks)]:
        res, route = route_bm25(index, bl, dl, qt, **kw)
        assert route == "wand"
        assert [(r.doc_id, round(r.score, 9)) for r in res.collect()] == want
