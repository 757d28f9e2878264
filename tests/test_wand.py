"""The one routed BM25 path: the driver route (block-max WAND, one window
of block ids at a time) == exhaustive scoring and the pure-Python oracle
(prune safety, SURVEY.md §5.5), a batch == its queries run alone, only
the written layout is served in the driver, what the driver reads, and
that a served query starts no Spark job."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms, local_frame
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index, term_bucket_expr
from information_retrieval_system_spark.index.compression import (
    build_block_postings,
    build_dl_blocks,
    read_block_index,
    served_layout,
    write_block_index,
)
from information_retrieval_system_spark.oracle.pyref import OracleIndex
from information_retrieval_system_spark.query import scoring, wand
from information_retrieval_system_spark.query.batch import batch_bm25_search, queries_to_terms
from information_retrieval_system_spark.query.wand import route_batch_bm25, route_bm25
from information_retrieval_system_spark.sources.zipf import zipf_corpus

SPAN = 128  # small span to exercise multi-block paths on 500 docs (4 blocks)
KW = dict(block_span=SPAN, term_buckets=8)


@pytest.fixture(scope="module")
def layouts(spark, sf_small, tmp_path_factory):
    """{"int_ids" | "string_ids": (cfg, index, served blocks, served dl
    blocks, pyref oracle)}: the written layout on int doc ids and on
    string ones (doc_int ranked from them), read with its tbucket
    partition column."""
    cfg = EngineConfig()
    out = {}
    for kind in ("int_ids", "string_ids"):
        docs_df = spark.read.parquet(f"{sf_small}/documents.parquet")
        if kind == "string_ids":
            docs_df = docs_df.withColumn("doc_id", F.concat(F.lit("d"), F.col("doc_id").cast("string")))
        index = build_index(docs_df, cfg, doc_col="doc_id", text_col="text")
        out_dir = str(tmp_path_factory.mktemp(kind))
        write_block_index(build_block_postings(index.postings, block_span=SPAN),
                          build_dl_blocks(index.docs, block_span=SPAN), out_dir, term_buckets=8)
        b_all, dlb = read_block_index(spark, out_dir, keep_bucket=True)
        oracle = OracleIndex({r.doc_id: r.text for r in docs_df.select("doc_id", "text").collect()},
                             use_stopwords=cfg.use_stopwords, use_stemmer=cfg.use_stemmer)
        out[kind] = cfg, index, b_all, dlb, oracle
    return out


@pytest.fixture(scope="module", params=["int_ids", "string_ids"])
def layout(request, layouts):
    return layouts[request.param]


@pytest.fixture(scope="module")
def blocked(layouts):
    """(cfg, index, in-memory blocks, in-memory dl blocks) on int doc ids:
    frames that are not served, so they take the exhaustive route."""
    cfg, index, _, _, _ = layouts["int_ids"]
    blocks = build_block_postings(index.postings, block_span=SPAN).cache()
    dl_blocks = build_dl_blocks(index.docs, block_span=SPAN).cache()
    blocks.count(), dl_blocks.count()
    return cfg, index, blocks, dl_blocks


@pytest.fixture(scope="module")
def served(layouts):
    """The written int-id layout of ``blocked``'s index: (blocks, dl blocks)."""
    return layouts["int_ids"][2:4]


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


def rows_of(res) -> list:
    return [(r.doc_id, round(r.score, 9)) for r in res.collect()]


class BlocksReadSpy:
    """Stands in for a ``BlockLayout.blocks`` dataset and records, per
    ``to_table`` call, its columns and the files its filter keeps
    (pyarrow's partition pruning, ``get_fragments(filter=)``)."""

    def __init__(self, dataset):
        self.dataset, self.calls = dataset, []

    def to_table(self, columns, filter):
        self.calls.append((columns, {f.path for f in self.dataset.get_fragments(filter=filter)}))
        return self.dataset.to_table(columns=columns, filter=filter)


def driver_read_buckets(monkeypatch, blocks, dl_blocks, run) -> set[int]:
    """run() over the served pair -> the ``tbucket`` values of the files
    that ``driver_ranked``'s block reads (the ones with ``block_id``)
    touched.  ``layout_term_rows``' df read scans every bucket by design."""
    lay = served_layout(blocks, dl_blocks)
    spy = BlocksReadSpy(lay.blocks)
    monkeypatch.setattr(lay, "blocks", spy)
    run()
    paths = set().union(*(p for cols, p in spy.calls if "block_id" in cols))
    assert paths
    return {int(p.split("tbucket=")[1].split("/")[0]) for p in paths}


def write_buckets(blocks, terms: list[str]) -> set[int]:
    """The write side's tbucket of each of ``terms`` (8 buckets)."""
    return {r.b for r in blocks.filter(F.col("term").isin(terms))
            .select(term_bucket_expr(F.col("term"), 8).alias("b")).distinct().collect()}


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


def test_block_files_sorted_by_term_and_block(spark, tmp_path):
    """Every written bucket file is sorted by (term, block_id), on a
    layout large enough (20k Zipf docs) that the partitioned writer's own
    sort by ``tbucket`` used to scatter each file's terms."""
    docs = zipf_corpus(spark, 20_000, vocab=20_000).select(
        F.col("doc_id").alias("doc_int"), F.split("text", " ").alias("toks"))
    postings = (docs.select("doc_int", F.explode("toks").alias("term"))
                .groupBy("term", "doc_int").agg(F.count("*").cast("int").alias("tf")))
    lengths = docs.select("doc_int", F.size("toks").alias("length"))
    write_block_index(build_block_postings(postings, block_span=256),
                      build_dl_blocks(lengths, block_span=256), str(tmp_path), term_buckets=8)
    files = sorted((tmp_path / "blocks").rglob("*.parquet"))
    assert len(files) == 8
    for f in files:
        t = pq.read_table(f, columns=["term", "block_id"])
        keys = list(zip(t.column("term").to_pylist(), t.column("block_id").to_pylist()))
        assert keys == sorted(keys), f


@pytest.mark.parametrize("query,k", [
    ("spark join merge", 10),
    ("spark join merge", 50),
    ("window filter sort batch", 25),
    ("vector stream", 5),
    ("zzz_absent spark", 10),
])
def test_wand_equals_exhaustive(layouts, spark, query, k):
    """The driver route (block-max WAND over the written layout) equals
    exhaustive bm25_search, on int and string doc ids."""
    for cfg, index, b_all, dlb, _ in layouts.values():
        qt = analyze_query_terms(spark, query, cfg)
        exact = [(r.doc_id, r.score) for r in
                 scoring.bm25_search(index, qt, k=k, cfg=cfg).collect()]
        res, route = route_bm25(index, b_all, dlb, qt, k=k, cfg=cfg, **KW)
        got = [(r.doc_id, r.score) for r in res.collect()]
        assert route == "driver"
        assert [d for d, _ in got] == [d for d, _ in exact]
        for (d1, s1), (d2, s2) in zip(got, exact):
            assert abs(s1 - s2) <= 1e-9 * max(1.0, abs(s2))


def test_wand_dl_side_semijoin_pruned(blocked, spark, tmp_path, monkeypatch):
    """The driver reads dl rows only for the block ids the query's posting
    rows touch: dl work follows the query, never the corpus.  Here the
    query term is kept in block 0 only, of 4."""
    cfg, index, blocks, dl_blocks = blocked
    qt = analyze_query_terms(spark, "vector", cfg)
    term = qt.collect()[0].term
    postings = index.postings.filter((F.col("term") != term) | (F.col("doc_int") < SPAN))
    write_block_index(build_block_postings(postings, block_span=SPAN), dl_blocks,
                      str(tmp_path), term_buckets=8)
    b_all, dlb = read_block_index(spark, str(tmp_path), keep_bucket=True)
    read: list[int] = []
    dl_rows = wand.dl_rows

    def spy(t):
        read.extend(t.column("block_id").to_pylist())
        return dl_rows(t)

    monkeypatch.setattr(wand, "dl_rows", spy)
    res, route = route_bm25(index, b_all, dlb, qt, k=10, cfg=cfg, **KW)
    assert route == "driver" and res.collect()
    assert read == [0] and dl_blocks.count() == 4


def test_wand_served_bucket_partition_filter(blocked, served, spark, monkeypatch):
    """Over the written layout the driver's block read opens only the
    query terms' tbucket files, and results match the in-memory blocks
    (the exhaustive route)."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    got = {}

    def run():
        got["res"], got["route"] = route_bm25(index, b_all, dlb, qt, k=10, cfg=cfg, **KW)

    buckets = driver_read_buckets(monkeypatch, b_all, dlb, run)
    assert got["route"] == "driver"
    assert buckets == write_buckets(blocks, [r.term for r in qt.collect()]) and len(buckets) < 8
    mem, route = route_bm25(index, blocks, dl_blocks, qt, k=10, cfg=cfg, **KW)
    assert route == "exhaustive" and rows_of(got["res"]) == rows_of(mem)


def test_batch_wand_equals_per_query_loop(layouts, spark):
    """A batch through the driver route equals each of its queries run
    alone — same docs, same scores — on int and string doc ids."""
    qs = [(1, "spark join merge"), (2, "vector stream"),
          (3, "window filter sort batch"), (4, "zzz_absent")]
    for cfg, index, b_all, dlb, _ in layouts.values():
        res, routes = route_batch_bm25(index, b_all, dlb, queries_to_terms(spark, qs, cfg),
                                       k=7, cfg=cfg, **KW)
        assert set(routes.values()) == {"driver"}
        want = {}
        for qid, text in qs:
            one, _ = route_bm25(index, b_all, dlb, analyze_query_terms(spark, text, cfg),
                                k=7, cfg=cfg, **KW)
            if rows := rows_of(one):
                want[qid] = rows
        assert ranked(res) == want
        assert 4 not in want  # absent-term query yields nothing


def test_batch_wand_served_bucket_pruned(blocked, served, spark, monkeypatch):
    """A batch over the written layout: the driver's block read opens the
    tbucket files of the UNION of the batch's terms and no other; results
    equal the in-memory batch."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = queries_to_terms(spark, [(1, "spark join merge"), (2, "vector stream")], cfg)
    got = {}

    def run():
        got["res"], got["routes"] = route_batch_bm25(index, b_all, dlb, qt, k=5, cfg=cfg, **KW)

    buckets = driver_read_buckets(monkeypatch, b_all, dlb, run)
    assert set(got["routes"].values()) == {"driver"}
    terms = [r.term for r in qt.collect()]
    assert buckets == write_buckets(blocks, terms) and len(buckets) < 8
    mem, routes = route_batch_bm25(index, blocks, dl_blocks, qt, k=5, cfg=cfg, **KW)
    assert set(routes.values()) == {"exhaustive"}
    assert ranked(got["res"]) == ranked(mem)


def test_route_bm25_flips_on_threshold_value_invisibly(blocked, served, spark, monkeypatch):
    """The route depends only on whether the frames are served: neither
    ``wand_min_postings`` (ignored) nor ``DRIVER_MAX_BYTES`` (a window
    bound: 1 B gives one window per block) changes a route or a value,
    and the in-memory frames give the same rows on the exhaustive route."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    got = []
    for max_bytes in (wand.DRIVER_MAX_BYTES, 1):
        monkeypatch.setattr(wand, "DRIVER_MAX_BYTES", max_bytes)
        for wand_min_postings in (1, 10**9):
            for frames, want_route in (((b_all, dlb), "driver"),
                                       ((blocks, dl_blocks), "exhaustive")):
                res, route = route_bm25(index, *frames, qt, k=10, cfg=cfg, block_span=SPAN,
                                        wand_min_postings=wand_min_postings)
                assert route == want_route
                got.append(rows_of(res))
    assert len(got[0]) == 10 and all(g == got[0] for g in got)


def test_route_batch_mixed_routes_equal_unrouted(blocked, served, spark):
    """One collect routes the whole query set; over the written layout
    (driver) and over in-memory frames (exhaustive) the result equals the
    unrouted batch oracle — and duplicate (qid, term) rows are collapsed
    on BOTH routes."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = spark.createDataFrame(
        [(1, "spark", 1.0), (1, "spark", 1.0), (1, "join", 1.0),
         (2, "zzznotfound", 1.0), (3, "window", 1.0),
         (4, "merge", 1.0), (4, "stream", 1.0), (4, "filter", 1.0)],
        "qid long, term string, qtf double",
    )
    # unrouted oracle: deduped terms through the exhaustive batch path
    ref = batch_bm25_search(index, qt.distinct(), k=10, cfg=cfg)
    want = sorted((r.qid, r.doc_id, r.rank, round(r.score, 9)) for r in ref.collect())
    assert want
    for frames, route in (((b_all, dlb), "driver"), ((blocks, dl_blocks), "exhaustive")):
        res, routes = route_batch_bm25(index, *frames, qt, k=10, cfg=cfg, **KW)
        assert routes == dict.fromkeys([1, 2, 3, 4], route)
        assert sorted((r.qid, r.doc_id, r.rank, round(r.score, 9)) for r in res.collect()) == want


@pytest.mark.parametrize("text", ["zzz_absent qqq_nothing", "the and or"])
@pytest.mark.parametrize("wand_min_postings", [0, 10**9])
def test_route_empty_queries(blocked, served, spark, text, wand_min_postings):
    """An absent-term query and an all-stopword query return no rows
    through both adapters, on both routes, whatever the (ignored)
    ``wand_min_postings``."""
    cfg, index, blocks, dl_blocks = blocked
    kw = dict(k=10, cfg=cfg, block_span=SPAN, wand_min_postings=wand_min_postings)
    for frames, want_route in (((blocks, dl_blocks), "exhaustive"), (served, "driver")):
        one, route = route_bm25(index, *frames, analyze_query_terms(spark, text, cfg), **kw)
        assert one.collect() == [] and route == want_route
        batch, _ = route_batch_bm25(index, *frames,
                                    queries_to_terms(spark, [(7, text)], cfg), **kw)
        assert batch.collect() == []
    assert scoring.bm25_search(index, analyze_query_terms(spark, text, cfg),
                               k=10, cfg=cfg).collect() == []


@pytest.mark.parametrize("wand_min_postings", [0, 10**9])
def test_planning_a_query_starts_no_job(blocked, served, spark, monkeypatch, wand_min_postings):
    """The query side is driver data: the frames of analyze_query_terms and
    queries_to_terms collect with no Spark job.  Over the written layout
    (int doc ids) routing AND collecting a query start no job, in one
    window or in one window per block.  Over in-memory blocks planning
    starts none either (the exhaustive plan drops absent terms in its
    own join), with the same values.  ``wand_min_postings`` is ignored."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    assert jobs_started(spark, qt.collect)[1] == 0
    assert jobs_started(spark, queries_to_terms(spark, [(1, "vector stream")], cfg).collect)[1] == 0
    kw = dict(k=10, cfg=cfg, wand_min_postings=wand_min_postings, **KW)

    def served_rows():
        res, route = route_bm25(index, b_all, dlb, qt, **kw)
        return route, rows_of(res)

    (route, rows), n_jobs = jobs_started(spark, served_rows)
    assert route == "driver" and n_jobs == 0 and len(rows) == 10
    monkeypatch.setattr(wand, "DRIVER_MAX_BYTES", 1)
    assert jobs_started(spark, served_rows) == (("driver", rows), 0)
    (res, route), n_jobs = jobs_started(spark, lambda: route_bm25(index, blocks, dl_blocks, qt, **kw))
    assert route == "exhaustive" and n_jobs == 0
    assert rows_of(res) == rows


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
    res, route = route_bm25(index, b_all, dlb, qt, k=k, cfg=cfg, **KW)
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
        got.append(rows_of(res))
    assert len(got[0]) == 10 and all(g == got[0] for g in got)


def test_windowed_batch_equals_queries_alone(layout, spark, monkeypatch):
    """With ``DRIVER_MAX_BYTES`` at 1 B every window holds one block (4
    windows of SPAN docs over 500 docs), and each qid's heap and top-k
    carry across them: the batch and each query alone equal bm25_search
    and oracle/pyref.py, with ties at the k-th score ("spark") and mixed-
    sign idf ("dup spark window").  A string-id batch starts only its
    one doc_id lookup job."""
    cfg, index, b_all, dlb, oracle = layout
    monkeypatch.setattr(wand, "DRIVER_MAX_BYTES", 1)
    windows = wand.block_windows(served_layout(b_all, dlb), 10**6)
    assert len(windows) == 4 and all(lo == hi for lo, hi in windows)
    qs = [(1, "spark join merge"), (2, "spark"), (3, "dup spark window"),
          (4, "zzz_absent"), (5, "vector stream"), (6, "dup window")]
    k = tie_cut(oracle, "spark")
    kw = dict(k=k, cfg=cfg, **KW)

    def batch():
        res, routes = route_batch_bm25(index, b_all, dlb, queries_to_terms(spark, qs, cfg), **kw)
        return ranked(res), routes

    (got, routes), n_jobs = jobs_started(spark, batch)
    assert set(routes.values()) == {"driver"}
    assert n_jobs == (0 if index.stats["int_doc_ids"] else 1)
    for qid, text in qs:
        qt = analyze_query_terms(spark, text, cfg)
        one, route = route_bm25(index, b_all, dlb, qt, **kw)
        alone = [(r.doc_id, r.score) for r in one.collect()]
        assert route == "driver"
        assert same_rows(alone, oracle.bm25(text, k=k, k1=cfg.k1, b=cfg.b))
        assert same_rows(alone, [(r.doc_id, r.score) for r in
                                 scoring.bm25_search(index, qt, k=k, cfg=cfg).collect()])
        assert same_rows(got.get(qid, []), alone)
    assert 4 not in got and len(got[2]) == k


def test_derived_or_in_memory_frames_not_served(blocked, served, spark):
    """Only the exact frames read_block_index returned are served from the
    files: a filtered frame, a projected one and the in-memory blocks go
    to the exhaustive route, with the same results."""
    cfg, index, blocks, dl_blocks = blocked
    b_all, dlb = served
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    kw = dict(k=10, cfg=cfg, wand_min_postings=0, **KW)
    want, route = route_bm25(index, b_all, dlb, qt, **kw)
    assert route == "driver"
    want = rows_of(want)
    for bl, dl in [(b_all.filter(F.col("n") > 0), dlb), (b_all, dlb.select("*")),
                   (blocks, dl_blocks)]:
        res, route = route_bm25(index, bl, dl, qt, **kw)
        assert route == "exhaustive"
        assert rows_of(res) == want
