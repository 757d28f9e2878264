"""End-to-end rank-identity: distributed engine vs the pure-Python
reference-semantics oracle (SURVEY.md §5.3), full config (stopwords +
Porter), on the sf0.001 documents table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.oracle.pyref import OracleIndex
from information_retrieval_system_spark.query import scoring

QUERIES = [
    "spark join merge",
    "window FILTER sort",          # mixed case: both sides lowercase
    "the and or",                  # all stop/operator words -> empty
    "vector stream",
    "merge merge merge scan",      # duplicate terms
    "zzz_absent_term spark",
]


@pytest.fixture(scope="module")
def built(spark, sf_small):
    cfg = EngineConfig()
    docs_df = spark.read.parquet(f"{sf_small}/documents.parquet")
    index = build_index(docs_df, cfg, doc_col="doc_id", text_col="text")
    rows = docs_df.select("doc_id", "text").collect()
    oracle = OracleIndex({int(r.doc_id): r.text for r in rows},
                         use_stopwords=cfg.use_stopwords, use_stemmer=cfg.use_stemmer)
    return cfg, index, oracle


def test_stats_identity(built):
    cfg, index, oracle = built
    assert index.stats["n_docs"] == oracle.n
    assert index.stats["avgdl"] == oracle.avgdl  # floored long (A4)


def test_df_identity(built):
    cfg, index, oracle = built
    eng = {r.term: r.df for r in index.terms.collect()}
    assert eng == oracle.df


def test_norm_identity(built):
    cfg, index, oracle = built
    eng = {int(r.doc_id): r.norm for r in index.docs.collect()}
    for d, n in oracle.norm.items():
        assert abs(eng[d] - n) < 1e-9 * max(1.0, abs(n)), d


@pytest.mark.parametrize("query", QUERIES)
def test_bm25_rank_identity(built, spark, query):
    cfg, index, oracle = built
    k = 25
    qt = analyze_query_terms(spark, query, cfg)
    eng = [(int(r.doc_id), r.score) for r in
           scoring.bm25_search(index, qt, k=k, cfg=cfg).collect()]
    exp = oracle.bm25(query, k=k, k1=cfg.k1, b=cfg.b)
    assert [d for d, _ in eng] == [d for d, _ in exp], f"rank mismatch for {query!r}"
    for (d1, s1), (d2, s2) in zip(eng, exp):
        assert abs(s1 - s2) <= 1e-9 * max(1.0, abs(s2)), (query, d1)


@pytest.mark.parametrize("query", ["spark join merge", "vector stream", "merge merge index"])
def test_vsm_rank_identity(built, spark, query):
    cfg, index, oracle = built
    k = 25
    qt = analyze_query_terms(spark, query, cfg)
    eng = [(int(r.doc_id), r.score) for r in
           scoring.vsm_search(index, qt, k=k, cfg=cfg).collect()]
    exp = oracle.vsm(query, k=k)
    assert [d for d, _ in eng] == [d for d, _ in exp], f"rank mismatch for {query!r}"
    for (d1, s1), (d2, s2) in zip(eng, exp):
        assert abs(s1 - s2) <= 1e-9 * max(1.0, abs(s2)), (query, d1)


def test_bm25_candidate_semijoin(built, spark):
    cfg, index, oracle = built
    cand = {5, 8, 12, 100, 200}
    cdf = spark.createDataFrame([(c,) for c in cand], "doc_id bigint")
    qt = analyze_query_terms(spark, "spark join", cfg)
    eng = [(int(r.doc_id), r.score) for r in
           scoring.bm25_search(index, qt, k=10, cfg=cfg, candidates=cdf).collect()]
    exp = oracle.bm25("spark join", k=10, k1=cfg.k1, b=cfg.b, candidates=cand)
    assert [d for d, _ in eng] == [d for d, _ in exp]


def test_conjunctive_strict_and_contract(spark, sf_small):
    """Strict AND: any vocabulary-absent query term empties the result;
    otherwise results = docs containing every term."""
    from pyspark.sql import functions as F

    from information_retrieval_system_spark.config import EngineConfig
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.query.scoring import conjunctive_search

    cfg = EngineConfig(use_stopwords=False, use_stemmer=False)
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    ix = build_index(docs, cfg, doc_col="doc_id", text_col="text",
                     with_positions=False)

    def qt(terms):
        return spark.createDataFrame([(t, 1.0) for t in terms],
                                     "term string, qtf double")

    assert conjunctive_search(ix, qt(["spark", "zzz_absent"]), k=100).count() == 0
    got = {r.doc_id for r in conjunctive_search(ix, qt(["spark", "join"]), k=10**9).collect()}
    both = (ix.postings.filter(F.col("term").isin(["spark", "join"]))
            .groupBy("doc_id").agg(F.countDistinct("term").alias("n"))
            .filter("n = 2"))
    assert got == {r.doc_id for r in both.collect()} and got
