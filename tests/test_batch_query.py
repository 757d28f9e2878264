"""Batch multi-query scoring == per-query loop; projections; expansion."""

from __future__ import annotations

import pytest

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.query import scoring
from information_retrieval_system_spark.query.batch import (
    batch_bm25_search,
    expand_query_terms,
    project_results,
    queries_to_terms,
)

QS = [(1, "spark join merge"), (2, "vector stream"), (3, "zzz_absent"),
      (4, "the and or"), (5, "window filter sort")]


@pytest.fixture(scope="module")
def ix(spark, sf_small):
    cfg = EngineConfig()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    return cfg, build_index(docs, cfg, doc_col="doc_id", text_col="text")


def test_batch_equals_loop(spark, ix):
    cfg, index = ix
    k = 15
    qt = queries_to_terms(spark, QS, cfg)
    got = {}
    for r in batch_bm25_search(index, qt, k=k, cfg=cfg).collect():
        got.setdefault(r.qid, []).append((r.rank, r.doc_id, r.score))
    for qid, text in QS:
        single = [(i + 1, r.doc_id, r.score) for i, r in enumerate(
            scoring.bm25_search(index, analyze_query_terms(spark, text, cfg),
                                k=k, cfg=cfg).collect())]
        batch = sorted(got.get(qid, []))
        assert batch == single, f"qid={qid}"


def test_batch_qrels_restriction(spark, ix):
    cfg, index = ix
    qt = queries_to_terms(spark, [(1, "spark join")], cfg)
    qrels = spark.createDataFrame(
        [(1, 5, 1), (1, 8, 1), (1, 12, 0), (1, 400, 1)],
        "qid long, doc_id long, relevance int")
    out = batch_bm25_search(index, qt, k=10, cfg=cfg, qrels=qrels).collect()
    assert {r.doc_id for r in out} <= {5, 8, 400}  # relevance=1 only


def test_projections(spark, ix):
    cfg, index = ix
    ranked = scoring.bm25_search(index, analyze_query_terms(spark, "spark", cfg),
                                 k=5, cfg=cfg)
    plain = project_results(ranked, index.docs, "PLAIN")
    assert set(plain.columns) == {"doc_id", "score"}
    ess = project_results(ranked, index.docs, "ESSENTIAL")
    assert set(ess.columns) == {"doc_id", "score", "length", "norm", "pagerank"}
    full = project_results(ranked, index.docs, "FULL")
    assert "doc_int" in full.columns
    with pytest.raises(ValueError):
        project_results(ranked, index.docs, "BOGUS")


def test_expansion_mechanism(spark):
    qt = spark.createDataFrame([("spark", 2.0), ("join", 1.0)], "term string, qtf double")
    exp = spark.createDataFrame(
        [("spark", "flame", 1.0), ("spark", "dull", -1.5), ("join", "merge", 0.5)],
        "term string, expansion string, weight double")
    out = {r.term: r.qtf for r in expand_query_terms(qt, exp, expansion_weight=1.0).collect()}
    assert out == {"spark": 2.0, "join": 1.0, "flame": 2.0, "dull": -3.0, "merge": 0.5}
    # expansion colliding with an original term accumulates
    exp2 = spark.createDataFrame([("spark", "join", 1.0)], "term string, expansion string, weight double")
    out2 = {r.term: r.qtf for r in expand_query_terms(qt, exp2, expansion_weight=1.0).collect()}
    assert out2["join"] == 3.0
