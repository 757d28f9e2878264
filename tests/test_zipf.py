"""Zipf corpus generator."""

from __future__ import annotations

import re

from information_retrieval_system_spark.sources.zipf import rank_token, zipf_corpus


def test_zipf_deterministic_and_analyzer_safe(spark):
    a = zipf_corpus(spark, 200, vocab=5000).orderBy("doc_id").collect()
    b = zipf_corpus(spark, 200, vocab=5000).orderBy("doc_id").collect()
    assert [(r.doc_id, r.text) for r in a] == [(r.doc_id, r.text) for r in b]
    # letters-only tokens: the analyzer strips digits, so "t123" would
    # collapse the vocabulary to one term
    for r in a[:20]:
        assert re.fullmatch(r"[a-z ]+", r.text), r.text


def test_zipf_rank_order(spark):
    from pyspark.sql import functions as F

    docs = zipf_corpus(spark, 3000, vocab=10_000)
    toks = docs.select(F.explode(F.split("text", " ")).alias("t"))
    counts = {r.t: r.n for r in toks.groupBy("t").agg(F.count("*").alias("n")).collect()}
    # head ranks strictly dominate the tail (sampled at decade spacing)
    c = [counts.get(rank_token(r), 0) for r in (1, 10, 100, 1000)]
    assert c[0] > c[1] > c[2] > c[3] > 0
