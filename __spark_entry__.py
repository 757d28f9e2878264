"""Flagship smoke entry point: ``entry(spark)`` builds a full-config index
over the sf0.001 ``documents`` table and returns a ranked BM25 top-20.

Implementation lives in ``information_retrieval_system_spark/``; the
Spark-vs-DuckDB operator checks live in ``tests/test_duckdb_oracle.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.query import scoring
from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full-config (stopwords +
    Porter) BM25 top-20 for the reference-style query "spark join merge"."""
    cfg = EngineConfig()  # stemmer + stopwords ON, k1=1.2 b=0.75
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    index = build_index(docs, cfg, doc_col="doc_id", text_col="text")
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    return scoring.bm25_search(index, qt, k=20, cfg=cfg)
