"""Contract checks for ``__spark_entry__`` and the Spark/DuckDB oracle
pairs in ``tests/test_duckdb_oracle.py``."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as E
from test_duckdb_oracle import CASES

#: the operators the oracle test must cover (the kept pipeline)
ORACLE_OPERATORS = {
    "term_df", "doc_norms", "bm25_topk", "vsm_topk", "existential",
    "pagerank", "batch_fusion", "eval_metrics", "s2_ingest", "s2_bm25",
    "external_expansion_topk",
}


def test_every_query_has_an_oracle():
    missing = sorted(ORACLE_OPERATORS - set(CASES))
    assert not missing, f"operators without an oracle case: {missing}"
    for name, (query, sql) in CASES.items():
        assert callable(query), f"{name}: Spark side is not callable"
        assert isinstance(sql, str) and sql.strip(), f"{name}: no oracle SQL"


def test_oracle_sql_is_duckdb_parseable(sf_small):
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_small}/documents.parquet'")
    for name, (_, sql) in CASES.items():
        con.sql(f"EXPLAIN {sql}")  # parses + binds against the real view


def test_entry_returns_ranked_frame(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert [f.name for f in df.schema.fields] == ["doc_id", "score"]
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
