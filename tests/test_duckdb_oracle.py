"""Spark operators against independent DuckDB SQL oracles at sf0.001.

Each case pairs a PySpark callable ``(spark, sf_dir) -> DataFrame`` with
an ANSI-SQL query over the same parquet tables / committed fixtures, and
the two results must agree on row count, column set and values
(order-insensitive, atol 1e-9).

Conventions that keep engine and oracle comparable:
- every computed column is aliased identically on both sides;
- integer outputs are BIGINT on both sides (DuckDB ``sum`` yields
  HUGEINT — always ``CAST(... AS BIGINT)``);
- floating outputs are rounded on both sides (4 decimals, 6 for
  PageRank and fusion);
- ordering ties are broken by a total key (score DESC, doc_id ASC).

IR queries on the ``documents`` table run the analyzer with
stopwords/stemmer DISABLED so the oracle stays ANSI-SQL-expressible; the
stemmer/stopword paths are covered against the pure-Python oracle
(``oracle/pyref.py``) in the other tests.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import DataFrame, SparkSession, functions as F

from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.evaluation.metrics import evaluate
from information_retrieval_system_spark.graph.pagerank import attach_pagerank, pagerank
from information_retrieval_system_spark.index.builder import IndexTables, build_index
from information_retrieval_system_spark.query import scoring
from information_retrieval_system_spark.query.batch import batch_bm25_search, expand_query_terms
from information_retrieval_system_spark.sources import s2_json

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "fixtures")

# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------

NOSTEM_CFG = EngineConfig(use_stopwords=False, use_stemmer=False)

#: DuckDB CTE producing one row per (doc_id, token) with the T2/T3 analyzer
#: (stop/stem off), exactly mirroring analyzer.tokens_array_expr.
TOKS_CTE = """
raw AS (
  SELECT doc_id,
         unnest(string_split_regex(
           trim(lower(regexp_replace(regexp_replace(text,
                '[^\\p{L}\\p{Nd}]+', ' ', 'g'), '[0-9]', ' ', 'g'))),
           ' +')) AS term
  FROM documents
),
toks AS (SELECT doc_id, term FROM raw WHERE term <> '')
"""

QUERY_TERMS = ("spark", "join", "merge")  # flagship query, no dup terms
K1, B = 1.2, 0.75
TOPK = 20

_index_cache: dict[str, IndexTables] = {}


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def get_index(spark: SparkSession, sf_dir: str) -> IndexTables:
    if sf_dir not in _index_cache:
        docs = load_documents(spark, sf_dir)
        _index_cache[sf_dir] = build_index(docs, NOSTEM_CFG, doc_col="doc_id",
                                           text_col="text")
    return _index_cache[sf_dir]


def query_terms_df(spark: SparkSession) -> DataFrame:
    rows = [(t, 1.0) for t in QUERY_TERMS]
    return spark.createDataFrame(rows, "term string, qtf double")


def _sql_terms_list(terms: tuple[str, ...] = QUERY_TERMS) -> str:
    return "[" + ", ".join(f"'{t}'" for t in terms) + "]"


# ---------------------------------------------------------------------------
# index tables
# ---------------------------------------------------------------------------

def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ix = get_index(spark, sf_dir)
    return ix.terms.select("term", F.col("df").cast("long").alias("df"),
                           F.col("cf").cast("long").alias("cf"))


SQL_TERM_DF = f"""
WITH {TOKS_CTE},
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM post GROUP BY term
"""


def q_doc_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ix = get_index(spark, sf_dir)
    return ix.docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                          F.round("norm", 4).alias("norm"))


SQL_DOC_NORMS = f"""
WITH {TOKS_CTE},
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
stats AS (SELECT count(*) AS n FROM documents),
norms AS (
  SELECT p.doc_id,
         sum(pow(p.tf * ln((s.n + 1) // f.df) / ln(2), 2)) AS norm
  FROM post p JOIN dft f USING (term) CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT d.doc_id, round(coalesce(n.norm, 0.0), 4) AS norm
FROM documents d LEFT JOIN norms n USING (doc_id)
"""


# ---------------------------------------------------------------------------
# retrieval models
# ---------------------------------------------------------------------------

def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ix = get_index(spark, sf_dir)
    res = scoring.bm25_search(ix, query_terms_df(spark), k=TOPK, cfg=NOSTEM_CFG)
    return res.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.round("score", 4).alias("score"))


SQL_BM25_TOPK = f"""
WITH {TOKS_CTE},
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
dl AS (SELECT d.doc_id, CAST(coalesce(t.dl, 0) AS DOUBLE) AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) t USING (doc_id)),
stats AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
                 CAST((SELECT count(*) FROM toks) // (SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
q AS (SELECT unnest({_sql_terms_list()}) AS term),
scored AS (
  SELECT p.doc_id,
         (ln((s.n - f.df + 0.5) / (f.df + 0.5)) / ln(2))
           * p.tf * ({K1} + 1)
           / (p.tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)) AS ts
  FROM post p
  JOIN q USING (term)
  JOIN dft f USING (term)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id, round(sum(ts), 4) AS score
FROM scored GROUP BY doc_id
ORDER BY sum(ts) DESC, doc_id ASC
LIMIT {TOPK}
"""


def q_vsm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ix = get_index(spark, sf_dir)
    res = scoring.vsm_search(ix, query_terms_df(spark), k=TOPK, cfg=NOSTEM_CFG)
    return res.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.round("score", 4).alias("score"))


SQL_VSM_TOPK = f"""
WITH {TOKS_CTE},
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
stats AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n),
norms AS (
  -- NB: DuckDB's // is integer division only for integer operands; with
  -- DOUBLEs it does NOT floor, so the Java-int-division quirk needs an
  -- explicit floor() here.
  SELECT p.doc_id,
         sum(pow(p.tf * ln(floor((s.n + 1) / f.df)) / ln(2), 2)) AS norm2
  FROM post p JOIN dft f USING (term) CROSS JOIN stats s
  GROUP BY p.doc_id
),
q AS (SELECT unnest({_sql_terms_list()}) AS term, 1.0 AS qtf),
qw AS (SELECT q.term, q.qtf * ln(s.n / f.df) / ln(2) AS w_q
       FROM q JOIN dft f USING (term) CROSS JOIN stats s),
qnorm AS (SELECT sum(w_q * w_q) AS q_norm2 FROM qw),
dots AS (
  SELECT p.doc_id, sum(p.tf * (ln(s.n / f.df) / ln(2)) * w.w_q) AS dot
  FROM post p JOIN qw w USING (term) JOIN dft f USING (term) CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       round(CASE WHEN n.norm2 > 0 AND qn.q_norm2 > 0
                  THEN d.dot / sqrt(n.norm2 * qn.q_norm2) ELSE 0 END, 4) AS score
FROM dots d JOIN norms n USING (doc_id) CROSS JOIN qnorm qn
ORDER BY (CASE WHEN n.norm2 > 0 AND qn.q_norm2 > 0
               THEN d.dot / sqrt(n.norm2 * qn.q_norm2) ELSE 0 END) DESC, d.doc_id ASC
LIMIT {TOPK}
"""


def q_existential(spark: SparkSession, sf_dir: str) -> DataFrame:
    ix = get_index(spark, sf_dir)
    res = scoring.existential_search(ix, query_terms_df(spark), k=10**9, cfg=NOSTEM_CFG)
    return res.select(F.col("doc_id").cast("long").alias("doc_id"), "score")


SQL_EXISTENTIAL = f"""
WITH {TOKS_CTE},
q AS (SELECT unnest({_sql_terms_list()}) AS term)
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM toks JOIN q USING (term)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# PageRank + B6 batch fusion
# ---------------------------------------------------------------------------
# Edges are derived DETERMINISTICALLY from the documents table: src =
# doc_id, dst = (doc_id*7 + 13*j) % N for j in 1..3, self-loops excluded
# — identical expressions on both sides.  PageRank runs a FIXED 12
# undamped power iterations on both sides (the engine's convergence loop
# with threshold=0 runs exactly max_iters); zero-in-degree nodes keep
# their previous rank (reference semantics, Indexer.java:1064-1073).

PR_ITERS = 12

#: fixed query set, stem/stop off so the oracle is literal (qid, term) rows
BATCH_QUERIES = [
    (1, ("spark", "join", "merge")),
    (2, ("vector", "stream", "window")),
    (3, ("batch", "group")),
    (4, ("zzznotfound",)),
    (5, ("filter", "sort", "key", "hash")),
]
BATCH_K = 10


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    e = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(*[(F.col("doc_id") * 7 + 13 * j) % n for j in (1, 2, 3)])
        ).alias("dst"),
    )
    return e.filter(F.col("src") != F.col("dst"))


EDGES_CTE = """
n AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT src, dst FROM (
    SELECT doc_id AS src, unnest([(doc_id*7+13) % n.n, (doc_id*7+26) % n.n, (doc_id*7+39) % n.n]) AS dst
    FROM documents CROSS JOIN n)
  WHERE src <> dst
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
"""


def _pr_cfg() -> EngineConfig:
    return EngineConfig(pagerank_threshold=0.0, pagerank_max_iters=PR_ITERS)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ranks = pagerank(docs.select("doc_id"), _edges(spark, sf_dir), _pr_cfg())
    return ranks.select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.round("pagerank", 6).alias("pr"))


SQL_PAGERANK = f"""
WITH RECURSIVE
{EDGES_CTE},
pr(iter, id, rank) AS (
  SELECT 0, doc_id, 1.0 / (SELECT n FROM n) FROM documents
  UNION ALL
  SELECT p.iter + 1, p.id,
         coalesce((SELECT sum(p2.rank / d.outdeg)
                   FROM pr p2
                   JOIN edges e ON e.src = p2.id AND p2.iter = p.iter
                   JOIN deg d ON d.src = p2.id
                   WHERE e.dst = p.id), p.rank)
  FROM pr p WHERE p.iter < {PR_ITERS}
)
SELECT CAST(id AS BIGINT) AS doc_id, round(rank, 6) AS pr
FROM pr WHERE iter = {PR_ITERS}
"""


def _batch_terms_df(spark: SparkSession) -> DataFrame:
    rows = [(qid, t, 1.0) for qid, terms in BATCH_QUERIES for t in terms]
    return spark.createDataFrame(rows, "qid long, term string, qtf double")


def _sql_batch_queries() -> str:
    rows = ", ".join(
        f"({qid}, '{t}')" for qid, terms in BATCH_QUERIES for t in terms
    )
    return f"(VALUES {rows}) q(qid, term)"


SQL_BATCH_BM25 = f"""
WITH {TOKS_CTE},
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
dl AS (SELECT d.doc_id, CAST(coalesce(t.dl, 0) AS DOUBLE) AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) t USING (doc_id)),
stats AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
                 CAST((SELECT count(*) FROM toks) // (SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
q AS (SELECT qid, term FROM {_sql_batch_queries()}),
scored AS (
  SELECT q.qid, p.doc_id,
         (ln((s.n - f.df + 0.5) / (f.df + 0.5)) / ln(2))
           * p.tf * ({K1} + 1)
           / (p.tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)) AS ts
  FROM post p JOIN q USING (term) JOIN dft f USING (term)
  JOIN dl d USING (doc_id) CROSS JOIN stats s
),
agg AS (SELECT qid, doc_id, sum(ts) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank, score
  FROM agg
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rank AS BIGINT) AS rank, round(score, 4) AS score
FROM ranked WHERE rank <= {BATCH_K}
"""


def sql_batch_results_cte() -> str:
    """CTE chain ending in ``results(qid, doc_id, score, rank)`` with
    UNROUNDED BM25 scores and ranks computed on them (rank <= BATCH_K):
    re-ranking on SQL_BATCH_BM25's 4-decimal-rounded scores can swap
    near-tied docs relative to the engine's unrounded ordering."""
    qb = f"q AS (SELECT qid, term FROM {_sql_batch_queries()})"
    return f"""{TOKS_CTE.strip().rstrip()},
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
dl AS (SELECT d.doc_id, CAST(coalesce(t.dl, 0) AS DOUBLE) AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) t USING (doc_id)),
stats AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS nd,
                 CAST((SELECT count(*) FROM toks) // (SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
{qb},
scored AS (
  SELECT q.qid, p.doc_id,
         (ln((s.nd - f.df + 0.5) / (f.df + 0.5)) / ln(2))
           * p.tf * ({K1} + 1)
           / (p.tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)) AS ts
  FROM post p JOIN q USING (term) JOIN dft f USING (term)
  JOIN dl d USING (doc_id) CROSS JOIN stats s
),
agg AS (SELECT qid, doc_id, sum(ts) AS score FROM scored GROUP BY 1, 2),
rk AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank
  FROM agg
),
results AS (SELECT qid, doc_id, score, rank FROM rk WHERE rank <= {BATCH_K})"""


def q_batch_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 fusion over the WHOLE batch query set in ONE plan: per-qid
    BM25 top-k, then batch_fuse_with_pagerank computes each query's
    normalizer Z_q inside the plan (per-qid agg + broadcast 1-row
    avg-pagerank) — the Run_B6 shape (635 queries in the reference,
    Search_FR.java:994-1098) without per-query driver scalars."""
    ix = get_index(spark, sf_dir)
    ranks = pagerank(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id"),
        _edges(spark, sf_dir), _pr_cfg(),
    )
    docs_pr = attach_pagerank(ix.docs, ranks)
    res = batch_bm25_search(ix, _batch_terms_df(spark), k=BATCH_K, cfg=NOSTEM_CFG)
    fused = scoring.batch_fuse_with_pagerank(
        res.select("qid", "doc_id", "score"), docs_pr, EngineConfig()
    )
    return fused.select(
        F.col("qid").cast("long").alias("qid"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


SQL_BATCH_FUSION = f"""
WITH RECURSIVE
{sql_batch_results_cte()},
{EDGES_CTE.strip().rstrip()},
pr(iter, id, rank) AS (
  SELECT 0, doc_id, 1.0 / (SELECT n FROM n) FROM documents
  UNION ALL
  SELECT p.iter + 1, p.id,
         coalesce((SELECT sum(p2.rank / d.outdeg)
                   FROM pr p2
                   JOIN edges e ON e.src = p2.id AND p2.iter = p.iter
                   JOIN deg d ON d.src = p2.id
                   WHERE e.dst = p.id), p.rank)
  FROM pr p WHERE p.iter < {PR_ITERS}
),
prf AS (SELECT id AS doc_id, rank AS pagerank FROM pr WHERE iter = {PR_ITERS}),
avgpr AS (SELECT avg(pagerank) AS avg_pr FROM prf),
perq AS (SELECT qid, avg(score) AS avg_s FROM results GROUP BY qid),
z AS (
  SELECT p.qid,
         CASE WHEN sqrt(a.avg_pr*a.avg_pr + p.avg_s*p.avg_s) = 0 THEN 1.0
              ELSE sqrt(a.avg_pr*a.avg_pr + p.avg_s*p.avg_s) END AS z
  FROM perq p CROSS JOIN avgpr a
)
SELECT CAST(r.qid AS BIGINT) AS qid, CAST(r.doc_id AS BIGINT) AS doc_id,
       round(0.7 * r.score / z.z + 0.3 * coalesce(p.pagerank, 0) / z.z, 6) AS score
FROM results r LEFT JOIN prf p USING (doc_id) JOIN z USING (qid)
"""


# ---------------------------------------------------------------------------
# TREC-style evaluation (AP / nDCG)
# ---------------------------------------------------------------------------

#: eval over the batch query set, minus the no-hit query (qid 4) so the
#: engine and the oracle trivially cover the same qid set
EVAL_QIDS = (1, 2, 3, 5)


def _qrels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic qrels: relevance = 1 iff (doc_id*3 + qid*17) % 10 < 3,
    restricted to doc_id < 200 — same expression on both sides."""
    docs = load_documents(spark, sf_dir).select("doc_id").filter("doc_id < 200")
    qids = spark.createDataFrame([(q,) for q in EVAL_QIDS], "qid long")
    return qids.crossJoin(docs).withColumn(
        "relevance",
        ((F.col("doc_id") * 3 + F.col("qid") * 17) % 10 < 3).cast("int"),
    )


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ix = get_index(spark, sf_dir)
    qt = _batch_terms_df(spark).filter(F.col("qid").isin(*EVAL_QIDS))
    results = batch_bm25_search(ix, qt, k=BATCH_K, cfg=NOSTEM_CFG).select(
        "qid", "doc_id", "score"
    )
    out = evaluate(results, _qrels(spark, sf_dir))
    return out.select(
        F.round("mean_ap", 4).alias("mean_ap"),
        F.round("min_ap", 4).alias("min_ap"),
        F.round("max_ap", 4).alias("max_ap"),
        F.round("mean_ndcg", 4).alias("mean_ndcg"),
        F.round("min_ndcg", 4).alias("min_ndcg"),
        F.round("max_ndcg", 4).alias("max_ndcg"),
    )


def _sql_eval_chain() -> str:
    """Shared CTE chain ``WITH results ... j(qid, ap, ndcg)`` — the
    batch-BM25 retrieval joined with the deterministic qrels, windowed
    into per-query AP/nDCG."""
    qid_list = ", ".join(str(q) for q in EVAL_QIDS)
    batch = SQL_BATCH_BM25.strip().rstrip()
    return f"""
WITH results AS (
  SELECT qid, doc_id, rank, score FROM ({batch}) WHERE qid IN ({qid_list})
),
qrels AS (
  SELECT q.qid, d.doc_id,
         CASE WHEN (d.doc_id * 3 + q.qid * 17) % 10 < 3 THEN 1 ELSE 0 END AS relevance
  FROM (SELECT unnest([{qid_list}]) AS qid) q
  CROSS JOIN (SELECT doc_id FROM documents WHERE doc_id < 200) d
),
ranked AS (
  SELECT r.qid, r.doc_id,
         row_number() OVER (PARTITION BY r.qid ORDER BY r.score DESC, r.doc_id ASC) AS rank,
         coalesce(qr.relevance, 0) AS rel
  FROM results r LEFT JOIN qrels qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
),
prec AS (
  SELECT qid, rank, rel,
         sum(rel) OVER (PARTITION BY qid ORDER BY rank) * 1.0 / rank AS p_at
  FROM ranked
),
ap AS (
  SELECT p.qid, sum(p.p_at * p.rel) / t.n_rel AS ap
  FROM prec p
  JOIN (SELECT qid, count(*) AS n_rel FROM qrels WHERE relevance > 0 GROUP BY qid) t
    ON t.qid = p.qid
  GROUP BY p.qid, t.n_rel
),
dcg AS (
  SELECT qid, sum((pow(2.0, rel) - 1) / (ln(rank + 1) / ln(2))) AS dcg
  FROM ranked GROUP BY qid
),
ideal AS (
  SELECT qid, relevance,
         row_number() OVER (PARTITION BY qid ORDER BY relevance DESC, doc_id ASC) AS irank
  FROM qrels
),
idcg AS (
  SELECT qid, sum((pow(2.0, relevance) - 1) / (ln(irank + 1) / ln(2))) AS idcg
  FROM ideal GROUP BY qid
),
j AS (
  SELECT a.qid, a.ap,
         CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg ELSE 0 END AS ndcg
  FROM ap a JOIN dcg d USING (qid) JOIN idcg i USING (qid)
)"""


SQL_EVAL_METRICS = f"""{_sql_eval_chain()}
SELECT round(avg(ap), 4) AS mean_ap, round(min(ap), 4) AS min_ap,
       round(max(ap), 4) AS max_ap,
       round(avg(ndcg), 4) AS mean_ndcg, round(min(ndcg), 4) AS min_ndcg,
       round(max(ndcg), 4) AS max_ndcg
FROM j
"""


# ---------------------------------------------------------------------------
# S2 JSON-lines ingestion (fixtures/s2_corpus.jsonl, regenerated by
# tools/make_s2_fixture.py).  The oracle reads the SAME file via DuckDB
# ``read_json`` with an explicit column spec, so parse + null-handling +
# concat semantics are checked byte-exactly (sha256 over the body).
# ---------------------------------------------------------------------------

S2_FIXTURE = os.path.join(FIXTURES, "s2_corpus.jsonl")

#: DuckDB typed read of the same JSONL (explicit columns = the same
#: schema-pruned parse Spark does)
RAW_CTE = f"""
raw AS (
  SELECT * FROM read_json('{S2_FIXTURE}', format='newline_delimited',
    columns={{
      'id': 'VARCHAR', 'title': 'VARCHAR', 'paperAbstract': 'VARCHAR',
      'entities': 'VARCHAR[]', 'fieldsOfStudy': 'VARCHAR[]',
      'authors': 'STRUCT(name VARCHAR, ids VARCHAR[])[]',
      'outCitations': 'VARCHAR[]', 'journalName': 'VARCHAR',
      'sources': 'VARCHAR[]', 'year': 'BIGINT', 'venue': 'VARCHAR'
    }})
)
"""

#: null-coalesced entries (readTextualEntry semantics) + the exact
#: Indexer.actions body concat; '[' || array_to_string || ']' is Java
#: List.toString, name || ' [..]' is Pair.toString
ENTRY_CTE = """
e AS (
  SELECT id,
         coalesce(title, '') AS title,
         coalesce(paperAbstract, '') AS paperAbstract,
         coalesce(entities, CAST([] AS VARCHAR[])) AS entities,
         coalesce(fieldsOfStudy, CAST([] AS VARCHAR[])) AS fieldsOfStudy,
         coalesce(authors, CAST([] AS STRUCT(name VARCHAR, ids VARCHAR[])[])) AS authors,
         coalesce(outCitations, CAST([] AS VARCHAR[])) AS outCitations,
         coalesce(journalName, '') AS journalName,
         coalesce(sources, CAST([] AS VARCHAR[])) AS sources,
         coalesce(year, 0) AS year,
         coalesce(venue, '') AS venue
  FROM raw
),
body AS (
  SELECT id,
         replace(title, chr(10), ' ')
         || replace(paperAbstract, chr(10), ' ') || ' '
         || replace('[' || coalesce(array_to_string(entities, ', '), '') || ']', chr(10), ' ') || ' '
         || replace('[' || coalesce(array_to_string(fieldsOfStudy, ', '), '') || ']', chr(10), ' ') || ' '
         || replace('[' || coalesce(array_to_string(
              list_transform(authors, a -> coalesce(a.name, '') || ' ['
                || coalesce(array_to_string(coalesce(a.ids, CAST([] AS VARCHAR[])), ', '), '') || ']'),
              ', '), '') || ']', chr(10), ' ') || ' '
         || replace(journalName, chr(10), ' ')
         || replace(venue, chr(10), ' ')
         || replace('[' || coalesce(array_to_string(sources, ', '), '') || ']', chr(10), ' ') || ' '
         || CAST(year AS VARCHAR) AS body
  FROM e
)
"""


def q_s2_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed parse + null handling + T1 concat, checked by sha256(body)."""
    ent = s2_json.read_s2_textual(spark, S2_FIXTURE).withColumn("body", s2_json.body_expr())
    return ent.select(
        "id",
        "title",
        F.col("year").cast("long").alias("year"),
        F.col("journalName").alias("journal"),
        "venue",
        F.size("entities").cast("long").alias("n_entities"),
        F.size("fieldsOfStudy").cast("long").alias("n_fields"),
        F.size("authors").cast("long").alias("n_authors"),
        F.size("outCitations").cast("long").alias("n_citations"),
        F.length("body").cast("long").alias("body_len"),
        F.sha2(F.col("body"), 256).alias("body_sha"),
    )


SQL_S2_INGEST = f"""
WITH {RAW_CTE},
{ENTRY_CTE}
SELECT e.id, e.title, CAST(e.year AS BIGINT) AS year,
       e.journalName AS journal, e.venue,
       CAST(len(e.entities) AS BIGINT) AS n_entities,
       CAST(len(e.fieldsOfStudy) AS BIGINT) AS n_fields,
       CAST(len(e.authors) AS BIGINT) AS n_authors,
       CAST(len(e.outCitations) AS BIGINT) AS n_citations,
       CAST(length(b.body) AS BIGINT) AS body_len,
       sha256(b.body) AS body_sha
FROM e JOIN body b USING (id)
"""

S2_QUERY_TERMS = ("retrieval", "pagerank", "shuffle")
S2_TOPK = 20


def q_s2_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw JSONL -> typed entries -> T1 body -> inverted index -> BM25
    top-k: the reference's whole ingest+index+query path in one plan."""
    corpus = s2_json.s2_corpus(spark, S2_FIXTURE)
    ix = build_index(corpus, NOSTEM_CFG, doc_col="id", text_col="body")
    qt = spark.createDataFrame([(t, 1.0) for t in S2_QUERY_TERMS], "term string, qtf double")
    res = scoring.bm25_search(ix, qt, k=S2_TOPK, cfg=NOSTEM_CFG)
    return res.select(F.col("doc_id").cast("string").alias("id"),
                      F.round("score", 4).alias("score"))


SQL_S2_BM25 = f"""
WITH {RAW_CTE},
{ENTRY_CTE},
toks AS (
  SELECT id AS doc_id, term FROM (
    SELECT id,
           unnest(string_split_regex(
             trim(lower(regexp_replace(regexp_replace(body,
                  '[^\\p{{L}}\\p{{Nd}}]+', ' ', 'g'), '[0-9]', ' ', 'g'))),
             ' +')) AS term
    FROM body) WHERE term <> ''
),
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
dl AS (SELECT b.id AS doc_id, CAST(coalesce(t.dl, 0) AS DOUBLE) AS dl
       FROM body b LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) t
         ON t.doc_id = b.id),
stats AS (SELECT CAST((SELECT count(*) FROM body) AS DOUBLE) AS n,
                 CAST((SELECT count(*) FROM toks) // (SELECT count(*) FROM body) AS DOUBLE) AS avgdl),
q AS (SELECT unnest({_sql_terms_list(S2_QUERY_TERMS)}) AS term),
scored AS (
  SELECT p.doc_id,
         (ln((s.n - f.df + 0.5) / (f.df + 0.5)) / ln(2))
           * p.tf * ({K1} + 1)
           / (p.tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)) AS ts
  FROM post p
  JOIN q USING (term)
  JOIN dft f USING (term)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id AS id, round(sum(ts), 4) AS score
FROM scored GROUP BY doc_id
ORDER BY sum(ts) DESC, doc_id ASC
LIMIT {S2_TOPK}
"""


# ---------------------------------------------------------------------------
# query expansion from the shipped external dictionary
# (fixtures/expansion_dict.jsonl, regenerated by
# tools/make_expansion_fixture.py)
# ---------------------------------------------------------------------------

EXPANSION_FIXTURE = os.path.join(FIXTURES, "expansion_dict.jsonl")

#: query whose terms hit the external dictionary's synonym (join->merge)
#: and antonym (fast->slow, big->small) entries
EXTERNAL_EXP_QUERY = ("join", "fast", "big")


def q_external_expansion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The committed WordNet-slot table (reference weights 1.0/2.0
    synonym and -1.5 antonym, Search_FR.java:281-623,641-750) drives
    expand_query_terms, then VSM top-k (qtf makes the weights
    observable).  Expansions absent from the corpus ("flame") are
    harmless by construction."""
    exp = spark.read.json(
        EXPANSION_FIXTURE,
        schema="term string, expansion string, weight double, kind string",
    ).select("term", "expansion", "weight")
    ix = get_index(spark, sf_dir)
    base = spark.createDataFrame([(t, 1.0) for t in EXTERNAL_EXP_QUERY],
                                 "term string, qtf double")
    qt = expand_query_terms(base, exp, expansion_weight=1.0)
    res = scoring.vsm_search(ix, qt, k=TOPK, cfg=NOSTEM_CFG)
    return res.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.round("score", 4).alias("score"))


SQL_EXTERNAL_EXPANSION = f"""
WITH {TOKS_CTE},
post AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
stats AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n),
base AS (SELECT unnest({_sql_terms_list(EXTERNAL_EXP_QUERY)}) AS term, 1.0 AS qtf),
ex AS (
  SELECT term, expansion, weight
  FROM read_json('{EXPANSION_FIXTURE}', format='newline_delimited',
                 columns={{'term': 'VARCHAR', 'expansion': 'VARCHAR',
                           'weight': 'DOUBLE', 'kind': 'VARCHAR'}})
),
extra AS (SELECT e.expansion AS term, b.qtf * e.weight * 1.0 AS qtf
          FROM base b JOIN ex e USING (term)),
qterms AS (
  SELECT term, sum(qtf) AS qtf FROM (
    SELECT term, qtf FROM base UNION ALL SELECT term, qtf FROM extra)
  GROUP BY term
),
norms AS (
  SELECT p.doc_id,
         sum(pow(p.tf * ln(floor((s.n + 1) / f.df)) / ln(2), 2)) AS norm2
  FROM post p JOIN dft f USING (term) CROSS JOIN stats s
  GROUP BY p.doc_id
),
qw AS (SELECT q.term, q.qtf * ln(s.n / f.df) / ln(2) AS w_q
       FROM qterms q JOIN dft f USING (term) CROSS JOIN stats s),
qnorm AS (SELECT sum(w_q * w_q) AS q_norm2 FROM qw),
vdots AS (
  SELECT p.doc_id, sum(p.tf * (ln(s.n / f.df) / ln(2)) * w.w_q) AS dot
  FROM post p JOIN qw w USING (term) JOIN dft f USING (term) CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       round(CASE WHEN n.norm2 > 0 AND qn.q_norm2 > 0
                  THEN d.dot / sqrt(n.norm2 * qn.q_norm2) ELSE 0 END, 4) AS score
FROM vdots d JOIN norms n USING (doc_id) CROSS JOIN qnorm qn
ORDER BY (CASE WHEN n.norm2 > 0 AND qn.q_norm2 > 0
               THEN d.dot / sqrt(n.norm2 * qn.q_norm2) ELSE 0 END) DESC, d.doc_id ASC
LIMIT {TOPK}
"""


# ---------------------------------------------------------------------------
# the comparison
# ---------------------------------------------------------------------------

CASES = {
    "term_df": (q_term_df, SQL_TERM_DF),
    "doc_norms": (q_doc_norms, SQL_DOC_NORMS),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "vsm_topk": (q_vsm_topk, SQL_VSM_TOPK),
    "existential": (q_existential, SQL_EXISTENTIAL),
    "pagerank": (q_pagerank, SQL_PAGERANK),
    "batch_fusion": (q_batch_fusion, SQL_BATCH_FUSION),
    "eval_metrics": (q_eval_metrics, SQL_EVAL_METRICS),
    "s2_ingest": (q_s2_ingest, SQL_S2_INGEST),
    "s2_bm25": (q_s2_bm25, SQL_S2_BM25),
    "external_expansion_topk": (q_external_expansion_topk, SQL_EXTERNAL_EXPANSION),
}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def duck(sf_small):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_small}/documents.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(CASES))
def test_operator_matches_duckdb_oracle(spark, sf_small, duck, name):
    query, sql = CASES[name]
    a = canon(query(spark, sf_small).toPandas())
    b = canon(duck.sql(sql).df())
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                  rtol=0, atol=1e-9)
