"""Batch (multi-query) retrieval: the whole query set in ONE plan.

The reference's B2 harness loops 635 queries through the scorer one at a
time (Search_FR.java:994-1098).  The Spark-native shape scores the entire
query set set-wise: queries become a (qid, term, qtf) local relation
(``queries_to_terms``), the one exhaustive plan ``scoring.bm25_scores``
carries qid through every join, and ``rank_per_qid`` cuts each query's
top-k with one window over (qid) — no driver loop, one pass over the
postings regardless of the number of queries.  The routed form
(``query/wand.route_batch_bm25``) ends in the same window.

Also here: result-type projections (DocInfo PLAIN/ESSENTIAL/FULL,
ARetrievalModel_FR.java:42-44 — column-projection levels, SURVEY.md §1.4)
and the query-expansion mechanism (R6/R7): expansion terms are just extra
weighted rows in the query-terms DataFrame; the dictionary (WordNet /
GloVe neighbors) is pluggable as a (term, expansion, weight) table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..analysis.analyzer import analyze_query_string, local_frame
from ..config import DEFAULT_CONFIG, EngineConfig
from ..index.builder import IndexTables
from .scoring import bm25_scores


def queries_to_terms(spark, queries: list[tuple[int, str]], cfg: EngineConfig) -> DataFrame:
    """[(qid, text)] -> (qid, term, qtf), a local relation, via the
    driver-side analyzer."""
    rows = [(qid, t, float(c)) for qid, text in queries for t, c in
            sorted(analyze_query_string(text, cfg.use_stopwords, cfg.use_stemmer).items())]
    return local_frame(spark, rows, "qid long, term string, qtf double")


def rank_per_qid(scores: DataFrame, k: int) -> DataFrame:
    """(qid, doc_id, score) -> (qid, doc_id, rank, score): each query's
    top-k under (score DESC, doc_id ASC)."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "doc_id", "rank", "score")
    )


def batch_bm25_search(
    index: IndexTables,
    query_terms: DataFrame,
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    qrels: DataFrame | None = None,
) -> DataFrame:
    """query_terms(qid, term, qtf) -> (qid, doc_id, rank, score) top-k per
    query.  ``qrels(qid, doc_id, relevance)`` restricts each query's
    scoring to its relevance=1 candidates (J4, per-query semi-join)."""
    cand = None
    if qrels is not None:
        cand = qrels.filter(F.col("relevance") == 1).select("qid", "doc_id")
    return rank_per_qid(bm25_scores(index, query_terms, cfg=cfg, candidates=cand), k)


def expand_query_terms(
    query_terms: DataFrame,
    expansions: DataFrame,
    expansion_weight: float = 0.5,
) -> DataFrame:
    """R6/R7 mechanism: append expansion terms as extra weighted rows.

    ``expansions(term, expansion, weight)``: per original term, its
    synonyms/neighbors with relative weights (negative for antonyms —
    the reference weights antonyms -1.5, Search_FR.java:447-623).
    Output keeps the original rows at full weight and adds
    (expansion, qtf * weight * expansion_weight) rows, summed per term.
    """
    has_qid = "qid" in query_terms.columns
    keys = (["qid"] if has_qid else []) + ["term"]
    extra = (
        query_terms.join(expansions, "term")
        .select(
            *([F.col("qid")] if has_qid else []),
            F.col("expansion").alias("term"),
            (F.col("qtf") * F.col("weight") * F.lit(expansion_weight)).alias("qtf"),
        )
    )
    return (
        query_terms.select(*keys, "qtf")
        .unionByName(extra.select(*keys, "qtf"))
        .groupBy(*keys)
        .agg(F.sum("qtf").alias("qtf"))
    )


# --- result-type projections (DocInfo levels) ------------------------------

RESULT_LEVELS = {
    "PLAIN": ["doc_id", "score"],
    "ESSENTIAL": ["doc_id", "score", "length", "norm", "pagerank"],
    "FULL": None,  # everything docs carries
}


def project_results(ranked: DataFrame, docs: DataFrame, level: str = "PLAIN") -> DataFrame:
    """PLAIN = ids+scores only; ESSENTIAL adds weight/length/pagerank;
    FULL adds all doc metadata (DocInfoFull.java:34-94)."""
    if level not in RESULT_LEVELS:
        raise ValueError(f"unknown result level {level!r}")
    if level == "PLAIN":
        return ranked.select(*[c for c in ranked.columns if c in
                               ("qid", "doc_id", "rank", "score")])
    joined = ranked.join(docs, "doc_id", "left")
    if level == "ESSENTIAL":
        cols = [c for c in ("qid", "doc_id", "rank", "score", "length", "norm", "pagerank")
                if c in joined.columns]
        return joined.select(*cols)
    return joined
