"""Exact ranked retrieval: BM25 / VSM / Existential / B6 fusion.

One exhaustive BM25 plan, ``bm25_scores``: every matched doc's score,
per (qid, doc) when the query frame carries ``qid``.  ``bm25_search``
cuts it with one global top-k and stays the exhaustive reference that
the routed path (``query/wand.py``) and the bench are checked against;
``batch.batch_bm25_search`` and the route cut it with one per-qid window.

Plan shape (SURVEY.md §3 E2) over a written index without candidates:
``broadcast(query_terms) ⋈ terms`` (a scan of the terms table) yields
the query-sized (term, df) frame, which is broadcast into a scan of ALL
postings files (the written postings are unbucketed; over a snapshot,
every segment's file) --> ``⋈ docs`` (length; a broadcast join while
docs fit under ``spark.sql.autoBroadcastJoinThreshold``) --> partial sum
per doc --> ONE shuffle, ``Exchange hashpartitioning([qid,] doc_id)``
--> final sum.  ``bm25_search`` then plans ``TakeOrderedAndProject(k)``
(per-partition top-k plus a driver-side merge of the k-row partials, no
second shuffle).  Candidates add a semi-join on ([qid,] doc_id) before
the docs join.  The VSM norms that ``read_index`` derives on ``docs``
are not in this plan: the optimizer drops the unread join.

Scoring semantics, with reference citations:
- BM25 (OkapiBM25_FR.java:160,329): ``idf = log2((N - df + 0.5)/(df+0.5))``;
  ``s = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``; ``dl`` is the
  pre-filter token count (Indexer.java:265); ``avgdl`` the floored long
  (Indexer.java:689).  k1/b are config (BASELINE.json default 1.2/0.75).
- duplicate query terms contribute ONCE to BM25 (the per-term score map
  collapses them, OkapiBM25_FR.java:330-404); VSM weights them by qtf.
- VSM (VSM_FR.java:177-231,442-471): ``idf = log2(N/df)``;
  ``w_q = qtf*idf``; ``w_d = tf*idf``;
  ``score = sum(w_d*w_q) / sqrt(norm_d * sum(w_q^2))`` where ``norm_d`` is
  the stored already-squared A5 norm (built with the floor-division idf —
  that base mismatch is reference behavior, kept).
- Existential (Existential_FR.java:85-211): any match -> 1.0.
- candidate semi-join (OkapiBM25_FR.java:218-233): scoring restricted to
  relevance=1 docs, pushed BEFORE scoring.
- tie-break: deterministic (score DESC, doc_id ASC) — documented fix of
  the reference's HashMap-order ties (OkapiBM25_FR.java:407-416).
- B6 fusion (OkapiBM25_FR.java:1126-1133, themis.config:20-22), with the
  documented divide-by-zero fix (SURVEY.md §7): per-doc model score S_d;
  ``Z = sqrt(avgPR^2 + avgS^2)`` with avgS = mean of retrieved S_d and
  avgPR = mean pagerank over ALL docs (Indexer.java:1140-1155);
  ``final = w_m*S_d/Z + w_pr*PR_d/Z`` — pagerank added once per doc, not
  once per matched term.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..index.builder import IndexTables

LOG2 = math.log(2.0)


def log2c(col: Column) -> Column:
    return F.log(col) / F.lit(LOG2)


def bm25_term_score(tf: Column, df: Column, dl: Column, n_docs: int, avgdl: float,
                    k1: float, b: float) -> Column:
    idf = log2c((F.lit(float(n_docs)) - df + F.lit(0.5)) / (df + F.lit(0.5)))
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(float(avgdl)))
    return idf * tf * F.lit(k1 + 1.0) / denom


def _matched(index: IndexTables, query_terms: DataFrame,
             candidates: DataFrame | None) -> DataFrame:
    """query_terms ⋈ terms ⋈ postings [⋈semi candidates]: one row per
    ([qid,] term, doc) match, carrying qtf/df/tf.  Candidates that carry
    ``qid`` restrict per query when the query frame does too.

    The broadcast BUILD side is the query-term set, never the terms
    table: ``broadcast(query_terms) ⋈ terms`` streams the vocabulary
    (a vocab-sized scan) and yields a query-sized frame that is then
    broadcast into the postings join.  The previous
    ``broadcast(index.terms)`` hashed the ENTIRE vocabulary per query —
    fine at sandbox vocab sizes, unboundedly wrong at 100 TB where the
    dictionary is itself a large table (r7; guide §3.1)."""
    qt = F.broadcast(query_terms).join(index.terms, "term", "inner")
    m = index.postings.join(F.broadcast(qt), "term", "inner")
    if candidates is not None:
        keys = [c for c in ("qid", "doc_id") if c in candidates.columns and c in m.columns]
        m = m.join(candidates.select(*keys), keys, "leftsemi")
    return m


def bm25_search(
    index: IndexTables,
    query_terms: DataFrame,
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """-> (doc_id, score double), top-k, deterministic order."""
    return (
        bm25_scores(index, query_terms, cfg=cfg, candidates=candidates)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_scores(
    index: IndexTables,
    query_terms: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """-> ([qid,] doc_id, score) for EVERY matched doc: the one
    exhaustive BM25 plan, before any top-k cut.  ``qid`` rides along when
    ``query_terms`` carries it, so one plan scores a whole query set."""
    n, avgdl = index.stats["n_docs"], index.stats["avgdl"]
    keys = (["qid"] if "qid" in query_terms.columns else []) + ["doc_id"]
    m = _matched(index, query_terms, candidates)
    m = m.join(index.docs.select("doc_id", "length"), "doc_id", "inner")
    scored = m.withColumn(
        "tscore",
        bm25_term_score(F.col("tf").cast("double"), F.col("df").cast("double"),
                        F.col("length").cast("double"), n, float(avgdl), cfg.k1, cfg.b),
    )
    return scored.groupBy(*keys).agg(F.sum("tscore").alias("score"))


def vsm_search(
    index: IndexTables,
    query_terms: DataFrame,
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    candidates: DataFrame | None = None,
) -> DataFrame:
    n = index.stats["n_docs"]
    m = _matched(index, query_terms, candidates)
    idf = log2c(F.lit(float(n)) / F.col("df").cast("double"))
    m = (
        m.withColumn("w_q", F.col("qtf") * idf)
        .withColumn("w_d", F.col("tf").cast("double") * idf)
    )
    # sum(w_q^2) over the *matched* query terms of this query — a scalar;
    # computed distributively per doc since every doc row set shares the
    # same matched term set only when the doc matches all terms, so we
    # instead carry the global scalar via a cross-joinable 1-row agg.
    qnorm = (
        F.broadcast(query_terms).join(index.terms.select("term", "df"), "term", "inner")
        .select((F.col("qtf") * log2c(F.lit(float(n)) / F.col("df").cast("double"))).alias("w_q"))
        .agg(F.sum(F.col("w_q") * F.col("w_q")).alias("q_norm2"))
    )
    dots = m.groupBy("doc_id").agg(F.sum(F.col("w_d") * F.col("w_q")).alias("dot"))
    dots = dots.join(index.docs.select("doc_id", "norm"), "doc_id", "inner").crossJoin(
        F.broadcast(qnorm)
    )
    return (
        dots.withColumn(
            "score",
            F.when(
                (F.col("norm") > 0) & (F.col("q_norm2") > 0),
                F.col("dot") / F.sqrt(F.col("norm") * F.col("q_norm2")),
            ).otherwise(F.lit(0.0)),
        )
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def existential_search(
    index: IndexTables,
    query_terms: DataFrame,
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    candidates: DataFrame | None = None,
) -> DataFrame:
    m = _matched(index, query_terms, candidates)
    return (
        m.select("doc_id").distinct()
        .withColumn("score", F.lit(1.0))
        .orderBy(F.asc("doc_id"))
        .limit(k)
    )


def batch_fuse_with_pagerank(
    ranked: DataFrame,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """B6 fusion for a (qid, doc_id, score) BATCH: the normalizer
    ``Z_q = sqrt(avg_pr² + avg_score_q²)`` is computed per qid INSIDE
    the plan — one per-qid agg + one global 1-row agg, both joined back
    broadcast — so the reference's 635-query Run_B6 shape fuses in one
    pass with zero driver round-trips (vs two collects per query).
    -> (qid, doc_id, score), unordered (callers rank per qid)."""
    avg_pr = docs.agg(F.coalesce(F.avg("pagerank"), F.lit(0.0)).alias("_avg_pr"))
    per_q = ranked.groupBy("qid").agg(
        F.coalesce(F.avg("score"), F.lit(0.0)).alias("_avg_s")
    )
    zq = per_q.crossJoin(F.broadcast(avg_pr)).select(
        "qid",
        F.when(
            F.sqrt(F.col("_avg_pr") * F.col("_avg_pr") + F.col("_avg_s") * F.col("_avg_s")) == 0,
            F.lit(1.0),
        )
        .otherwise(F.sqrt(F.col("_avg_pr") * F.col("_avg_pr") + F.col("_avg_s") * F.col("_avg_s")))
        .alias("_z"),
    )
    out = (
        ranked.join(docs.select("doc_id", "pagerank"), "doc_id", "left")
        .fillna({"pagerank": 0.0})
        .join(F.broadcast(zq), "qid")
    )
    return out.select(
        "qid",
        "doc_id",
        (
            F.lit(cfg.model_weight) * F.col("score") / F.col("_z")
            + F.lit(cfg.pagerank_weight) * F.col("pagerank") / F.col("_z")
        ).alias("score"),
    )
