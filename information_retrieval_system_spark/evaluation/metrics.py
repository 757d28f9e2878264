"""IR evaluation metrics: AP and nDCG per query + aggregates.

The reference's ``themisEval`` class is missing from the tree; semantics
are reconstructed from its call sites (Search_FR.java:1016,1031,1092-1094,
getters :1460-1465 — per-query AP and nDCG plus min/max/mean over the
query set) and the standard definitions (SURVEY.md §2.7 R9).

Implemented as window/agg expressions over a ranked-results DataFrame
joined with qrels — fully distributed, one shuffle on qid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def ranked_with_relevance(results: DataFrame, qrels: DataFrame) -> DataFrame:
    """results(qid, doc_id, score) + qrels(qid, doc_id, relevance) ->
    (qid, doc_id, rank, rel) with deterministic rank (score DESC,
    doc_id ASC)."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    r = results.withColumn("rank", F.row_number().over(w))
    return r.join(
        qrels.select("qid", "doc_id", F.col("relevance").alias("rel")),
        ["qid", "doc_id"],
        "left",
    ).fillna({"rel": 0})


def average_precision(ranked: DataFrame, qrels: DataFrame) -> DataFrame:
    """-> (qid, ap double).  AP = mean over relevant *retrieved* positions
    of precision@rank, divided by the TOTAL number of relevant docs in
    qrels for the query (standard TREC AP).

    Relevance is BINARIZED here (rel > 0 -> 1): TREC AP is a binary
    metric, and feeding graded judgments (which the nDCG path supports)
    through the cumulative-precision window would silently weight by the
    grades."""
    w = Window.partitionBy("qid").orderBy("rank")
    bin_rel = (F.col("rel") > 0).cast("int")
    cum_rel = F.sum(bin_rel).over(w)
    prec_at_rel = (cum_rel / F.col("rank")) * bin_rel
    per_q = ranked.withColumn("p", prec_at_rel).groupBy("qid").agg(
        F.sum("p").alias("sum_p")
    )
    totals = qrels.filter(F.col("relevance") > 0).groupBy("qid").agg(
        F.count("*").alias("n_rel")
    )
    return (
        per_q.join(totals, "qid", "left")
        .withColumn(
            "ap",
            F.when(F.col("n_rel") > 0, F.col("sum_p") / F.col("n_rel")).otherwise(F.lit(0.0)),
        )
        .select("qid", "ap")
    )


def ndcg(ranked: DataFrame, qrels: DataFrame, k: int | None = None) -> DataFrame:
    """-> (qid, ndcg double).  DCG with log2(rank+1) discount; IDCG from
    the qrels relevance multiset sorted descending."""
    r = ranked if k is None else ranked.filter(F.col("rank") <= k)
    dcg = r.withColumn(
        "g", (F.pow(F.lit(2.0), F.col("rel")) - 1) / (F.log(F.col("rank") + 1) / F.lit(0.6931471805599453))
    ).groupBy("qid").agg(F.sum("g").alias("dcg"))
    wq = Window.partitionBy("qid").orderBy(F.desc("relevance"), F.asc("doc_id"))
    ideal = qrels.withColumn("irank", F.row_number().over(wq))
    if k is not None:
        ideal = ideal.filter(F.col("irank") <= k)
    idcg = ideal.withColumn(
        "g",
        (F.pow(F.lit(2.0), F.col("relevance")) - 1)
        / (F.log(F.col("irank") + 1) / F.lit(0.6931471805599453)),
    ).groupBy("qid").agg(F.sum("g").alias("idcg"))
    return (
        dcg.join(idcg, "qid", "left")
        .withColumn(
            "ndcg",
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(F.lit(0.0)),
        )
        .select("qid", "ndcg")
    )


def per_query_eval(results: DataFrame, qrels: DataFrame, k: int | None = None) -> DataFrame:
    """-> (qid, ap, ndcg) — the per-query rows underneath ``evaluate``'s
    aggregates (Search_FR.java:1016,1031 records per-query values before
    the min/max/mean getters :1460-1465)."""
    ranked = ranked_with_relevance(results, qrels)
    ap = average_precision(ranked, qrels)
    nd = ndcg(ranked, qrels, k)
    return ap.join(nd, "qid", "outer").fillna({"ap": 0.0, "ndcg": 0.0})


def evaluate(results: DataFrame, qrels: DataFrame, k: int | None = None) -> DataFrame:
    """-> one row: (mean_ap, min_ap, max_ap, mean_ndcg, min_ndcg,
    max_ndcg) — the aggregate surface Search_FR.java:1460-1465 exposes."""
    j = per_query_eval(results, qrels, k)
    return j.agg(
        F.avg("ap").alias("mean_ap"),
        F.min("ap").alias("min_ap"),
        F.max("ap").alias("max_ap"),
        F.avg("ndcg").alias("mean_ndcg"),
        F.min("ndcg").alias("min_ndcg"),
        F.max("ndcg").alias("max_ndcg"),
    )
