"""Query-expansion dictionaries (R6/R7) DERIVED from data, not
hand-written.

The reference expands each query token with its single nearest GloVe
neighbor and adds it to the query's tf map at weight 1.0 (or 2.0 with
DWeight — Search_FR.java:641-750, GloveSynonyms1: ``wordsNearest(t, 1)``
then ``q_tf.put(syn, tf + 1.0|2.0)``).  The pluggable mechanism lives in
batch.expand_query_terms; this module derives the (term, expansion,
weight) table itself.

Instead of shipping a pretrained-embedding file, the dictionary is
DISTRIBUTIONAL: a term's vector is its tf profile over documents (the
postings column), and its nearest neighbor is the argmax-cosine term —
the same "similar terms co-occur" signal GloVe factorizes, derivable
exactly in both engines so the dictionary itself is oracle-gradeable.

Scale shape: the cosine numerator is one self-join of postings on
doc_int + one groupBy (term_a, term_b) — O(Σ_doc dl_d²) pairs, the
classic all-pairs-similarity cost.  Guards: ``max_df`` drops
ubiquitous terms (they dominate the join and are stopword-like by
definition), ``min_sim`` prunes the tail before the per-term top-1
window.  At 100 TB you run this on a sample or a df-band of the
vocabulary; the plan itself contains no collect and no cross-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def term_doc_vectors(postings: DataFrame, max_df: int | None = None) -> DataFrame:
    """-> (term, doc_int, tf) with ubiquitous terms optionally dropped."""
    p = postings.select("term", "doc_int", F.col("tf").cast("double").alias("tf"))
    if max_df is not None:
        keep = p.groupBy("term").agg(F.count("*").alias("df")).filter(
            F.col("df") <= max_df
        )
        p = p.join(keep.select("term"), "term", "leftsemi")
    return p


def term_pair_sims(
    postings: DataFrame,
    max_df: int | None = None,
    min_sim: float = 0.0,
) -> DataFrame:
    """-> (term_a, term_b, sim): distributional cosine over tf-profiles
    for every CO-OCCURRING term pair (the postings self-join on doc_int
    only produces pairs with dot > 0)."""
    p = term_doc_vectors(postings, max_df)
    norms = p.groupBy("term").agg(F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("nrm"))
    a = p.select(F.col("term").alias("term_a"), "doc_int", F.col("tf").alias("tf_a"))
    b = p.select(F.col("term").alias("term_b"), "doc_int", F.col("tf").alias("tf_b"))
    dots = (
        a.join(b, "doc_int")
        .filter(F.col("term_a") != F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    return (
        dots.join(norms.withColumnRenamed("term", "term_a").withColumnRenamed("nrm", "na"), "term_a")
        .join(norms.withColumnRenamed("term", "term_b").withColumnRenamed("nrm", "nb"), "term_b")
        .withColumn("sim", F.col("dot") / (F.col("na") * F.col("nb")))
        .filter(F.col("sim") >= min_sim)
        .select("term_a", "term_b", "sim")
    )


def derive_term_neighbors(
    postings: DataFrame,
    k: int = 1,
    max_df: int | None = None,
    min_sim: float = 0.0,
    weight: float = 1.0,
) -> DataFrame:
    """-> (term, expansion, weight, sim): each term's top-k
    distributional-cosine neighbors (excluding itself), deterministic
    tie-break (sim DESC, expansion ASC).  ``weight`` is the reference's
    expansion weight (1.0; 2.0 with DWeight)."""
    sims = term_pair_sims(postings, max_df, min_sim)
    w = Window.partitionBy("term_a").orderBy(F.desc("sim"), F.asc("term_b"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("term_a").alias("term"),
            F.col("term_b").alias("expansion"),
            F.lit(float(weight)).alias("weight"),
            F.col("sim"),
        )
    )


def derive_term_antonyms(
    postings: DataFrame,
    k: int = 1,
    max_df: int | None = None,
    weight: float = -1.5,
) -> DataFrame:
    """R6 antonym-analog, DERIVED from data: per term, its k LEAST-cosine
    co-occurring terms (tie-break: sim ASC, expansion ASC) at the
    reference's antonym weight (-1.5, Search_FR.java:447-623 — there
    sourced from WordNet via extjwnl + a POS tagger; no external lexicon
    ships here, so contrast is measured distributionally: among terms
    with observable co-occurrence support, the minimal-cosine term is the
    most contrastive).  Same scale shape and guards as
    derive_term_neighbors (one self-join + one window; sample or df-band
    the vocabulary at 100 TB)."""
    sims = term_pair_sims(postings, max_df)
    w = Window.partitionBy("term_a").orderBy(F.asc("sim"), F.asc("term_b"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("term_a").alias("term"),
            F.col("term_b").alias("expansion"),
            F.lit(float(weight)).alias("weight"),
            F.col("sim"),
        )
    )
