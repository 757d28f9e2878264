"""Corpus shaping: deterministically scale a ``documents(doc_id, text)``
table up for compute-bound benchmarks (no external data, no RNG — pure
column expressions, so the expansion is reproducible by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def expand_documents(docs: DataFrame, factor: int,
                     num_partitions: int | None = None) -> DataFrame:
    """Deterministically replicate documents ``factor`` times.

    Replica k of doc d gets doc_id = d + k*N and a replica marker token
    appended (so replicas are not byte-identical and term stats shift
    realistically).  Pure column expressions — same output every run.

    The input is repartitioned BEFORE the explode: the testdata parquet
    is a single file (1 partition), and without the spread every
    upstream-of-first-shuffle stage of a benchmark would run
    single-threaded.
    """
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n = docs.count()
    k = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("k")
    out = docs.repartition(num_partitions, "doc_id").select("doc_id", "text", k)
    return out.select(
        (F.col("doc_id") + F.col("k") * n).alias("doc_id"),
        F.when(F.col("k") == 0, F.col("text")).otherwise(
            F.concat(F.col("text"), F.lit(" replica"), F.col("k").cast("string"))
        ).alias("text"),
    )
