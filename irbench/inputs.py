"""Benchmark inputs as pure functions of the seed.

Every query text, qrels row, citation edge and document is derived from
``--seed`` by hashing (Python's string-seeded ``random.Random`` or Spark's
``xxhash64``), never from the clock or the host, so two runs with one seed
feed the engine identical inputs.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from information_retrieval_system_spark.sources.zipf import rank_token

_P = 2_147_483_647


def rng(seed: int, stream: str) -> random.Random:
    # string seeds hash with sha512: stable across processes and hosts
    return random.Random(f"{seed}:{stream}")


def zipf_tokens(r: random.Random, vocab: int, n: int) -> list[str]:
    """``n`` tokens with Zipf-spread ranks (rank = vocab**u, the corpus
    generator's own sampling law)."""
    return [rank_token(max(1, int(vocab ** r.random()))) for _ in range(n)]


def interactive_queries(seed: int, stream: str, vocab: int, head_every: int,
                        head_max: int = 4, tail_min: int = 100):
    """Endless stream of 1-4-term queries; query i is fixed by
    (seed, stream, i).  Every ``head_every``-th query leads with a head
    term (rank <= ``head_max``, in most documents) followed by Zipf terms;
    the others draw only tail terms (Zipf ranks in [tail_min, vocab)), so
    the mix of posting volumes, and hence of routes, is the same at every
    stream length."""
    r = rng(seed, stream)
    i = 0
    while True:
        n = r.randint(1, 4)
        if i % head_every == 0:
            toks = [rank_token(r.randint(1, head_max))] + zipf_tokens(r, vocab, n - 1)
        else:
            toks = [rank_token(int(tail_min * (vocab / tail_min) ** r.random()))
                    for _ in range(n)]
        yield " ".join(toks)
        i += 1


def qrels(spark: SparkSession, qids: list[int], seed: int, judged_docs: int) -> DataFrame:
    """Deterministic synthetic judgments: every qid judges doc ids
    ``[0, judged_docs)`` with ~30% of them relevant (hash of qid, doc)."""
    q = spark.createDataFrame([(q,) for q in qids], "qid long")
    d = spark.range(judged_docs).withColumnRenamed("id", "doc_id")
    rel = (F.pmod(F.xxhash64(F.lit(seed), "qid", "doc_id"), F.lit(10)) < 3).cast("int")
    return q.crossJoin(d).withColumn("relevance", rel)


def citation_edges(spark: SparkSession, n_docs: int, seed: int,
                   cites_per_doc: int, fan: int = 16) -> DataFrame:
    """(src, dst): each doc cites ``cites_per_doc`` much older docs,
    dst = floor(src * u / fan) with u hash-uniform in [0, 1).  The graph
    is a DAG of depth ~log_fan(n_docs), so PageRank settles in a few
    iterations."""
    u = F.pmod(F.xxhash64(F.lit(seed), "src", "j"), F.lit(_P)) / F.lit(float(_P))
    return (
        spark.range(fan, n_docs).withColumnRenamed("id", "src")
        .withColumn("j", F.explode(F.sequence(F.lit(1), F.lit(cites_per_doc))))
        .select("src", F.floor(F.col("src") * u / F.lit(fan)).cast("long").alias("dst"))
        .distinct()
    )


def marker_token(delta: int) -> str:
    """The token every document of delta ``delta`` carries (letters only,
    so the analyzer keeps it; unique per delta)."""
    return "zq" + str(delta).translate(str.maketrans("0123456789", "abcdefghij")) + "x"


def write_delta(path: str, seed: int, delta: int, first_doc: int, size: int,
                vocab: int, min_len: int = 40, max_len: int = 80) -> None:
    """One delta file of ``size`` new Zipf documents (doc ids from
    ``first_doc``), each tagged with the delta's marker token."""
    r = rng(seed, f"delta{delta}")
    mark = marker_token(delta)
    texts = [" ".join(zipf_tokens(r, vocab, r.randint(min_len, max_len)) + [mark])
             for _ in range(size)]
    table = pa.table({"doc_id": pa.array(range(first_doc, first_doc + size), pa.int64()),
                      "text": pa.array(texts, pa.string())})
    pq.write_table(table, path)
