"""The benchmark workloads, driving the engine's public functions from
outside.

Each workload has ``setup(dir)``, ``prepare(kind, i)`` (untimed: builds op
``i``'s inputs), ``op(inp)`` (timed: the engine calls, each wrapped in a
layer span that ends only after the layer's work is forced),
``check(inp, out)`` (untimed output check) and ``final_check()`` (after
the loop; returns the indices of measured ops whose output it refutes).

- ``interactive``: one ad-hoc 1-4-term Zipf query per op, routed by
  ``route_bm25`` over a no-stem Zipf index with PageRank attached; fixed
  per-query cost dominates.  After the loop, the run's queries are
  replayed as one batch (``route_batch_bm25`` ->
  ``batch_fuse_with_pagerank`` -> ``evaluate``), the reference's Run_B6
  shape, which must return the same top-k as the one-at-a-time loop.
- ``ingest``: one op = a delta file lands, ``incremental_index_stream``
  drains it, ``merge_into_snapshot`` commits it and a query on the new
  snapshot must find the new documents; the full analyzer (stopwords +
  Porter), streaming and the index write path do the work.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.evaluation.metrics import evaluate
from information_retrieval_system_spark.graph.pagerank import attach_pagerank, pagerank
from information_retrieval_system_spark.index.builder import build_index, read_index, write_index
from information_retrieval_system_spark.index.compression import (
    build_block_postings, build_dl_blocks, read_block_index, write_block_index)
from information_retrieval_system_spark.index.snapshots import (
    commit_snapshot, read_snapshot, snapshot_log)
from information_retrieval_system_spark.query import scoring
from information_retrieval_system_spark.query.batch import queries_to_terms
from information_retrieval_system_spark.query.wand import route_batch_bm25, route_bm25
from information_retrieval_system_spark.sources.zipf import zipf_corpus
from information_retrieval_system_spark.streaming.incremental import (
    incremental_index_stream, merge_into_snapshot)

from . import inputs

K = 20


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def same_ranking(a, b, tol: float = 1e-9) -> bool:
    """Equal doc order and scores equal within ``tol`` (relative): the
    WAND kernel and Spark sum a doc's term scores in different orders."""
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= tol * max(1.0, abs(sb))
        for (da, sa), (db, sb) in zip(a, b))


class Interactive:
    name = "interactive"
    #: term buckets sized to the corpus (the default 32 makes files of a
    #: few KB at this size)
    term_buckets = 8
    #: no-stem analyzer over the Zipf corpus (like tools/wand_crossover.py)
    cfg = EngineConfig(use_stopwords=False, use_stemmer=False, term_buckets=term_buckets)
    n_docs = 2_000
    vocab = 5_000
    block_span = 256
    #: per-cluster routing calibration (route_bm25's docstring); the 1M
    #: default would route nothing to WAND here.  Head-term queries post
    #: >= ~1600 postings (WAND), tail-only ones <= ~550 (exhaustive).
    wand_min_postings = 1_000
    cites_per_doc = 4
    judged_docs = 500
    #: one query in HEAD_EVERY carries a head term (and routes to WAND);
    #: runs measure whole cycles of that mix
    head_every = 3
    #: the first 3-4 ops of a fresh JVM run 1.3-3x slower
    warmup_ops = 5
    #: an op takes ~1 s on local[4], so the loop lasts about ``--seconds``
    ops_per_s = 1.0
    #: every CHECK_EVERY-th measured op is checked against bm25_search
    check_every = 4

    def __init__(self, spark, seed: int, tr, seconds: int, work: str):
        self.spark, self.seed, self.tr = spark, seed, tr
        self.n_ops = op_count(seconds, self.ops_per_s, self.head_every)
        self.streams = {kind: inputs.interactive_queries(seed, kind, self.vocab, self.head_every)
                        for kind in ("warmup", "op")}
        self.answered: dict[int, tuple[str, list]] = {}

    def setup(self, d: str) -> None:
        spark, tr, cfg = self.spark, self.tr, self.cfg
        ix_dir, bl_dir = os.path.join(d, "ix"), os.path.join(d, "blocks")
        with tr.span("sources.corpus"):
            corpus = zipf_corpus(spark, self.n_docs, vocab=self.vocab, seed=self.seed).cache()
            corpus.count()
        with tr.span("index.build"):
            ix = build_index(corpus, cfg, doc_col="doc_id", text_col="text",
                             with_positions=False)
            ix.postings.count(); ix.docs.count(); ix.terms.count()
        with tr.span("index.write"):
            write_index(ix, ix_dir, cfg)
        corpus.unpersist()
        with tr.span("index.encode"):
            postings = spark.read.parquet(os.path.join(ix_dir, "postings")).drop("bucket")
            docs = spark.read.parquet(os.path.join(ix_dir, "docs"))
            write_block_index(build_block_postings(postings, block_span=self.block_span),
                              build_dl_blocks(docs, block_span=self.block_span),
                              bl_dir, term_buckets=self.term_buckets)
        with tr.span("index.load"):
            six = read_index(spark, ix_dir)
            six.terms.cache().count()
            six.docs.cache().count()
            blocks, dlb = read_block_index(spark, bl_dir, keep_bucket=True)
        with tr.span("graph.pagerank"):
            edges = inputs.citation_edges(spark, self.n_docs, self.seed, self.cites_per_doc)
            ranks = pagerank(six.docs.select("doc_id"), edges, cfg)
            self.docs_pr = attach_pagerank(six.docs, ranks).cache()
            self.docs_pr.count()
        self.six, self.blocks, self.dlb = six, blocks, dlb
        self.layout = {"postings": int(six.stats["n_postings"]),
                       "terms": six.terms.count(),
                       "bytes": dir_bytes(ix_dir) + dir_bytes(bl_dir),
                       "docs": int(six.stats["n_docs"])}

    def route_kwargs(self) -> dict:
        return dict(k=K, cfg=self.cfg, block_span=self.block_span,
                    term_buckets=self.term_buckets, wand_min_postings=self.wand_min_postings)

    def prepare(self, kind: str, i: int) -> dict:
        return {"kind": kind, "i": i, "text": next(self.streams[kind])}

    def op(self, inp: dict) -> dict:
        tr = self.tr
        with tr.span("analysis.query"):
            qt = analyze_query_terms(self.spark, inp["text"], self.cfg)
        with tr.span("query.route"):
            res, route = route_bm25(self.six, self.blocks, self.dlb, qt, **self.route_kwargs())
        with tr.span("query.score"):
            rows = res.collect()
        return {"rows": [(r.doc_id, r.score) for r in rows], "qt": qt,
                "work": 1, "routes": {route: 1}}

    def check(self, inp: dict, out: dict) -> bool:
        if inp["kind"] != "op":
            return True
        self.answered[inp["i"]] = (inp["text"], out["rows"])
        if inp["i"] % self.check_every:
            return True
        ref = scoring.bm25_search(self.six, out["qt"], k=K, cfg=self.cfg).collect()
        return same_ranking(out["rows"], [(r.doc_id, r.score) for r in ref])

    def final_check(self) -> list[int]:
        """Replay the measured queries as ONE routed batch, fused with
        PageRank and evaluated against deterministic qrels; the batch must
        return exactly the top-k the one-at-a-time loop returned."""
        spark, tr, cfg = self.spark, self.tr, self.cfg
        qids = sorted(self.answered)
        qrels = inputs.qrels(spark, qids, self.seed, self.judged_docs).localCheckpoint(eager=True)
        qt = queries_to_terms(spark, [(q, self.answered[q][0]) for q in qids], cfg)
        with tr.span("query.batch"):
            res, _ = route_batch_bm25(self.six, self.blocks, self.dlb, qt, **self.route_kwargs())
            res = res.localCheckpoint(eager=True)
        with tr.span("query.fuse"):
            fused = scoring.batch_fuse_with_pagerank(
                res.select("qid", "doc_id", "score"), self.docs_pr, cfg
            ).localCheckpoint(eager=True)
        with tr.span("evaluation.eval"):
            summary = evaluate(fused, qrels).collect()[0]
        got: dict[int, list] = {}
        for r in sorted(res.collect(), key=lambda r: (r.qid, r.rank)):
            got.setdefault(r.qid, []).append((r.doc_id, r.score))
        if not (0.0 <= summary["mean_ap"] <= 1.0 and 0.0 <= summary["mean_ndcg"] <= 1.0):
            return qids
        return [q for q in qids if not same_ranking(got.get(q, []), self.answered[q][1])]

    def store_bytes_per_doc(self) -> float:
        return self.layout["bytes"] / self.layout["docs"]


class Ingest:
    name = "ingest"
    #: the reference's full analyzer (stopwords + Porter); term buckets
    #: sized to the corpus, as for interactive
    cfg = EngineConfig(term_buckets=8)
    n_base = 2_000
    vocab = 5_000
    delta_size = 200
    warmup_ops = 1
    #: an op takes ~3.5-5 s on local[4], almost all of it fixed per-op
    #: cost (33 Spark jobs); the 2-3 ops that ``--seconds`` would hold give
    #: too coarse a median, so ingest measures 6 ops per 10 s of
    #: ``--seconds`` and its loop lasts ~2.5-3x ``--seconds``
    ops_per_s = 0.6

    def __init__(self, spark, seed: int, tr, seconds: int, work: str):
        self.spark, self.seed, self.tr = spark, seed, tr
        self.n_ops = op_count(seconds, self.ops_per_s)
        self.stage = os.path.join(work, "delta_stage")
        os.makedirs(self.stage)
        self.seq = 0

    def setup(self, d: str) -> None:
        spark, tr, cfg = self.spark, self.tr, self.cfg
        self.root = os.path.join(d, "snapshots")
        self.input = os.path.join(d, "landing")
        self.ckpt = os.path.join(d, "checkpoint")
        self.deltas = os.path.join(d, "deltas")
        os.makedirs(self.input)
        with tr.span("sources.corpus"):
            corpus = zipf_corpus(spark, self.n_base, vocab=self.vocab, seed=self.seed).cache()
            corpus.count()
        with tr.span("index.build"):
            ix = build_index(corpus, cfg, doc_col="doc_id", text_col="text",
                             with_positions=False)
            ix.postings.count(); ix.docs.count(); ix.terms.count()
        with tr.span("index.write"):
            self.sid = commit_snapshot(ix, self.root, cfg, operation="append", note="base")
        corpus.unpersist()
        with tr.span("index.load"):
            read_snapshot(spark, self.root).terms.count()
        self.layout = {"postings": int(ix.stats["n_postings"]), "terms": 0,
                       "bytes": dir_bytes(os.path.join(self.root, f"v{self.sid}")),
                       "docs": int(ix.stats["n_docs"])}

    def prepare(self, kind: str, i: int) -> dict:
        seq = self.seq
        self.seq += 1
        name = f"delta-{seq:05d}.parquet"
        src = os.path.join(self.stage, name)
        inputs.write_delta(src, self.seed, seq, self.n_base + seq * self.delta_size,
                           self.delta_size, self.vocab)
        return {"i": i, "seq": seq, "src": src, "dst": os.path.join(self.input, name),
                "prev_sid": self.sid, "deltas_bytes": dir_bytes(self.deltas)}

    def op(self, inp: dict) -> dict:
        spark, tr, cfg = self.spark, self.tr, self.cfg
        os.replace(inp["src"], inp["dst"])  # the delta file lands
        with tr.span("streaming.drain"):
            q = incremental_index_stream(spark, self.input, self.ckpt, self.deltas, cfg)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        with tr.span("index.commit"):
            sid = merge_into_snapshot(spark, self.root, self.deltas, cfg)
        with tr.span("query.first_read"):
            ix = read_snapshot(spark, self.root)
            qt = analyze_query_terms(spark, inputs.marker_token(inp["seq"]), cfg)
            rows = scoring.bm25_search(ix, qt, k=K, cfg=cfg).collect()
        return {"sid": sid, "rows": [r.doc_id for r in rows], "work": self.delta_size,
                "groups": [str(q.runId)]}

    def check(self, inp: dict, out: dict) -> bool:
        """n_docs is exact after the commit, and the query on the new
        snapshot returns only documents of the delta that just landed."""
        seq, sid = inp["seq"], out["sid"]
        entry = snapshot_log(self.root)[-1]
        lo = self.n_base + seq * self.delta_size
        snap_bytes = dir_bytes(os.path.join(self.root, f"v{sid}"))
        out["bytes_written"] = snap_bytes + dir_bytes(self.deltas) - inp["deltas_bytes"]
        self.sid, self.last_op = sid, inp["i"]
        self.layout.update(bytes=snap_bytes, docs=entry["n_docs"],
                           postings=entry["n_postings"])
        return (entry["id"] == sid and sid > inp["prev_sid"]
                and entry["n_docs"] == lo + self.delta_size
                and len(out["rows"]) == min(K, self.delta_size)
                and all(lo <= d < lo + self.delta_size for d in out["rows"]))

    def final_check(self) -> list[int]:
        """The final snapshot's vocabulary equals a from-scratch build over
        the base corpus plus every landed delta (a mismatch fails the last
        op, whose commit produced that snapshot)."""
        spark = self.spark
        base = zipf_corpus(spark, self.n_base, vocab=self.vocab, seed=self.seed)
        landed = spark.read.parquet(self.input).select("doc_id", "text")
        ref = build_index(base.unionByName(landed), self.cfg, doc_col="doc_id",
                          text_col="text", with_positions=False).terms
        cols = [F.col("term"), F.col("df").cast("long"), F.col("cf").cast("long")]
        got = read_snapshot(spark, self.root).terms.select(*cols).cache()
        ref = ref.select(*cols).cache()
        self.layout["terms"] = got.count()
        ok = got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty()
        got.unpersist(); ref.unpersist()
        return [] if ok else [self.last_op]

    def store_bytes_per_doc(self) -> float:
        return self.layout["bytes"] / self.layout["docs"]


def op_count(seconds: int, ops_per_s: float, cycle: int = 1) -> int:
    """Measured ops per run: ``seconds * ops_per_s``, in whole cycles of
    the workload's input mix, at least 3.  It depends on the run length
    alone, so every run with one seed executes the same ops (and ingest's
    snapshot reaches the same sizes) however fast the host is."""
    return max(3, cycle * max(1, round(seconds * ops_per_s / cycle)))


WORKLOADS = {w.name: w for w in (Interactive, Ingest)}
