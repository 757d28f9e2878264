"""read_table: the schema from one file footer equals parquet schema
inference, the rows are the same, and reading an index starts no Spark
job."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructType

from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import (
    DERIVED_DOC_COLS, build_index, read_index, read_table, write_index)
from information_retrieval_system_spark.index.compression import (
    build_block_postings, build_dl_blocks, read_block_index, write_block_index)
from information_retrieval_system_spark.index.snapshots import commit_snapshot
from information_retrieval_system_spark.query.scoring import bm25_search, vsm_search
from information_retrieval_system_spark.streaming.incremental import (
    incremental_index_stream, merge_into_snapshot)

#: the write_index layouts: stemmed (aggregated on an in-memory term id),
#: no-stem (aggregated on the term string), and string doc ids (ranked
#: doc_int) with metadata columns in docs
LAYOUTS = {
    "stemmed": dict(cfg=EngineConfig(term_buckets=4)),
    "no_stem": dict(cfg=EngineConfig(use_stopwords=False, use_stemmer=False,
                                     term_buckets=4)),
    "string_ids_meta": dict(cfg=EngineConfig(use_stemmer=False, term_buckets=4),
                            string_ids=True, meta_cols=["lang", "source"]),
}
INDEX_TABLES = ("postings", "docs", "terms")


def jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"read-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def assert_same_table(spark, path):
    got, ref = read_table(spark, path), spark.read.parquet(path)
    assert got.schema == ref.schema, path
    assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty(), path


@pytest.fixture(scope="module")
def written(spark, sf_small, tmp_path_factory):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    out = {}
    for name, opts in LAYOUTS.items():
        corpus = docs
        if opts.get("string_ids"):
            corpus = docs.withColumn(
                "doc_id", F.concat(F.lit("d"), F.col("doc_id").cast("string")))
        ix = build_index(corpus, opts["cfg"], doc_col="doc_id", text_col="text",
                         meta_cols=opts.get("meta_cols"))
        out[name] = str(tmp_path_factory.mktemp(name))
        write_index(ix, out[name], opts["cfg"])
    return out


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_read_table_equals_inference(spark, written, layout):
    for table in INDEX_TABLES:
        assert_same_table(spark, os.path.join(written[layout], table))


def assert_read_schema(ix, spark, out):
    """Each table read has its files' schema, and ``docs`` adds the
    derived norm and pagerank, which are not on disk."""
    for table in INDEX_TABLES:
        disk = spark.read.parquet(os.path.join(out, table)).schema
        got = getattr(ix, table).schema
        if table == "docs":
            assert not set(DERIVED_DOC_COLS) & set(disk.names)
            assert got.names == disk.names + list(DERIVED_DOC_COLS)
            assert StructType(got.fields[:len(disk.fields)]) == disk
            assert all(got[c].dataType == DoubleType() for c in DERIVED_DOC_COLS)
        else:
            assert got == disk, table


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_read_index_starts_no_job(spark, written, layout):
    ix, n_jobs = jobs_started(spark, lambda: read_index(spark, written[layout]))
    assert n_jobs == 0
    assert_read_schema(ix, spark, written[layout])


@pytest.fixture(scope="module")
def merged(spark, sf_small, tmp_path_factory):
    """layout -> the snapshot directory of one merge commit (a build of
    the first 200 docs plus the rest streamed as deltas), for the layouts
    with integer doc ids (a merge needs them)."""
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    out = {}
    for name, opts in LAYOUTS.items():
        if opts.get("string_ids"):
            continue
        base, cfg = tmp_path_factory.mktemp(f"merged_{name}"), opts["cfg"]
        root, delta = str(base / "snaps"), str(base / "delta")
        commit_snapshot(build_index(docs.filter("doc_id < 200"), cfg, doc_col="doc_id",
                                    text_col="text"), root, cfg)
        docs.filter("doc_id >= 200").select("doc_id", "text").write.parquet(str(base / "in"))
        q = incremental_index_stream(spark, str(base / "in"), str(base / "ckpt"), delta, cfg)
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()
        out[name] = os.path.join(root, f"v{merge_into_snapshot(spark, root, delta, cfg)}")
    return out


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_written_layout(spark, written, merged, layout):
    """A written index, built or merged, is exactly its three tables and
    the stats; its postings carry no positions, no term id and no bucket;
    its docs store no norm or pagerank (read_index derives them); a merge
    commit writes the build's postings and docs schemas."""
    for out in [written[layout], merged.get(layout)]:
        if out is None:
            continue
        assert sorted(os.listdir(out)) == sorted([*INDEX_TABLES, "stats.json"])
        postings = spark.read.parquet(os.path.join(out, "postings"))
        assert postings.columns == ["term", "doc_id", "doc_int", "tf"]
        assert_read_schema(read_index(spark, out), spark, out)
    if layout in merged:
        for table in ("postings", "docs"):
            assert (read_table(spark, os.path.join(merged[layout], table)).dtypes
                    == read_table(spark, os.path.join(written[layout], table)).dtypes), table


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_bm25_plan_prunes_norms(spark, written, merged, layout):
    """The norms ``read_index`` derives cost BM25 nothing: the optimizer
    drops their join and aggregation from ``bm25_search``'s plan over a
    built or merged index, while the VSM plan, which reads them, keeps
    them."""
    qt = spark.createDataFrame([("retriev", 1.0), ("retrieval", 1.0), ("spark", 1.0)],
                               "term string, qtf double")
    for out in [written[layout], merged.get(layout)]:
        if out is None:
            continue
        ix = read_index(spark, out)
        plan = bm25_search(ix, qt, k=10)._jdf.queryExecution().optimizedPlan().toString()
        assert "norm" not in plan and "pagerank" not in plan
        assert "norm" in vsm_search(ix, qt, k=10)._jdf.queryExecution().optimizedPlan().toString()


def test_positional_build_rejected(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        build_index(docs, EngineConfig(), doc_col="doc_id", text_col="text",
                    with_positions=True)


def test_read_table_block_index(spark, written, tmp_path):
    out = str(tmp_path)
    ix = read_index(spark, written["no_stem"])
    write_block_index(build_block_postings(ix.postings, block_span=128),
                      build_dl_blocks(ix.docs, block_span=128), out, term_buckets=4)
    for table in ("blocks", "dl_blocks"):
        assert_same_table(spark, os.path.join(out, table))
    (blocks, dl_blocks), n_jobs = jobs_started(
        spark, lambda: read_block_index(spark, out, keep_bucket=True))
    assert n_jobs == 0
    assert blocks.schema == spark.read.parquet(os.path.join(out, "blocks")).schema
    assert dl_blocks.schema == spark.read.parquet(os.path.join(out, "dl_blocks")).schema


def test_read_table_partition_subset(spark, tmp_path):
    """``partitions`` reads only the named directories and keeps their
    partition column."""
    base = str(tmp_path / "t")
    for b in range(3):
        spark.createDataFrame([(b, f"r{b}")], "doc_id long, text string").write.parquet(
            os.path.join(base, f"batch_id={b}"))
    got = read_table(spark, base, ["batch_id=0", "batch_id=2"])
    ref = spark.read.parquet(base)
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.filter("batch_id != 1").collect())
