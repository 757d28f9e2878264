"""S2 JSON-lines ingestion: null handling, T1 concat quirks, graph
projection, schema pruning."""

from __future__ import annotations

import json

import pytest

from information_retrieval_system_spark.sources import s2_json


@pytest.fixture(scope="module")
def jsonl(tmp_path_factory):
    p = tmp_path_factory.mktemp("s2") / "docs.jsonl"
    rows = [
        {  # fully populated, with newlines to strip
            "id": "a",
            "title": "Deep\nRetrieval",
            "paperAbstract": "we study things.",
            "entities": ["IR", "Ranking"],
            "fieldsOfStudy": ["Computer Science"],
            "authors": [{"name": "Ada L", "ids": ["1", "2"]}, {"name": "Bob", "ids": []}],
            "outCitations": ["b", "ghost"],
            "journalName": "JASIST",
            "sources": ["DBLP"],
            "year": 2001,
            "venue": "SIGIR",
        },
        {  # nulls and missing keys everywhere
            "id": "b",
            "title": None,
            "entities": None,
            "authors": None,
            "outCitations": [],
            "year": None,
        },
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(p)


def test_null_handling_matches_reference(spark, jsonl):
    e = {r.id: r for r in s2_json.read_s2_textual(spark, jsonl).collect()}
    b = e["b"]
    # S2JsonEntryReader: null string -> "", null array -> [], null year -> 0
    assert b.title == "" and b.paperAbstract == "" and b.journalName == "" and b.venue == ""
    assert b.entities == [] and b.fieldsOfStudy == [] and b.authors == [] and b.sources == []
    assert b.year == 0


def test_body_concat_quirks(spark, jsonl):
    df = s2_json.read_s2_textual(spark, jsonl).withColumn("body", s2_json.body_expr())
    body = {r.id: r.body for r in df.select("id", "body").collect()}
    # Indexer.actions: title⊕abstract no-space, List.toString brackets,
    # Pair.toString authors, journal⊕venue no-space, trailing year
    assert body["a"] == (
        "Deep Retrieval"                 # \n -> ' '
        "we study things. "              # NO space after title
        "[IR, Ranking] "
        "[Computer Science] "
        "[Ada L [1, 2], Bob []] "
        "JASIST"                          # journal ⊕ venue: NO space
        "SIGIR"
        "[DBLP] "
        "2001"
    )
    assert body["b"] == " [] [] [] [] 0"


def test_graph_projection(spark, jsonl):
    edges = {(r.src, r.dst) for r in s2_json.s2_graph_edges(spark, jsonl).collect()}
    assert edges == {("a", "b"), ("a", "ghost")}  # dangling kept at projection
    aids = {(r.id, r.author_id) for r in s2_json.s2_author_ids(spark, jsonl).collect()}
    assert aids == {("a", "1"), ("a", "2")}


def test_graph_read_prunes_schema(spark, jsonl):
    df = s2_json.s2_graph_edges(spark, jsonl)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    # the JSON scan must not materialize the textual fields
    assert "paperAbstract" not in plan and "journalName" not in plan
