"""Distributed analyzer == driver-side/oracle analyzer, token by token.

This parity is what lets query strings be analyzed driver-side
(analysis.analyzer.analyze_query_string) while documents go through the
distributed Catalyst + pandas-UDF pipeline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from information_retrieval_system_spark.analysis.analyzer import analyze_tokens, tokens_array_expr
from information_retrieval_system_spark.oracle.pyref import analyze

CASES = [
    "Simple lower case words",
    "MixedCase WORDS and Punct.uation(glued)!",
    "digits42inside and 123 alone merge7 end",
    "  multiple   spaces\nand\tnewlines  ",
    "stopwords the of and or not in this about",
    "greek λέξη και δεύτερη word",
    "running runner runs easily generalization",
    "",
    "a",
    "...!!!...",
    "tab\tsep_and-hyphen under_score",
]


def _spark_tokens(spark, text, use_stop, use_stem):
    df = spark.createDataFrame([(0, text)], "id long, text string")
    toks = analyze_tokens(df, tokens_array_expr(F.col("text")), ["id"],
                          use_stopwords=use_stop, use_stemmer=use_stem)
    return [(r.pos, r.term) for r in toks.orderBy("pos").collect()]


def test_token_parity_all_configs(spark):
    for use_stop in (True, False):
        for use_stem in (True, False):
            for text in CASES:
                expected, _dl = analyze(text, use_stop, use_stem)
                got = _spark_tokens(spark, text, use_stop, use_stem)
                assert got == expected, (text, use_stop, use_stem, got, expected)


def test_doc_length_is_prefilter(spark):
    from information_retrieval_system_spark.analysis.analyzer import doc_length_expr

    df = spark.createDataFrame([("the of and unique",)], "text string")
    dl = df.select(doc_length_expr(F.col("text")).alias("dl")).collect()[0].dl
    _, oracle_dl = analyze("the of and unique", True, True)
    assert dl == oracle_dl == 4  # stopwords count toward dl (T4)
