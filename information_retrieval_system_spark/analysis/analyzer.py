"""Text analysis pipeline as Spark column expressions + Arrow UDFs.

Semantics (SURVEY.md §2.2, citations into the reference):

- T2 normalize (Indexer.java:431-433):
  ``lower(regexp_replace(regexp_replace(text, "[^\\p{L}\\p{Nd}]+", " "),
  "[0-9]", " "))``
- T3 tokenize: split on whitespace runs (Indexer.java:264).
- T4 doc length = token count BEFORE stop/stem filtering (Indexer.java:265).
- T5/T6 stopword + operator-word filter (StopWords.java:95-115).
- T7 classic Porter stem (PorterStemmer.java:84-627) — the ONLY step that
  needs Python; it runs as an Arrow-batched UDF (``pyarrow.Array`` in and
  out, no pandas) with a per-worker memo, never per-row Python.

Everything except the stem is native Catalyst expressions, so the token
pipeline stays inside whole-stage codegen.  For index builds the stem is
applied to the *distinct-terms* table and joined back (Zipf: distinct terms
are orders of magnitude smaller than the token stream), which at cluster
scale turns a 100-TB stem pass into a few-GB one plus a join Catalyst can
broadcast.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType, StructType

from .porter import stem_batch
from .stopwords import ALL_FILTERED, STOPWORDS

#: regex pair of the reference normalizer (Indexer.java:431-433)
NON_WORD_PATTERN = r"[^\p{L}\p{Nd}]+"
DIGIT_PATTERN = "[0-9]"

# per-python-worker stem memo (Zipf hit-rate; bounded to keep workers lean)
_MEMO: dict[str, str] = {}
_MEMO_LIMIT = 1_000_000


@F.arrow_udf(StringType())
def porter_stem_udf(tokens: pa.Array) -> pa.Array:  # pragma: no cover - executor side
    if len(_MEMO) > _MEMO_LIMIT:
        _MEMO.clear()
    return pa.array(stem_batch(tokens.to_pylist(), _MEMO), pa.string())


def normalize_expr(col: Column) -> Column:
    """T2: strip non-letter/digit runs, strip digits, lowercase."""
    return F.lower(
        F.regexp_replace(F.regexp_replace(col, NON_WORD_PATTERN, " "), DIGIT_PATTERN, " ")
    )


def tokens_array_expr(col: Column) -> Column:
    """T3: normalized text -> array of non-empty tokens."""
    return F.filter(F.split(normalize_expr(col), " "), lambda t: t != F.lit(""))


def doc_length_expr(col: Column) -> Column:
    """T4: pre-filter token count (the BM25 ``dl``)."""
    return F.size(tokens_array_expr(col))


def stopword_filter_condition(term: Column, include_operators: bool = True) -> Column:
    """T5/T6 membership test; terms are already lowercased by T2."""
    words = ALL_FILTERED if include_operators else STOPWORDS
    return ~term.isin(*sorted(words))


def analyze_tokens(
    df: DataFrame,
    tokens: Column,
    id_cols: list[str],
    use_stopwords: bool = True,
    use_stemmer: bool = True,
) -> DataFrame:
    """T5-T7 over a token array (``tokens_array_expr``, T2-T3, of the
    text): id_cols + (pos, term), one row per kept token; ``pos`` is the
    0-based pre-filter token position.  The stem runs on the token stream
    (the index build stems its distinct token set instead,
    ``index.builder``)."""
    toks = df.select(*[F.col(c) for c in id_cols],
                     F.posexplode(tokens).alias("pos", "token"))
    if use_stopwords:
        toks = toks.filter(stopword_filter_condition(F.col("token")))
    if not use_stemmer:
        return toks.withColumnRenamed("token", "term")
    return toks.withColumn("term", porter_stem_udf("token")).drop("token")


def analyze_query_string(query: str, use_stopwords: bool = True,
                         use_stemmer: bool = True) -> dict[str, int]:
    """§2.8 prepareQuery, DRIVER-SIDE: query string -> {term: qtf}.

    A query is O(10) tokens; analyzing it distributed is pure overhead
    (python-worker spin-up + shuffles), so the query side runs the same
    spec in plain Python.  Token parity with the distributed corpus
    analyzer is asserted by tests/test_analyzer.py.

    Deviation from the reference (documented, SURVEY.md §7): query text IS
    lowercased (the reference drops the ``toLowerCase`` result,
    Search_FR.java:154).  Duplicate query terms accumulate qtf
    (Search_FR.java:231-239); BM25 ignores qtf, VSM uses it.
    """
    from ..oracle.pyref import analyze  # same spec implementation

    terms, _ = analyze(query, use_stopwords, use_stemmer)
    out: dict[str, int] = {}
    for _, t in terms:
        out[t] = out.get(t, 0) + 1
    return out


def local_frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """Driver rows as a local relation, built from a pyarrow Table (a
    list-built frame is an RDD): collecting or broadcasting it starts
    no Spark job."""
    import pyarrow as pa

    st = StructType.fromDDL(schema)
    cols = list(zip(*rows)) if rows else [()] * len(st.names)
    return spark.createDataFrame(
        pa.table({n: pa.array(c) for n, c in zip(st.names, cols)}), st)


def analyze_query_terms(spark, query: str, cfg) -> DataFrame:
    """query string -> DataFrame(term, qtf double), a local relation."""
    qts = analyze_query_string(query, cfg.use_stopwords, cfg.use_stemmer)
    rows = [(t, float(c)) for t, c in sorted(qts.items())]
    return local_frame(spark, rows, "term string, qtf double")
