"""Engine configuration.

Defaults mirror the reference's ``themis.config`` (reference repo
``src/main/resources/themis.config``) except where BASELINE.json overrides
them; every deviation is documented:

- ``k1=1.2, b=0.75``: BASELINE.json pins these engine defaults; the
  reference hard-codes k1=2.0, b=0.75 (OkapiBM25_FR.java:52-53).  Both are
  plain config here; rank-identity tests pin identical constants on the
  engine and the oracle.
- ``use_stopwords`` / ``use_stemmer``: themis.config:2-3 (both true).
- ``pagerank_threshold=1.3e-5``: themis.config:21.
- ``model_weight=0.7 / pagerank_weight=0.3``: themis.config:20-22 (B6
  fusion).
- lowercasing is applied to BOTH documents and queries.  The reference
  discards the result of ``Query.toLowerCase()`` (Search_FR.java:154) so
  mixed-case query tokens silently miss; our spec fixes that (documented
  deviation, SURVEY.md §7).
- final ranking tie-break is deterministic ``(score DESC, doc_id ASC)``;
  the reference's ties follow HashMap iteration order
  (OkapiBM25_FR.java:407-416) and are nondeterministic.

Session sizing (parallelism, shuffle partitions, heap) is not engine
configuration; it lives in ``session.get_spark``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # --- retrieval ----------------------------------------------------
    k1: float = 1.2
    b: float = 0.75
    model_weight: float = 0.7      # B6 fusion weight for the retrieval score
    pagerank_weight: float = 0.3   # B6 fusion weight for pagerank

    # --- analysis -----------------------------------------------------
    use_stopwords: bool = True
    use_stemmer: bool = True

    # --- pagerank -----------------------------------------------------
    pagerank_threshold: float = 1.3e-5
    pagerank_max_iters: int = 200
    pagerank_checkpoint_every: int = 5

    # --- index layout -------------------------------------------------
    #: number of term buckets the written postings/blocks tables are
    #: partitioned by: a query reads only the buckets of its terms.
    term_buckets: int = 32


DEFAULT_CONFIG = EngineConfig()
