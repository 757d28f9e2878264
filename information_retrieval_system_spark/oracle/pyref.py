"""Pure-Python reference-semantics oracle (no Spark).

Reimplements the reference pipeline exactly as specified in SURVEY.md §2 —
analyzer -> postings -> BM25/VSM -> candidate filter -> sum -> sort(score
DESC, doc_id ASC) -> top-k — in plain dicts, so rank-identity tests compare
the distributed engine against an independent single-process
implementation (SURVEY.md §5.3).  Shares only the Porter/stopword spec
modules with the engine (they ARE the spec).
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

from ..analysis.porter import stem
from ..analysis.stopwords import ALL_FILTERED

def _normalize(text: str) -> str:
    # mirror T2: [^\p{L}\p{Nd}]+ -> " ", [0-9] -> " ", lower.  Python re
    # lacks \p classes; emulate: keep unicode letters + decimal digits
    # (isalpha ~ \p{L}, isdecimal ~ \p{Nd}), then drop ASCII digits.
    kept = []
    prev_space = False
    for ch in text:
        if ch.isalpha() or ch.isdecimal():
            kept.append(ch)
            prev_space = False
        else:
            if not prev_space:
                kept.append(" ")
            prev_space = True
    s = "".join(kept)
    s = re.sub(r"[0-9]", " ", s)
    return s.lower()


def analyze(text: str, use_stopwords: bool = True, use_stemmer: bool = True):
    """-> (terms list with positions, pre-filter token count)."""
    toks = _normalize(text).split()
    dl = len(toks)
    out = []
    for pos, t in enumerate(toks):
        if use_stopwords and t in ALL_FILTERED:
            continue
        out.append((pos, stem(t) if use_stemmer else t))
    return out, dl


class OracleIndex:
    def __init__(self, docs: dict[str, str], use_stopwords=True, use_stemmer=True):
        self.postings: dict[str, dict[str, int]] = defaultdict(dict)
        self.dl: dict[str, int] = {}
        for doc_id, text in docs.items():
            terms, dl = analyze(text, use_stopwords, use_stemmer)
            self.dl[doc_id] = dl
            for _, t in terms:
                self.postings[t][doc_id] = self.postings[t].get(doc_id, 0) + 1
        self.n = len(docs)
        self.avgdl = (sum(self.dl.values()) // self.n) if self.n else 0
        self.df = {t: len(pl) for t, pl in self.postings.items()}
        # A5 norms: floor-division idf, stored squared
        self.norm: dict[str, float] = defaultdict(float)
        for t, pl in self.postings.items():
            idf = math.log((self.n + 1) // self.df[t]) / math.log(2.0)
            for d, tf in pl.items():
                w = tf * idf
                self.norm[d] += w * w
        self.use_stopwords = use_stopwords
        self.use_stemmer = use_stemmer

    def query_terms(self, query: str) -> Counter:
        terms, _ = analyze(query, self.use_stopwords, self.use_stemmer)
        return Counter(t for _, t in terms)

    def bm25(self, query: str, k: int = 10, k1: float = 1.2, b: float = 0.75,
             candidates: set[str] | None = None):
        qts = self.query_terms(query)
        scores: dict[str, float] = defaultdict(float)
        for t in qts:  # distinct terms only (A7)
            if t not in self.df:
                continue
            df = self.df[t]
            idf = math.log((self.n - df + 0.5) / (df + 0.5)) / math.log(2.0)
            for d, tf in self.postings[t].items():
                if candidates is not None and d not in candidates:
                    continue
                dl = self.dl[d]
                s = idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / float(self.avgdl)))
                scores[d] += s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]

    def vsm(self, query: str, k: int = 10, candidates: set[str] | None = None):
        qts = self.query_terms(query)
        qw = {}
        for t, qtf in qts.items():
            if t not in self.df:
                continue
            idf = math.log(self.n / self.df[t]) / math.log(2.0)
            qw[t] = qtf * idf
        qn2 = sum(w * w for w in qw.values())
        dots: dict[str, float] = defaultdict(float)
        for t, w_q in qw.items():
            idf = math.log(self.n / self.df[t]) / math.log(2.0)
            for d, tf in self.postings[t].items():
                if candidates is not None and d not in candidates:
                    continue
                dots[d] += tf * idf * w_q
        scores = {}
        for d, dot in dots.items():
            nd = self.norm.get(d, 0.0)
            scores[d] = dot / math.sqrt(nd * qn2) if nd > 0 and qn2 > 0 else 0.0
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]


def pagerank(edges: list[tuple[str, str]], nodes: set[str],
             threshold: float = 1.3e-5, max_iters: int = 1000) -> dict[str, float]:
    """Undamped power iteration, dangling edges dropped (Indexer.java
    :998-1080 semantics): init 1/N; next(v) = sum over u->v of PR(u)/outdeg(u);
    stop when max|Δ| < threshold."""
    edges = [(u, v) for u, v in edges if u in nodes and v in nodes]
    out = defaultdict(list)
    for u, v in edges:
        out[u].append(v)
    n = len(nodes)
    pr = {d: 1.0 / n for d in nodes}
    for _ in range(max_iters):
        nxt = {d: 0.0 for d in nodes}
        for u, vs in out.items():
            share = pr[u] / len(vs)
            for v in vs:
                nxt[v] += share
        delta = max(abs(nxt[d] - pr[d]) for d in nodes)
        # reference copies next->cur only when next != 0 (Indexer.java
        # :1064-1073): zero-in-degree nodes keep their previous rank.
        for d in nodes:
            if nxt[d] != 0.0:
                pr[d] = nxt[d]
        if delta < threshold:
            break
    return pr
