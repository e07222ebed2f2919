"""Pure-Python oracle implementing the reference semantics verbatim
(SURVEY.md §5.2): same tokenizer regex (app/services/text_processing.py:18),
tf = count/total (app/repositories/document.py:165), df with default-1
(app/repositories/document.py:296), idf = ln(N/df)
(app/repositories/document.py:299), BM25 k1=1.2 b=0.75 over the same
statistics, tie-break score-desc -> doc_id-asc.

Used only in tests and the benchmark (hundreds to thousands of docs);
the index query paths must match its scores bit for bit, and therefore
its rank order exactly.
"""

from __future__ import annotations

import math
from collections import Counter

from tfidf_spark import BM25_B, BM25_K1
from tfidf_spark.functions.tokenize import py_tokenize


class OracleIndex:
    def __init__(self, docs: dict[int, str]):
        """docs: doc_id -> content. All docs count toward N, even
        zero-token ones (reference repositories/document.py:231-255)."""
        self.counts: dict[int, Counter] = {
            d: Counter(py_tokenize(text)) for d, text in docs.items()
        }
        self.dl = {d: sum(c.values()) for d, c in self.counts.items()}
        self.n_docs = len(docs)
        self.avgdl = (sum(self.dl.values()) / self.n_docs) if self.n_docs else 0.0
        self.df: Counter = Counter()
        for c in self.counts.values():
            for term in c:
                self.df[term] += 1

    def idf(self, term: str) -> float:
        return math.log(self.n_docs / self.df.get(term, 1))

    def tfidf(self, doc_id: int) -> dict[str, dict[str, float]]:
        """Per-term stats for one doc — the GET /documents/{id}/tfidf shape
        (reference controllers/document.py:409-470)."""
        out = {}
        dl = self.dl[doc_id]
        for term, cnt in self.counts[doc_id].items():
            tf = cnt / dl if dl > 0 else 0.0
            idf = self.idf(term)
            out[term] = {
                "frequency": cnt, "tf": tf, "df": self.df.get(term, 1),
                "idf": idf, "tfidf": tf * idf,
            }
        return out

    def bm25_weight(self, cnt: int, dl: int) -> float:
        return (cnt * (BM25_K1 + 1)) / (
            cnt + BM25_K1 * (1 - BM25_B + BM25_B * dl / self.avgdl)
        )

    def bm25_topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        """Top-k (doc_id, score). This fold is the engine's scoring
        contract: each score starts at 0.0 and adds ``idf * weight`` once
        per query-term occurrence, in query order, so a repeated term adds
        its contribution once per repeat. ``index/query.py`` reproduces it
        bit for bit; ``operators.scoring.bm25_topk`` agrees up to the last
        ulp (see its docstring)."""
        scores: dict[int, float] = {}
        for term in terms:
            idf = self.idf(term)
            for d, c in self.counts.items():
                cnt = c.get(term)
                if cnt:
                    scores[d] = scores.get(d, 0.0) + idf * self.bm25_weight(
                        cnt, self.dl[d]
                    )
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]
