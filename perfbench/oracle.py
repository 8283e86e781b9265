"""Exhaustive float32 BM25 over the generated corpus's ground truth.

Vectorized form of the arithmetic in ``tests/oracle.py`` (Lucene's
BM25Similarity with byte315 norms, k1=1.2, b=0.75): float32 per-term
scores, cross-term sums in float64 cast back to float32, top-k ordered
by score DESC then doc_id ASC.  It reads only the generator's expected
postings, never the engine's index, so an indexing or decoding bug shows
up as a mismatch.  ``perfbench/test_perfbench.py`` pins it against
``tests/oracle.py`` on a small corpus.
"""

from __future__ import annotations

import math

import numpy as np

from lucene_solr_spark.scoring.bm25 import NORM_TABLE, encode_norm
from perfbench.corpus import Corpus

K1 = np.float32(1.2)
B = np.float32(0.75)


class Oracle:
    def __init__(self, corpus: Corpus) -> None:
        self.c = corpus
        self.rank = {t: i for i, t in enumerate(corpus.vocab)}
        live = corpus.doc_len > 0
        self.doc_count = int(live.sum())
        self.norm = np.zeros(corpus.num_docs, dtype=np.int64)
        self.norm[live] = encode_norm(corpus.doc_len[live]).astype(np.int64)
        avgdl = np.float32(corpus.num_tokens / float(self.doc_count))
        self.cache = (K1 * ((np.float32(1) - B) + B * NORM_TABLE / avgdl)).astype(np.float32)
        self._sorted_vocab = np.sort(corpus.vocab[corpus.present_ranks].astype(str))

    # -------------------------------------------------------------- terms
    def _slice(self, term: str) -> slice:
        r = self.rank.get(term)
        if r is None:
            return slice(0, 0)
        return slice(int(self.c.term_start[r]), int(self.c.term_start[r + 1]))

    def df(self, term: str) -> int:
        s = self._slice(term)
        return s.stop - s.start

    def idf(self, df: int) -> np.float32:
        n = self.doc_count
        return np.float32(math.log(1.0 + (n - df + 0.5) / (df + 0.5)))

    def _score(self, weight: np.float32, freq: np.ndarray, docs: np.ndarray) -> np.ndarray:
        w = np.float32(weight) * (K1 + np.float32(1))
        f = freq.astype(np.float32)
        return (w * f / (f + self.cache[self.norm[docs]])).astype(np.float32)

    def term(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        s = self._slice(term)
        docs = self.c.post_doc[s]
        if docs.size == 0:
            return docs, np.zeros(0, dtype=np.float32)
        return docs, self._score(self.idf(docs.size), self.c.post_tf[s], docs)

    def _positions(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        s = self._slice(term)
        lo, hi = self.c.pos_start[s.start], self.c.pos_start[s.stop]
        docs = np.repeat(self.c.post_doc[s], self.c.post_tf[s])
        return docs, self.c.positions[lo:hi]

    # ------------------------------------------------------------ queries
    def conj(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        parts = [self.term(t) for t in terms]
        docs = parts[0][0]
        for d, _ in parts[1:]:
            docs = np.intersect1d(docs, d)
        acc = np.zeros(docs.size, dtype=np.float64)
        for d, s in parts:
            acc += s[np.searchsorted(d, docs)].astype(np.float64)
        return docs, acc.astype(np.float32)

    def disj(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        parts = [self.term(t) for t in terms]
        docs = np.unique(np.concatenate([d for d, _ in parts]))
        acc = np.zeros(docs.size, dtype=np.float64)
        for d, s in parts:
            acc[np.searchsorted(docs, d)] += s.astype(np.float64)
        return docs, acc.astype(np.float32)

    def phrase(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """Exact phrase: term i at position p + i, phrase freq per doc."""
        span = np.int64(1 << 32)
        keys = None
        for i, t in enumerate(terms):
            d, p = self._positions(t)
            k = d * span + (p - i)
            keys = k if keys is None else np.intersect1d(keys, k)
        docs, freq = np.unique(keys // span, return_counts=True)
        if docs.size == 0:
            return docs, np.zeros(0, dtype=np.float32)
        idf_sum = np.float32(sum(float(self.idf(self.df(t))) for t in terms))
        return docs, self._score(idf_sum, freq, docs)

    def expand(self, prefix: str) -> list[str]:
        """Indexed terms starting with ``prefix`` (the vocabulary is ASCII)."""
        upper = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        lo = np.searchsorted(self._sorted_vocab, prefix)
        hi = np.searchsorted(self._sorted_vocab, upper)
        return [str(t) for t in self._sorted_vocab[lo:hi]]

    def prefix_docs(self, prefix: str) -> np.ndarray:
        """Match set of a prefix query (constant score 1.0)."""
        parts = [self.term(t)[0] for t in self.expand(prefix)]
        return np.unique(np.concatenate(parts)) if parts else np.zeros(0, dtype=np.int64)

    @staticmethod
    def top_k(docs: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return [(int(docs[i]), float(scores[i])) for i in order]
