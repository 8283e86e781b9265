"""Seeded query streams for the query workloads.

``ColdStream`` never repeats a term: every query draws terms from the
mid-frequency band that no earlier query of the run used, so each term
misses the searcher's decoded and term-stats caches and no query text
ever repeats (the queryResultCache never hits).

``HotStream`` draws every query from a fixed pool of high-df terms that
is warmed before timing, as a combination not used before: the decoded
cache always hits and the queryResultCache never does.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from perfbench.corpus import Corpus

# mid-frequency band of Zipf ranks the cold stream draws from
BAND = (100, 2000)
MAX_EXPANSION = 8


@dataclass(frozen=True)
class Query:
    kind: str  # term | and | or | phrase | prefix | wand
    text: str  # query-parser text ("" for wand)
    terms: tuple[str, ...]  # the terms, or the prefix for kind=prefix


def _bigrams(c: Corpus, ranks: np.ndarray) -> np.ndarray:
    """Distinct (rank_a, rank_b) pairs adjacent in some document, both in
    ``ranks`` — the candidates for exact two-term phrase queries."""
    sel = np.zeros(c.vocab.size, dtype=bool)
    sel[ranks] = True
    rank_of_post = np.repeat(np.arange(c.vocab.size), np.diff(c.term_start))
    tok_rank = np.repeat(rank_of_post, c.post_tf)
    tok_doc = np.repeat(c.post_doc, c.post_tf)
    keep = sel[tok_rank]
    r, d, p = tok_rank[keep], tok_doc[keep], c.positions[keep]
    order = np.lexsort((p, d))
    r, d, p = r[order], d[order], p[order]
    adj = (d[1:] == d[:-1]) & (p[1:] == p[:-1] + 1) & (r[1:] != r[:-1])
    pairs = np.stack([r[:-1][adj], r[1:][adj]], axis=1)
    return np.unique(pairs, axis=0)


class ColdStream:
    # half the mix is single terms: with prefix queries they make up the
    # fast mode (6 of 10), so the median sits inside it, not on an edge
    MIX = ("term", "and", "term", "phrase", "term", "prefix", "term", "or", "term", "wand")
    BATCH = ("term", "and", "phrase")  # one search_batch call

    def __init__(self, c: Corpus, oracle, seed: int) -> None:
        self.c = c
        self.oracle = oracle
        self.rng = np.random.default_rng([seed, 1])
        band = c.present_ranks
        band = band[(band >= BAND[0]) & (band < BAND[1])]
        self.band = [str(t) for t in c.vocab[self.rng.permutation(band)]]
        self.used: set[str] = set()
        pairs = _bigrams(c, band)
        self.pairs = pairs[self.rng.permutation(len(pairs))]
        self._next_pair = 0
        self._next_term = 0

    def _fresh(self, n: int) -> tuple[str, ...]:
        out = []
        while len(out) < n:
            t = self.band[self._next_term]
            self._next_term += 1
            if t not in self.used:
                out.append(t)
        self.used.update(out)
        return tuple(out)

    def _phrase(self) -> tuple[str, ...]:
        while True:
            a, b = self.pairs[self._next_pair]
            self._next_pair += 1
            ta, tb = str(self.c.vocab[a]), str(self.c.vocab[b])
            if ta not in self.used and tb not in self.used:
                self.used.update((ta, tb))
                return ta, tb

    def _prefix(self) -> str:
        while True:
            (t,) = self._fresh(1)
            for n in range(4, len(t)):
                exp = self.oracle.expand(t[:n])
                if len(exp) <= MAX_EXPANSION and not self.used.intersection(set(exp) - {t}):
                    self.used.update(exp)
                    return t[:n]

    def make(self, kind: str) -> Query:
        if kind == "term":
            (t,) = self._fresh(1)
            return Query(kind, t, (t,))
        if kind == "and":
            ts = self._fresh(2)
            return Query(kind, " ".join(f"+{t}" for t in ts), ts)
        if kind == "or":
            ts = self._fresh(3)
            return Query(kind, " ".join(ts), ts)
        if kind == "phrase":
            ts = self._phrase()
            return Query(kind, '"' + " ".join(ts) + '"', ts)
        if kind == "prefix":
            p = self._prefix()
            return Query(kind, p + "*", (p,))
        if kind == "wand":
            return Query(kind, "", self._fresh(2))
        raise ValueError(kind)


class HotStream:
    MIX = ("and", "or", "and", "phrase", "and", "or")
    BATCH = ("and", "or", "and", "phrase", "and", "or", "and", "or")
    POOL = (16, 32)  # Zipf ranks: high-df, below the handful that hit most docs

    def __init__(self, c: Corpus, oracle, seed: int) -> None:
        self.c = c
        self.rng = np.random.default_rng([seed, 2])
        ranks = c.present_ranks[self.POOL[0] : self.POOL[1]]
        self.pool = [str(t) for t in c.vocab[ranks]]
        self.seen: set[tuple[str, ...]] = set()
        pairs = _bigrams(c, ranks)
        self.pairs = [
            (str(c.vocab[a]), str(c.vocab[b]))
            for a, b in pairs[self.rng.permutation(len(pairs))]
        ]

    def _combo(self, n: int) -> tuple[str, ...]:
        for _ in range(10_000):
            idx = sorted(self.rng.choice(len(self.pool), size=n, replace=False))
            ts = tuple(self.pool[i] for i in idx)
            if ts not in self.seen:
                self.seen.add(ts)
                return ts
        raise RuntimeError(f"no unused {n}-term combination left in the hot pool")

    def make(self, kind: str) -> Query:
        if kind == "and":
            ts = self._combo(2)
            return Query(kind, " ".join(f"+{t}" for t in ts), ts)
        if kind == "or":
            ts = self._combo(3)
            return Query(kind, " ".join(ts), ts)
        if kind == "phrase":
            if not self.pairs:
                raise RuntimeError("no unused phrase left in the hot pool")
            ts = self.pairs.pop()
            return Query(kind, '"' + " ".join(ts) + '"', ts)
        raise ValueError(kind)
