"""Seeded source-code-like corpus and its ground-truth inverted index.

The generator draws every token from a known vocabulary, so the expected
analysis of each document (terms, positions, stop gaps) is known without
running the program's analyzer.  That gives the benchmark an oracle that
shares no code with the engine beyond the BM25 norm table:

* a Zipf(``ZIPF_S``) vocabulary of ``VOCAB`` identifier-like terms;
* log-normal document lengths with mean ``MEAN_LEN`` raw tokens;
* English stopwords sprinkled in as keywords (dropped by the analyzer,
  but they still consume a position);
* separators that are never token characters, so each generated token is
  exactly one analyzed token.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 20_000
ZIPF_S = 1.05
MEAN_LEN = 100
LEN_SIGMA = 0.6
STOP_FRAC = 0.08
UPPER_FRAC = 0.05
VOCAB_SEED = 20_000

# Lucene's 33 English stopwords (StandardAnalyzer); the generator uses
# them as keywords and the ground truth drops them, keeping the gap.
STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with"
).split()

_SYLLABLES = (
    "ba be bi bo bu ca ce ci co cu da de di do du fa fe fi fo fu ga ge gi go "
    "gu ha he hi ho hu ka ke ki ko ku la le li lo lu ma me mi mo mu na ne ni "
    "nu pa pe pi po pu ra re ri ro ru sa se si so su ta te ti tu va ve vi vo "
    "xa xe za ze zi zo"
).split()
# Separators hold no token or token-joining character ([A-Za-z0-9_.',;]).
_SEPS = np.array([" ", " ", " ", "\n", "(", ") ", " = ", " {\n", "}\n", "[", "] ", " + "])


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """``VOCAB`` distinct lowercase identifiers, index = Zipf rank − 1."""
    stop = set(STOPWORDS)
    seen: set[str] = set()
    out: list[str] = []
    syl = np.array(_SYLLABLES)
    while len(out) < VOCAB:
        n = 4 * VOCAB
        nsyl = rng.integers(1, 4, size=n)
        parts = syl[rng.integers(0, syl.size, size=(n, 3))]
        under = rng.random(n) < 0.3
        digit = rng.integers(0, 10, size=n)
        has_digit = rng.random(n) < 0.2
        for i in range(n):
            k = int(nsyl[i])
            t = ("_" if under[i] and k > 1 else "").join(parts[i, :k])
            if has_digit[i]:
                t += str(digit[i])
            if t in seen or t in stop:
                continue
            seen.add(t)
            out.append(t)
            if len(out) == VOCAB:
                break
    return np.array(out, dtype=object)


@dataclass
class Corpus:
    """The generated documents plus their expected inverted index.

    Posting arrays are sorted by (term rank, doc id); ``term_start`` gives
    each rank's slice.  Positions are flat, per posting in the same order
    (``pos_start`` slices them)."""

    seed: int
    texts: list[str]
    vocab: np.ndarray  # rank → term string
    doc_len: np.ndarray  # kept tokens per doc (the BM25 field length)
    post_doc: np.ndarray
    post_tf: np.ndarray
    term_start: np.ndarray  # len VOCAB + 1
    positions: np.ndarray
    pos_start: np.ndarray  # len postings + 1
    input_bytes: int

    @property
    def num_docs(self) -> int:
        return len(self.texts)

    @property
    def num_tokens(self) -> int:
        return int(self.doc_len.sum())

    @property
    def num_postings(self) -> int:
        return int(self.post_doc.size)

    def df(self, rank: int) -> int:
        return int(self.term_start[rank + 1] - self.term_start[rank])

    @property
    def present_ranks(self) -> np.ndarray:
        return np.flatnonzero(np.diff(self.term_start) > 0)

    def bases(self) -> dict[str, int]:
        return {
            "docs": self.num_docs,
            "tokens": self.num_tokens,
            "vocabulary": int(self.present_ranks.size),
            "postings": self.num_postings,
            "input_bytes": self.input_bytes,
        }

    def write_parquet(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        table = pa.table(
            {
                "doc_id": pa.array(np.arange(self.num_docs, dtype=np.int64)),
                "content": pa.array(self.texts, type=pa.string()),
            }
        )
        pq.write_table(table, path)


def generate(seed: int, num_docs: int) -> Corpus:
    """Deterministic corpus for ``seed``: same seed, same bytes.

    The vocabulary and its Zipf ranks are the same for every seed, so
    term lengths (and with them index bytes per input byte) do not swing
    with the seed; which terms each document holds, and in what order,
    come from the seed."""
    vocab = _vocabulary(np.random.default_rng(VOCAB_SEED))
    rng = np.random.default_rng(seed)
    mu = np.log(MEAN_LEN) - LEN_SIGMA**2 / 2
    raw_len = np.maximum(1, np.rint(rng.lognormal(mu, LEN_SIGMA, num_docs))).astype(np.int64)
    n = int(raw_len.sum())
    cdf = np.cumsum(np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S)
    rank = np.minimum(np.searchsorted(cdf / cdf[-1], rng.random(n)), VOCAB - 1)
    is_stop = rng.random(n) < STOP_FRAC
    stop_pick = rng.integers(0, len(STOPWORDS), size=n)
    upper = rng.random(n) < UPPER_FRAC
    sep_pick = rng.integers(0, _SEPS.size, size=n)

    words = vocab[rank].copy()
    words[upper] = np.array([w.capitalize() for w in words[upper]], dtype=object)
    words[is_stop] = np.array(STOPWORDS, dtype=object)[stop_pick[is_stop]]
    seps = _SEPS[sep_pick].astype(object)
    inter = np.empty(2 * n, dtype=object)
    inter[0::2] = words
    inter[1::2] = seps
    ends = np.cumsum(raw_len)
    starts = ends - raw_len
    texts = ["".join(inter[2 * s : 2 * e]) for s, e in zip(starts.tolist(), ends.tolist())]

    # ground truth: raw position = index within the doc; stopwords dropped
    doc_of = np.repeat(np.arange(num_docs, dtype=np.int64), raw_len)
    pos_of = np.arange(n, dtype=np.int64) - np.repeat(starts, raw_len)
    keep = ~is_stop
    k_doc, k_pos, k_rank = doc_of[keep], pos_of[keep], rank[keep]
    doc_len = np.bincount(k_doc, minlength=num_docs).astype(np.int64)
    order = np.lexsort((k_pos, k_doc, k_rank))
    k_doc, k_pos, k_rank = k_doc[order], k_pos[order], k_rank[order]
    first = np.ones(k_doc.size, dtype=bool)
    first[1:] = (k_rank[1:] != k_rank[:-1]) | (k_doc[1:] != k_doc[:-1])
    p_idx = np.flatnonzero(first)
    pos_start = np.append(p_idx, k_doc.size)
    post_rank = k_rank[p_idx]
    term_start = np.searchsorted(post_rank, np.arange(VOCAB + 1))
    return Corpus(
        seed=seed,
        texts=texts,
        vocab=vocab,
        doc_len=doc_len,
        post_doc=k_doc[p_idx],
        post_tf=np.diff(pos_start),
        term_start=term_start,
        positions=k_pos,
        pos_start=pos_start,
        input_bytes=sum(len(t) for t in texts),
    )
