"""Block-max pruning never changes the answer: over hand-encoded blocks
(no Spark), the fused kernel's top k equals the first k rows of every
match ranked by ``score DESC, doc_id ASC``, for random flat queries in
both scoring modes.  A smaller ``b`` tightens the block-max bounds, so
more blocks are skipped.  Docs share a few texts, so equal scores sit
on both sides of the round-1 / round-2 split and at the k-th place."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import lucene_solr_spark.codecs.postings as cp
from lucene_solr_spark.codecs.postings import encode_posting_blocks
from lucene_solr_spark.queries.query import Occur
from lucene_solr_spark.queries.wand import Clause, TopKQuery, _topk
from lucene_solr_spark.scoring.bm25 import BM25

VOCAB = ["a", "b", "c", "d", "e", "f", "g", "h"]
K1 = 1.2


def hand_encoded(
    seed: int, num_docs: int = 3000, num_segments: int = 4, texts: int = 25, rare: int = 5
):
    """``(block rows, avgdl)`` of ``num_docs`` docs, each one of ``texts``
    short random texts over a skewed vocabulary or of ``rare`` others, in
    ``num_segments`` segments of consecutive docIDs, after which the first
    and the third merge into one whose docID range straddles the second."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    pool = [rng.choice(VOCAB, size=rng.integers(1, 10), p=p / p.sum()) for _ in range(texts)]
    # a few rare texts repeat two terms: only some blocks hold their high
    # tfs, so block bounds differ
    pool += [np.repeat(rng.choice(VOCAB, 2), rng.integers(2, 6)) for _ in range(rare)]
    weight = np.r_[np.full(texts, 0.99 / texts), np.full(rare, 0.01 / rare)]
    text_of = rng.choice(texts + rare, size=num_docs, p=weight)
    segment_of = np.sort(rng.integers(0, num_segments, num_docs))
    segment_of[np.isin(segment_of, [0, 2])] = num_segments
    rows = []
    for seg in np.unique(segment_of):
        docs = np.flatnonzero(segment_of == seg)
        for term in VOCAB:
            hits = [(d, np.flatnonzero(pool[text_of[d]] == term)) for d in docs]
            hits = [(d, pos) for d, pos in hits if pos.size]
            if not hits:
                continue
            for rec in encode_posting_blocks(
                np.array([d for d, _ in hits]),
                np.array([pos.size for _, pos in hits]),
                positions=np.concatenate([pos for _, pos in hits]),
                doc_lens=np.array([pool[text_of[d]].size for d, _ in hits]),
            ):
                rows.append({**rec, "term": term})
    avgdl = float(np.mean([pool[t].size for t in text_of]))
    return pd.DataFrame(rows), avgdl


def random_query(rng: np.random.Generator) -> TopKQuery:
    """A flat boolean of 1–4 term or two-term exact-phrase clauses, with
    random occurs, weights and ``msm``."""
    clauses = []
    for _ in range(rng.integers(1, 5)):
        occur = rng.choice(
            [Occur.MUST, Occur.FILTER, Occur.SHOULD, Occur.MUST_NOT], p=[0.3, 0.1, 0.5, 0.1]
        )
        scored = occur in (Occur.MUST, Occur.SHOULD)
        weight = float(np.float32(rng.uniform(0.1, 3.0))) if scored else 0.0
        if rng.random() < 0.3:
            clauses.append(Clause(occur, tuple(rng.choice(VOCAB, 2)), (0, 1), weight))
        else:
            clauses.append(Clause(occur, (str(rng.choice(VOCAB)),), None, weight))
    shoulds = sum(c.occur == Occur.SHOULD for c in clauses)
    return TopKQuery(tuple(clauses), int(rng.integers(0, shoulds + 1)) if shoulds > 1 else 0)


def _rows(df: pd.DataFrame) -> list[tuple[int, str]]:
    return [(int(d), repr(s)) for d, s in zip(df["doc_id"], df["score"])]


@pytest.mark.parametrize("b", [0.75, 0.3, 0.0])
@pytest.mark.parametrize("mode", ["lucene", "exact"])
def test_pruned_topk_equals_ranked_matches(mode, b, monkeypatch):
    pdf, avgdl = hand_encoded(seed=11)
    if mode == "exact":
        cache = None
    else:
        avgdl = float(np.float32(avgdl))
        cache = BM25(K1, b).cache(np.float32(avgdl))
    calls = [0]  # block rows handed to the decoder
    orig = cp.decode_blocks

    def counting(base_docid, *a, **kw):
        calls[0] += len(base_docid)
        return orig(base_docid, *a, **kw)

    def topk(q, k):
        calls[0] = 0
        return _topk(pdf, q, k, K1, b, cache, avgdl), calls[0]

    monkeypatch.setattr(cp, "decode_blocks", counting)
    rng = np.random.default_rng(5)
    tied = skipped = 0
    for _ in range(60):
        q = random_query(rng)
        full, all_blocks = topk(q, None)
        ranked = full.iloc[np.lexsort((full["doc_id"], -full["score"].astype(np.float64)))]
        for k in (1, 3, 10, 50):
            got, blocks = topk(q, k)
            assert _rows(got) == _rows(ranked.head(k)), (q, k)
            tied += len(ranked) > k and ranked["score"].iloc[k - 1] == ranked["score"].iloc[k]
            skipped += blocks < all_blocks
    assert tied, "no query has equal scores at the k-th place"
    assert skipped, "no query skipped a block"
