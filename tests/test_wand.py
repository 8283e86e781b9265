"""Block-max WAND equivalence vs exhaustive scoring.

The reference's equivalence-test discipline (TestBoolean2: same query
two ways must match; TestApproximationSearchEquivalence) applied to
our WAND: for every query, WAND top-k must equal exhaustive lucene-mode
top-k in docIDs, order, and float32 scores.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import SegmentedIndex
from lucene_solr_spark.queries import IndexSearcher
from lucene_solr_spark.queries.query import (
    BooleanClause,
    BooleanQuery,
    Occur,
    TermQuery,
)
from lucene_solr_spark.queries.wand import wand_topk


@pytest.fixture(scope="module")
def segidx(spark, docs_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wandidx"))
    idx = SegmentedIndex(spark, path)
    idx.build(
        docs_df.select("doc_id", F.col("text").alias("content")),
        num_segments=8,
    )
    return idx


QUERIES = [
    ["spark"],
    ["spark", "window"],
    ["vector", "hash", "dup"],
    ["the"],            # stopword: absent from index -> empty
    ["table", "query", "scan", "merge"],   # high-df terms
]


@pytest.mark.parametrize("terms", QUERIES, ids=["-".join(q) for q in QUERIES])
@pytest.mark.parametrize("k", [1, 10, 50])
def test_wand_matches_exhaustive(spark, searcher, segidx, terms, k):
    should = BooleanQuery(
        tuple(BooleanClause(Occur.SHOULD, TermQuery(t)) for t in terms)
    )
    expect = [
        (r["doc_id"], r["score"]) for r in searcher.search(should, k=k).collect()
    ]
    got = [
        (r["doc_id"], r["score"]) for r in wand_topk(segidx, terms, k=k).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (gd, gs), (ed, es) in zip(got, expect):
        assert abs(gs - es) < 1e-6, (gd, gs, es)


def test_wand_single_term_equals_termquery(searcher, segidx):
    expect = [
        (r["doc_id"], r["score"])
        for r in searcher.search(TermQuery("window"), k=20).collect()
    ]
    got = [
        (r["doc_id"], r["score"]) for r in wand_topk(segidx, ["window"], k=20).collect()
    ]
    assert got == pytest.approx(expect)


def test_wand_actually_skips_blocks(monkeypatch):
    """Early termination must avoid decoding blocks whose upper bound
    cannot beat the threshold (the point of block-max WAND)."""
    import numpy as np
    import pandas as pd

    import lucene_solr_spark.codecs.postings as cp
    from lucene_solr_spark.codecs.postings import encode_posting_blocks
    from lucene_solr_spark.queries.wand import _topk, _wand_query
    from lucene_solr_spark.scoring.bm25 import BM25, encode_norm, idf as idf32

    # rare term: 3 docs at the START of the docID space, tf=40 (huge score)
    # common term: 2000 docs spread AFTER, tf=1 (low ub per block)
    rare_docs = np.array([0, 1, 2], dtype=np.uint64)
    rare_tfs = np.array([40, 40, 40], dtype=np.uint64)
    common_docs = np.arange(10, 2010, dtype=np.uint64)
    common_tfs = np.ones(2000, dtype=np.uint64)
    rows = []
    for term, docs, tfs in (
        ("rare", rare_docs, rare_tfs),
        ("common", common_docs, common_tfs),
    ):
        lens = np.full(docs.size, 50, dtype=np.int64)
        for rec in encode_posting_blocks(docs, tfs, doc_lens=lens):
            rec["term"] = term
            rec["kind"] = 0
            rows.append(rec)
    n_blocks = len(rows)
    pdf = pd.DataFrame(rows)

    calls = {"n": 0}  # block rows handed to the decoder
    orig = cp.decode_blocks

    def counting(base_docid, *a, **kw):
        calls["n"] += len(base_docid)
        return orig(base_docid, *a, **kw)

    monkeypatch.setattr(cp, "decode_blocks", counting)
    bm25 = BM25()
    n = 2003
    weights = {
        "rare": float(bm25.weight(idf32(3, n))),
        "common": float(bm25.weight(idf32(2000, n))),
    }
    cache = bm25.cache(np.float32(50.0))
    out = _topk(pdf, _wand_query(weights), 1, 1.2, 0.75, cache)
    assert len(out) == 1 and out["doc_id"].iloc[0] == 0
    assert calls["n"] < n_blocks, (calls, n_blocks)
