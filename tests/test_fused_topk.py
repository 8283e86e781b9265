"""The fused per-segment top-k kernel of SegmentSearcher against the plan
path it replaces for term, flat boolean and exact phrase queries: the
same ``(doc_id, repr(score))`` from ``search`` and ``docs``, in both
BM25 modes, and the term dictionary's expansions against the Spark
expansion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import SegmentedIndex
from lucene_solr_spark.queries import segment_searcher as ss
from lucene_solr_spark.queries import searcher as plain
from lucene_solr_spark.queries.query import (
    BooleanClause,
    BooleanQuery,
    BoostQuery,
    Occur,
    PrefixQuery,
    TermQuery,
    TermRangeQuery,
)
from lucene_solr_spark.queries.rewriter import rewrite
from lucene_solr_spark.queries.searcher import IndexSearcher
from lucene_solr_spark.queries.segment_searcher import SegmentSearcher


class PlanSearcher(SegmentSearcher):
    """The same searcher with the fused kernel turned off."""

    def _topk_query(self, q):
        return None


def _should(*terms, msm=0):
    return BooleanQuery(
        tuple(BooleanClause(Occur.SHOULD, TermQuery(t)) for t in terms), msm
    )


SHAPES = {
    "term": "spark",
    "and": "+spark +window",
    "or3": "vector hash dup",
    "and-not": "+table -vector",
    "msm2of3": _should("vector", "hash", "dup", msm=2),
    "boosted": "+table^2 query^0.5 -vector",
    "boosted-term": BoostQuery(TermQuery("window"), 3.0),
    "phrase": '"spark window"',
    "phrase-repeat": '"data data"',
    "df0-should": "zzqqxx spark",
    "df0-must": "+zzqqxx spark",
}


@pytest.fixture(scope="module")
def fused_index(spark, docs_df, tmp_path_factory):
    idx = SegmentedIndex(spark, str(tmp_path_factory.mktemp("fusedidx")))
    idx.build(docs_df.select("doc_id", F.col("text").alias("content")), num_segments=6)
    return idx


@pytest.fixture(scope="module")
def pair(fused_index):
    made = {}

    def get(mode):
        if mode not in made:
            made[mode] = (
                SegmentSearcher(fused_index, scoring=mode),
                PlanSearcher(fused_index, scoring=mode),
            )
        return made[mode]

    return get


def _rows(df):
    return [(r["doc_id"], repr(r["score"])) for r in df.collect()]


@pytest.mark.parametrize("mode", ["lucene", "exact"])
@pytest.mark.parametrize("shape", list(SHAPES))
def test_fused_kernel_equals_plan_path(pair, shape, mode):
    fused, plan = pair(mode)
    q = SHAPES[shape]
    parsed = rewrite(fused._rewritten(q))
    assert fused._topk_query(parsed) is not None, "the plan path answered"
    for k in (1, 10, 50):
        got = _rows(fused.search(q, k=k, use_cache=False))
        assert got == _rows(plan.search(q, k=k, use_cache=False)), k
    got = sorted(_rows(fused.docs(q)))
    assert got == sorted(_rows(plan.docs(q)))
    if not shape.startswith("df0"):
        assert got, "an empty result pins nothing"


def test_batch_equals_single_queries(pair):
    fused, _ = pair("lucene")
    queries = {name: SHAPES[name] for name in ("term", "and", "or3", "phrase", "and-not")}
    queries["plan"] = "spark~1"  # not covered: takes the plan path in the same batch
    by_q: dict[str, list] = {}
    for r in fused.search_batch(queries, k=10).collect():
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], repr(r["score"])))
    for qid, q in queries.items():
        solo = _rows(fused.search(q, k=10, use_cache=False))
        got = sorted(by_q.get(qid, []), key=lambda t: (-float(t[1]), t[0]))
        assert got == solo, qid


TIES = ["alpha beta", "gamma", "delta", "alpha beta", "gamma", "alpha beta"]


@pytest.mark.parametrize("blocks_per_partition", [1, ss.BLOCKS_PER_PARTITION])
@pytest.mark.parametrize("mode", ["lucene", "exact"])
def test_equal_scores_across_segments_keep_doc_order(
    spark, tmp_path, monkeypatch, mode, blocks_per_partition
):
    """Docs 0, 3 and 5 are the same text in three segments: equal scores
    rank by doc_id (TopDocs.merge), in every k, whether the segments
    share a partition of the persisted rows or not."""
    monkeypatch.setattr(ss, "BLOCKS_PER_PARTITION", blocks_per_partition)
    idx = SegmentedIndex(spark, str(tmp_path))
    idx.build(
        spark.createDataFrame(list(enumerate(TIES)), "doc_id long, content string"),
        num_segments=3,
    )
    assert len(idx.manifest()) == 3
    fused, plan = SegmentSearcher(idx, scoring=mode), PlanSearcher(idx, scoring=mode)
    assert fused._enc.rdd.getNumPartitions() == (3 if blocks_per_partition == 1 else 1)
    for q in ("alpha", "alpha gamma", "+alpha +beta", '"alpha beta"'):
        for k in (1, 2, 3):
            got = _rows(fused.search(q, k=k, use_cache=False))
            assert got == _rows(plan.search(q, k=k, use_cache=False)), (q, k)
        top = [d for d, _ in _rows(fused.search(q, k=3, use_cache=False))]
        assert top == ([1, 4, 0] if "gamma" in q else [0, 3, 5])


WORDS = [
    "apple", "apply", "apricot", "banana", "band", "bandana", "café", "cafés",
    "caff", "naïve", "naive", "日本", "日本語", "zebra", "ζeta", "ωmega",
]


@pytest.fixture(scope="module")
def words_searcher(spark, tmp_path_factory):
    idx = SegmentedIndex(spark, str(tmp_path_factory.mktemp("wordsidx")))
    texts = [" ".join(WORDS[i::3]) for i in range(3)]
    idx.build(
        spark.createDataFrame(list(enumerate(texts)), "doc_id long, content string"),
        num_segments=2,
    )
    return SegmentSearcher(idx)


EXPANSIONS = [
    PrefixQuery(""),
    PrefixQuery("ap"),
    PrefixQuery("band"),
    PrefixQuery("caf"),
    PrefixQuery("café"),
    PrefixQuery("日本"),
    PrefixQuery("ζ"),
    PrefixQuery("\U0010ffff"),
    PrefixQuery("zzz"),
    TermRangeQuery(None, None),
    TermRangeQuery("b", "d"),
    TermRangeQuery("band", "café", include_lower=False, include_upper=False),
    TermRangeQuery("band", "café", include_lower=True, include_upper=True),
    TermRangeQuery(None, "banana", include_upper=False),
    TermRangeQuery("naive", None, include_lower=False),
    TermRangeQuery("z", "a"),
    TermRangeQuery("日本", "日本語"),
]


@pytest.mark.parametrize("q", EXPANSIONS, ids=repr)
def test_dictionary_expansion_equals_spark_expansion(words_searcher, q):
    assert words_searcher._term_dictionary() is not None
    got = words_searcher._expand_terms(q)
    assert got == IndexSearcher._expand_terms(words_searcher, q)
    assert got == sorted(got)
    if q == PrefixQuery(""):
        assert {"apple", "café", "naïve", "zebra"} <= set(got)


def test_dictionary_expansion_keeps_the_first_terms(words_searcher, monkeypatch):
    monkeypatch.setattr(ss, "MAX_EXPANSION_TERMS", 3)
    monkeypatch.setattr(plain, "MAX_EXPANSION_TERMS", 3)
    for q in (PrefixQuery(""), PrefixQuery("ba"), TermRangeQuery("b", None)):
        got = words_searcher._expand_terms(q)
        assert len(got) == 3 and got == IndexSearcher._expand_terms(words_searcher, q)


def test_statistics_past_the_dictionary_cap_collect_per_query(fused_index, monkeypatch):
    held = SegmentSearcher(fused_index)
    assert held._term_dictionary() is not None
    monkeypatch.setattr(ss, "DICTIONARY_MAX_TERMS", 0)
    collected = SegmentSearcher(fused_index)
    terms = ["spark", "window", "zzqqxx", "the"]
    assert collected._term_dictionary() is None
    assert collected.term_statistics(terms) == held.term_statistics(terms)
    q = PrefixQuery("s")
    assert collected._expand_terms(q) == held._expand_terms(q)
