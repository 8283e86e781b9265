"""Searcher-lifetime caches — queryResultCache + filterCache semantics
(SolrIndexSearcher.java:119-120; solrconfig.xml filterCache /
queryResultCache size=512, queryResultWindowSize=20)."""

from __future__ import annotations

import pytest

from lucene_solr_spark.queries import IndexSearcher
from lucene_solr_spark.queries.parser import parse_query
from lucene_solr_spark.queries.query import BooleanQuery, BooleanClause, Occur, TermQuery
from lucene_solr_spark.queries import searcher as searcher_mod
from lucene_solr_spark.queries.searcher import LRU, QUERY_RESULT_WINDOW


@pytest.fixture()
def fresh(tables):
    return IndexSearcher(tables)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_query_result_cache_hit_identical(fresh):
    q = "+spark +window vector"
    cold = _rows(fresh.search(q, k=10))
    assert len(fresh._qr_cache) == 1
    warm = _rows(fresh.search(q, k=10))
    assert warm == cold
    uncached = _rows(fresh.search(q, k=10, use_cache=False))
    assert uncached == cold


def test_query_result_cache_window_serves_smaller_k(fresh):
    # k=10 rounds up to the 20-doc window (solrconfig
    # queryResultWindowSize; SolrIndexSearcher.java:1353-1356), so a
    # later k<=20 of the same query is a pure cache hit — prove it by
    # making index execution impossible after the first search.
    q = "vector hash"
    full = _rows(fresh.search(q, k=QUERY_RESULT_WINDOW))
    fresh._exec = None  # any re-execution would now raise TypeError
    small = _rows(fresh.search(q, k=3))
    assert small == full[:3]
    assert len(fresh._qr_cache) == 1  # same rounded-window key


def test_query_result_cache_bypass_does_not_insert(fresh):
    fresh.search("spark", k=5, use_cache=False).collect()
    assert len(fresh._qr_cache) == 0


def test_query_result_cache_key_is_rewritten_query(fresh):
    # two surface forms that rewrite to the same tree share one entry
    a = _rows(fresh.search(parse_query("spark"), k=5))
    b = _rows(
        fresh.search(
            BooleanQuery(
                (BooleanClause(Occur.SHOULD, TermQuery("spark")),)
            ),
            k=5,
        )
    )
    assert a == b
    assert len(fresh._qr_cache) == 1


def test_filter_cache_reuse_and_results(fresh, searcher):
    fq = BooleanQuery(
        (
            BooleanClause(Occur.MUST, TermQuery("spark")),
            BooleanClause(Occur.FILTER, TermQuery("window")),
        )
    )
    cold = _rows(fresh.search(fq, k=10, use_cache=False))
    assert len(fresh._filter_cache) == 1
    warm = _rows(fresh.search(fq, k=10, use_cache=False))
    assert warm == cold
    assert len(fresh._filter_cache) == 1
    # a session-scoped searcher with no caches produces identical hits
    ref = _rows(searcher.search(fq, k=10, use_cache=False))
    assert warm == ref


def test_caches_are_per_searcher_instance(tables):
    s1 = IndexSearcher(tables)
    s2 = IndexSearcher(tables)
    s1.search("spark", k=5).collect()
    assert len(s1._qr_cache) == 1
    assert len(s2._qr_cache) == 0


class _Frame:
    """A persisted frame stand-in; ``fail`` makes its unpersist raise."""

    def __init__(self, fail: bool = False):
        self.persisted, self.fail = True, fail

    def unpersist(self):
        if self.fail:
            raise RuntimeError("executor lost")
        self.persisted = False


def test_lru_evicts_least_recent_and_unpersists():
    """Every searcher cache is one bounded LRU: overflowing it evicts and
    unpersists the least recently used frame, a get refreshes recency,
    and an unpersist that raises does not fail the put."""
    cache = LRU(3)
    frames = [_Frame() for _ in range(5)]
    for i, f in enumerate(frames):
        cache.put(f"t{i}", f)
    assert [f.persisted for f in frames] == [False, False, True, True, True]
    assert list(cache) == ["t2", "t3", "t4"]
    assert cache.get("t2") is frames[2] and cache.get("t0") is None
    cache.put("t5", _Frame(fail=True))
    assert not frames[3].persisted and list(cache) == ["t4", "t2", "t5"]
    cache.put("t6", (1, 2))  # values that are not frames evict too
    cache.put("t7", (1, 2))
    with pytest.warns(RuntimeWarning, match="executor lost"):
        cache.put("t8", (1, 2))  # evicts t5, whose unpersist raises
    assert list(cache) == ["t6", "t7", "t8"]


def test_stats_cache_is_bounded(tables, searcher, monkeypatch):
    """The per-term stats cache is an LRU too, and a lookup of more terms
    than it holds still answers every term."""
    monkeypatch.setattr(searcher_mod, "STATS_CACHE_SIZE", 2)
    s = IndexSearcher(tables, cache_postings=False)
    terms = ["spark", "window", "vector"]
    assert s.term_statistics(terms) == searcher.term_statistics(terms)
    assert list(s._stats_cache) == ["window", "vector"]
