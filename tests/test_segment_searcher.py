"""SegmentSearcher (on-disk index) equivalence with the in-memory
searcher, plus pushdown-before-decode plan checks."""

from __future__ import annotations

import pytest
from conftest import count_jobs, job_ids
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import SegmentedIndex, collection_stats
from lucene_solr_spark.queries.parser import parse_query
from lucene_solr_spark.queries.segment_searcher import SegmentSearcher


@pytest.fixture(scope="module")
def seg_index(spark, docs_df, tmp_path_factory):
    idx = SegmentedIndex(spark, str(tmp_path_factory.mktemp("ssidx")))
    idx.build(
        docs_df.select("doc_id", F.col("text").alias("content")),
        num_segments=6,
    )
    return idx


@pytest.fixture(scope="module")
def seg_searcher(seg_index):
    return SegmentSearcher(seg_index)


QUERIES = [
    "spark",
    "+spark +window",
    "vector hash dup",
    "+table -vector",
    '"spark window"',
    "s*",
    "tabel~1",
]


@pytest.mark.parametrize("qs", QUERIES, ids=[q[:20] for q in QUERIES])
def test_segment_searcher_matches_memory(searcher, seg_searcher, qs):
    q = parse_query(qs)
    expect = [(r["doc_id"], r["score"]) for r in searcher.search(q, k=20).collect()]
    got = [(r["doc_id"], r["score"]) for r in seg_searcher.search(q, k=20).collect()]
    assert got == expect


def test_term_filter_pushdown_before_decode(seg_searcher):
    plan = seg_searcher._postings_for_terms(["spark"])._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "spark" in plan


def test_segment_searcher_count(searcher, seg_searcher):
    assert seg_searcher.count("window") == searcher.count("window")


class _SameHash(str):
    """A term whose hash collides with every other term's."""

    def __hash__(self):
        return 0


def test_expansion_cache_keys_by_terms_not_hash(seg_searcher):
    """Two expansions whose term tuples hash equal get their own
    postings, not each other's."""
    a, b = [_SameHash("spark")], [_SameHash("window")]
    assert hash(tuple(a)) == hash(tuple(b))
    seg_searcher._postings_for_terms(a, bulk=True).collect()
    got = seg_searcher._postings_for_terms(b, bulk=True)
    assert {r["term"] for r in got.select("term").distinct().collect()} == {"window"}


def test_open_and_block_reads_fire_no_spark_job(spark, seg_index):
    """The data directory is read with its known schema (a bare read
    infers it in a job) and the collection stats come from the manifest,
    so opening a searcher over a 6-segment index fires no job."""
    assert count_jobs(spark, seg_index.postings) == 0
    assert count_jobs(spark, lambda: SegmentSearcher(SegmentedIndex(spark, seg_index.path))) == 0


TEXTS = [
    "alpha beta", "beta gamma", "alpha gamma delta",
    "omega alpha", "omega beta omega", "gamma omega",
]


def _corpus(spark, n: int):
    return spark.createDataFrame(
        [(i, TEXTS[i]) for i in range(n)], "doc_id long, content string"
    )


def _hits(s: SegmentSearcher, q: str) -> list:
    return [(r["doc_id"], r["score"]) for r in s.search(q, k=10, use_cache=False).collect()]


def test_searcher_opened_after_rebuild_scores_the_new_commit(spark, tmp_path):
    """A rebuild adds doc 3 ("omega alpha"): a searcher opened after it
    scores omega with the rebuilt commit's stats (N=4), exactly as one
    over a fresh index object does."""
    idx = SegmentedIndex(spark, str(tmp_path))
    idx.build(_corpus(spark, 3), num_segments=2)
    assert _hits(SegmentSearcher(idx), "alpha")
    idx.build(_corpus(spark, 4), num_segments=2, resume=False)
    new = SegmentSearcher(idx)
    fresh = SegmentSearcher(SegmentedIndex(spark, str(tmp_path)))
    assert new.stats == fresh.stats and new.stats.doc_count == 4
    assert _hits(new, "omega") == _hits(fresh, "omega") != []


def test_searcher_keeps_its_commit_across_write_and_merge(spark, tmp_path):
    """A searcher opened before ``write_encoded`` of a new segment, or
    before a merge, answers as it did; one opened after sees the new
    manifest."""
    idx = SegmentedIndex(spark, str(tmp_path))
    idx.build(_corpus(spark, 4), num_segments=2)
    queries = ["omega", "alpha beta", "+gamma +omega"]
    before = SegmentSearcher(idx)
    want, stats = {q: _hits(before, q) for q in queries}, before.stats
    src = spark.createDataFrame(
        [(i, TEXTS[i], 2) for i in (4, 5)], "doc_id long, content string, segment int"
    )
    idx.write_encoded(src, expected_segments=[2])
    after_write = SegmentSearcher(idx)
    written = {q: _hits(after_write, q) for q in queries}
    idx.merge([0, 1, 2], new_segment=3)
    after_merge = SegmentSearcher(idx)
    assert {q: _hits(before, q) for q in queries} == want and before.stats == stats
    assert {q: _hits(after_write, q) for q in queries} == written
    assert after_merge.stats == after_write.stats == collection_stats(idx.manifest().values())
    assert after_merge.stats.doc_count == 6 and stats.doc_count == 4
    assert {q: _hits(after_merge, q) for q in queries} == written != want


def test_searcher_fires_no_job_per_query(spark, seg_index):
    """The first search fills the block store from the commit's files
    with no Spark job; after it, a never-seen term, ``+a +b``, ``a b c``
    and ``"a b"`` each run the fused kernel over the store with no job,
    through the query result cache or not, and so does a batch of the
    four.  The phrase's result is empty: an empty result must not cost a
    job of its own."""
    s = SegmentSearcher(seg_index)
    assert count_jobs(spark, lambda: s.search("spark", use_cache=False).collect()) == 0
    assert s._store is not None
    queries = {
        "term": "window",
        "and": "+table +query",
        "or": "merge scan hash",
        "phrase": '"window function"',
    }
    for kind, q in queries.items():
        terms = q.replace('"', "").replace("+", "").split()
        assert count_jobs(spark, lambda: s.term_statistics(terms)) == 0, kind
        assert count_jobs(spark, lambda: s.search(q, use_cache=False).collect()) == 0, kind
        assert count_jobs(spark, lambda: s.search(q).collect()) == 0, kind
    batch = {k: q.upper() for k, q in queries.items()}  # never-seen queries
    assert count_jobs(spark, lambda: s.search_batch(batch, k=10).collect()) == 0


def test_driver_placed_results_collect_with_no_job(spark, seg_index):
    """A small fused query runs its kernel on the driver while
    ``search`` / ``docs`` builds its frame: the frame is a LocalRelation,
    and collecting it fires no Spark job."""
    s = SegmentSearcher(seg_index)
    for q in ("window", "+table +query", "merge scan hash", '"spark window"'):
        for df in (s.search(q, use_cache=False), s.docs(q)):
            rows = []
            assert count_jobs(spark, lambda: rows.extend(df.collect())) == 0, q
            assert rows, q


def test_empty_results_collect_with_no_job(spark, seg_index, searcher):
    """An empty result is a LocalRelation, not an RDD-backed frame:
    collecting a cached empty ``+a +b`` (fused, and on the plan path),
    an empty plan-path ``docs`` or an empty ``wand_topk`` fires no job."""
    from lucene_solr_spark.queries.wand import wand_topk

    for s in (SegmentSearcher(seg_index), searcher):
        q = "+spark +zzqqxx"
        assert s.search(q).collect() == []  # fills the query result cache
        df = s.search(q)
        assert count_jobs(spark, df.collect) == 0
        assert df.schema == s._empty_scored().schema
    df = searcher.docs("zzqqxx")
    assert count_jobs(spark, df.collect) == 0
    df = wand_topk(seg_index, ["zzqqxx"], k=10)
    assert count_jobs(spark, df.collect) == 0


def test_wand_stats_round_is_one_single_stage_read(spark, seg_index):
    """``wand_topk`` reads its term statistics in one single-stage job
    (the blocks' term counts, summed on the driver, not a groupBy); a
    query that small then reads its blocks to the driver in one more, so
    the whole ``wand_topk(...).collect()`` is at most two jobs, each of
    one stage — no shuffle."""
    from lucene_solr_spark.queries.wand import wand_topk

    jobs = job_ids(spark, lambda: wand_topk(seg_index, ["spark", "window"], k=10).collect())
    assert 1 <= len(jobs) <= 2
    for j in jobs:
        assert len(spark.sparkContext.statusTracker().getJobInfo(j).stageIds) == 1
