"""The fused per-segment top-k kernel of SegmentSearcher against the plan
path it replaces for term, flat boolean and exact phrase queries: the
same ``(doc_id, repr(score))`` from ``search`` and ``docs``, in both
BM25 modes and in both placements of the kernel (on the driver, the
default for these small indexes, and in a mapInPandas stage, forced by
``DRIVER_MAX_BLOCKS`` = 0), and the term dictionary's expansions against
the Spark expansion."""

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


def _in_stage(df) -> bool:
    """Whether the fused kernel behind ``df`` runs in a Python stage."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan


@pytest.fixture
def in_stage(monkeypatch):
    """Forces every fused query with a block into its mapInPandas stage."""
    monkeypatch.setattr(ss, "DRIVER_MAX_BLOCKS", 0)


def _placed(fused, q, stage: bool) -> tuple[list, list]:
    """``search`` at k = 1, 10, 50 and ``docs`` of ``q``, each checked to
    run in the placement asked for."""
    tops = []
    for k in (1, 10, 50):
        df = fused.search(q, k=k, use_cache=False)
        assert _in_stage(df) == stage, k
        tops.append(_rows(df))
    df = fused.docs(q)
    assert _in_stage(df) == stage
    return tops, sorted(_rows(df))


@pytest.mark.parametrize("mode", ["lucene", "exact"])
@pytest.mark.parametrize("shape", list(SHAPES))
def test_fused_kernel_equals_plan_path(pair, shape, mode):
    fused, plan = pair(mode)
    q = SHAPES[shape]
    parsed = rewrite(fused._rewritten(q))
    assert fused._topk_query(parsed) is not None, "the plan path answered"
    tops, got = _placed(fused, q, stage=False)
    for k, top in zip((1, 10, 50), tops):
        assert top == _rows(plan.search(q, k=k, use_cache=False)), k
    assert got == sorted(_rows(plan.docs(q)))
    if not shape.startswith("df0"):
        assert got, "an empty result pins nothing"


@pytest.mark.parametrize("mode", ["lucene", "exact"])
@pytest.mark.parametrize("shape", list(SHAPES))
def test_placements_are_bit_identical(pair, shape, mode, monkeypatch):
    """The kernel on the driver and in its mapInPandas stage return the
    same ``(doc_id, repr(score))`` rows for ``search`` and ``docs``."""
    fused, _ = pair(mode)
    q = SHAPES[shape]
    driver = _placed(fused, q, stage=False)
    monkeypatch.setattr(ss, "DRIVER_MAX_BLOCKS", 0)
    assert _placed(fused, q, stage=True) == driver


BATCH = {name: SHAPES[name] for name in ("term", "and", "or3", "phrase", "and-not", "df0-must")}
BATCH["plan"] = "spark~1"  # not covered: takes the plan path in the same batch


def _batch_rows(searcher, queries) -> dict[str, list]:
    by_q: dict[str, list] = {}
    for r in searcher.search_batch(queries, k=10).collect():
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], repr(r["score"])))
    return {qid: sorted(rows, key=lambda t: (-float(t[1]), t[0])) for qid, rows in by_q.items()}


def test_batch_equals_single_queries(pair):
    fused, _ = pair("lucene")
    got = _batch_rows(fused, BATCH)
    for qid, q in BATCH.items():
        assert got.get(qid, []) == _rows(fused.search(q, k=10, use_cache=False)), qid


@pytest.mark.parametrize("mode", ["lucene", "exact"])
def test_batch_placements_are_bit_identical(pair, mode, monkeypatch):
    """A batch of covered queries on the driver is one ranked
    LocalRelation; in its stage, one kernel job plus the per-query
    ranking.  Both give every query the same rows, alone or beside a
    plan-path query."""
    fused, _ = pair(mode)
    covered = {qid: q for qid, q in BATCH.items() if qid != "plan"}
    driver = {
        "covered": _batch_rows(fused, covered),
        "mixed": _batch_rows(fused, BATCH),
    }
    assert not _in_stage(fused.search_batch(covered, k=10))
    monkeypatch.setattr(ss, "DRIVER_MAX_BLOCKS", 0)
    assert _in_stage(fused.search_batch(covered, k=10))
    assert {"covered": _batch_rows(fused, covered), "mixed": _batch_rows(fused, BATCH)} == driver
    assert driver["covered"] == {qid: rows for qid, rows in driver["mixed"].items() if qid != "plan"}


def test_query_past_the_bound_runs_in_a_stage(fused_index, monkeypatch):
    """A query whose terms have more blocks than ``DRIVER_MAX_BLOCKS``
    runs the mapInPandas stage; at the bound it runs on the driver —
    for ``search``, ``docs``, ``search_batch`` and ``wand_topk``, whose
    stats read counts the same blocks."""
    from lucene_solr_spark.queries.wand import wand_topk

    s = SegmentSearcher(fused_index)
    terms = ["spark", "window"]
    assert s._term_dictionary() is not None
    blocks = sum(int(s._dictionary[3][i]) for i in s._lookup(terms))
    assert blocks >= 2
    for bound, stage in ((blocks, False), (blocks - 1, True)):
        monkeypatch.setattr(ss, "DRIVER_MAX_BLOCKS", bound)
        for df in (
            s.search("+spark +window", k=10, use_cache=False),
            s.docs("spark window"),
            s.search_batch({"a": "spark", "b": "window"}, k=10),
            wand_topk(fused_index, terms, k=10),
        ):
            assert _in_stage(df) == stage, bound


TIES = ["alpha beta", "gamma", "delta", "alpha beta", "gamma", "alpha beta"]


def _check_ties(spark, tmp_path, mode, stage):
    idx = SegmentedIndex(spark, str(tmp_path))
    idx.build(
        spark.createDataFrame(list(enumerate(TIES)), "doc_id long, content string"),
        num_segments=3,
    )
    assert len(idx.manifest()) == 3
    fused, plan = SegmentSearcher(idx, scoring=mode), PlanSearcher(idx, scoring=mode)
    assert fused._enc.rdd.getNumPartitions() == (3 if ss.BLOCKS_PER_PARTITION == 1 else 1)
    for q in ("alpha", "alpha gamma", "+alpha +beta", '"alpha beta"'):
        for k in (1, 2, 3):
            df = fused.search(q, k=k, use_cache=False)
            assert _in_stage(df) == stage
            assert _rows(df) == _rows(plan.search(q, k=k, use_cache=False)), (q, k)
        top = [d for d, _ in _rows(fused.search(q, k=3, use_cache=False))]
        assert top == ([1, 4, 0] if "gamma" in q else [0, 3, 5])


@pytest.mark.parametrize("blocks_per_partition", [1, ss.BLOCKS_PER_PARTITION])
@pytest.mark.parametrize("mode", ["lucene", "exact"])
def test_equal_scores_across_segments_keep_doc_order(
    spark, tmp_path, monkeypatch, mode, blocks_per_partition
):
    """Docs 0, 3 and 5 are the same text in three segments: equal scores
    rank by doc_id (TopDocs.merge), in every k, with the kernel on the
    driver."""
    monkeypatch.setattr(ss, "BLOCKS_PER_PARTITION", blocks_per_partition)
    _check_ties(spark, tmp_path, mode, stage=False)


@pytest.mark.parametrize("blocks_per_partition", [1, ss.BLOCKS_PER_PARTITION])
@pytest.mark.parametrize("mode", ["lucene", "exact"])
def test_equal_scores_across_segments_keep_doc_order_in_a_stage(
    spark, tmp_path, monkeypatch, in_stage, mode, blocks_per_partition
):
    """The same ties with the kernel in its stage, whether the segments
    share a partition of the persisted rows or not."""
    monkeypatch.setattr(ss, "BLOCKS_PER_PARTITION", blocks_per_partition)
    _check_ties(spark, tmp_path, mode, stage=True)


@pytest.fixture(scope="module")
def interleaved(spark, tmp_path_factory):
    """30 docs in 3 segments (docs 0–9, 10–19, 20–29), then segments 0 and
    2 merged into segment 10, whose docID range straddles segment 1.
    "common" is in every doc, i % 3 + 1 times; "edge" in docs 0 and 29."""
    rows = [
        (i, "common " * (i % 3 + 1) + f"w{i}" + (" edge" if i in (0, 29) else ""))
        for i in range(30)
    ]
    idx = SegmentedIndex(spark, str(tmp_path_factory.mktemp("interleaved")))
    idx.build(spark.createDataFrame(rows, "doc_id long, content string"), num_segments=3)
    idx.merge([0, 2], 10)
    return idx


INTERLEAVED = [
    "common", "common edge", "+common +w17", "+common -edge", '"common common"', "w5 w25 edge",
]


@pytest.mark.parametrize("stage", [False, True])
@pytest.mark.parametrize("mode", ["lucene", "exact"])
def test_interleaved_segments_equal_plan_path(interleaved, monkeypatch, mode, stage):
    """One kernel call spans segments whose docID ranges interleave: its
    ``search`` at k = 1, 10, 50 and ``docs`` equal the plan path's, on
    the driver and in the stage."""
    man = interleaved.manifest()
    assert sorted(man) == [1, 10]
    assert man[10].min_docid < man[1].min_docid < man[1].max_docid < man[10].max_docid
    if stage:
        monkeypatch.setattr(ss, "DRIVER_MAX_BLOCKS", 0)
    fused = SegmentSearcher(interleaved, scoring=mode)
    plan = PlanSearcher(interleaved, scoring=mode)
    for q in INTERLEAVED:
        tops, got = _placed(fused, q, stage)
        for k, top in zip((1, 10, 50), tops):
            assert top == _rows(plan.search(q, k=k, use_cache=False)), (q, k)
        assert got == sorted(_rows(plan.docs(q))), q
        assert got, q


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
