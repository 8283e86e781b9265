"""Segmented build / manifest / resume / merge / check_index.

Mirrors the reference's index-layer tests: segment immutability +
commit points (index/SegmentInfos.java), merge correctness
(index/SegmentMerger.java, TestSegmentMerger-style), CheckIndex
invariants (index/CheckIndex.java).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.codecs.postings import decode_posting_block
from lucene_solr_spark.index.builder import build_tables
from lucene_solr_spark.index.segments import SegmentedIndex


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id"), F.col("text").alias("content")
    )


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("segidx"))
    idx = SegmentedIndex(spark, path)
    idx.build(corpus, num_segments=8)
    return idx


def _decoded_postings(idx) -> pd.DataFrame:
    rows = idx.postings().orderBy("term", "segment", "base_docid").collect()
    recs = []
    for r in rows:
        d, t = decode_posting_block(
            r["base_docid"], r["count"], r["docs_bin"], r["tfs_bin"]
        )
        for doc, tf in zip(d.tolist(), t.tolist()):
            recs.append((r.term, int(doc), int(tf)))
    return pd.DataFrame(recs, columns=["term", "doc_id", "tf"])


def test_segment_blocks_match_dataframe_index(spark, corpus, built):
    """Decoded segment postings == the DataFrame-path postings."""
    t = build_tables(corpus, id_col="doc_id", text_col="content", cache=False)
    expect = (
        t.postings.select("term", "doc_id", "tf")
        .toPandas()
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)
    )
    got = (
        _decoded_postings(built)
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect.astype(got.dtypes.to_dict()))


def test_manifest_and_checkindex(built):
    man = built.manifest()
    assert len(man) == 8
    assert sum(i.num_docs for i in man.values()) == 500
    report = built.check_index()
    assert report["problems"] == []


def test_term_stats_from_block_metadata(spark, corpus, built):
    t = build_tables(corpus, id_col="doc_id", text_col="content", cache=False)
    expect = {
        r["term"]: (r["df"], r["ttf"]) for r in t.term_stats.collect()
    }
    got = {
        r["term"]: (r["df"], r["ttf"]) for r in built.term_stats().collect()
    }
    assert got == expect


def test_resume_skips_done_segments(spark, corpus, tmp_path):
    idx = SegmentedIndex(spark, str(tmp_path))
    idx.build(corpus, num_segments=4)
    man1 = idx.manifest()
    # drop one manifest entry to simulate a crash before commit
    idx._drop_manifest(2)
    # resume must rebuild ONLY segment 2 (dynamic partition overwrite
    # replaces any crash-before-commit leftovers); others byte-identical
    idx.build(corpus, num_segments=4, resume=True)
    man2 = idx.manifest()
    assert set(man2) == set(man1)
    for s in man1:
        assert man2[s].num_postings == man1[s].num_postings
    assert idx.check_index()["problems"] == []
    total = idx.postings().groupBy().agg(F.sum("count")).collect()[0][0]
    assert total == sum(i.num_postings for i in man2.values())


def test_merge_preserves_postings(spark, corpus, tmp_path):
    idx = SegmentedIndex(spark, str(tmp_path))
    idx.build(corpus, num_segments=6)
    before = _decoded_postings(idx)
    plans = idx.plan_merges(max_merge_at_once=3, segs_per_tier=2)
    assert plans, "expected at least one merge plan"
    next_id = max(idx.manifest()) + 1
    for plan in plans:
        idx.merge(plan, next_id)
        next_id += 1
    assert len(idx.manifest()) <= 4
    after = _decoded_postings(idx)
    a = after.sort_values(["term", "doc_id"]).reset_index(drop=True)
    b = before.sort_values(["term", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert idx.check_index()["problems"] == []


def test_merged_blocks_sorted(spark, corpus, tmp_path):
    idx = SegmentedIndex(spark, str(tmp_path))
    idx.build(corpus, num_segments=6)
    plans = idx.plan_merges(max_merge_at_once=6, segs_per_tier=1)
    next_id = max(idx.manifest()) + 1
    for plan in plans:
        idx.merge(plan, next_id)
        next_id += 1
    rows = idx.postings().orderBy("term", "base_docid").collect()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    for term, rs in by_term.items():
        docs = np.concatenate(
            [
                decode_posting_block(
                    r["base_docid"], r["count"], r["docs_bin"], r["tfs_bin"]
                )[0]
                for r in sorted(rs, key=lambda x: x["base_docid"])
            ]
        ).astype(np.int64)
        assert (np.diff(docs) > 0).all(), f"unsorted merged postings for {term}"


def test_merge_buckets_grow_with_block_count():
    """A merge's term-hash buckets follow the merged segments' block
    count, so each bucket decodes about _MERGE_GROUP_BLOCKS blocks."""
    from lucene_solr_spark.index.segments import (
        _MERGE_GROUP_BLOCKS as G,
        SegmentInfo,
        _merge_buckets,
    )

    def infos(*blocks):
        return [SegmentInfo(i, 1, 1, 1, b, 0, 0, 1, 0.0) for i, b in enumerate(blocks)]

    assert _merge_buckets(infos(0, 0)) == 1
    assert _merge_buckets(infos(1, G - 1)) == 1
    assert _merge_buckets(infos(G, 1)) == 2
    assert _merge_buckets(infos(*[G] * 10)) == 10
    assert _merge_buckets(infos(100 * G, 3 * G + 1)) == 104


def test_salted_merge_preserves_postings(spark, corpus, tmp_path, monkeypatch):
    """Hot-term salting (north rule): force salting with a tiny
    hot_blocks threshold, and many term-hash buckets with a tiny bucket
    size; merged index must be identical and blocks of each term
    strictly sorted when ordered by base_docid."""
    from lucene_solr_spark.index import segments

    idx = SegmentedIndex(spark, str(tmp_path))
    idx.build(corpus, num_segments=6)
    before = _decoded_postings(idx)
    monkeypatch.setattr(segments, "_MERGE_GROUP_BLOCKS", 20)
    assert segments._merge_buckets(list(idx.manifest().values())) > 4
    idx.merge(sorted(idx.manifest()), new_segment=100, salts=3, hot_blocks=1)
    after = _decoded_postings(idx)
    a = after.sort_values(["term", "doc_id"]).reset_index(drop=True)
    b = before.sort_values(["term", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert idx.check_index()["problems"] == []
    # salted groups must produce >1 writer task for hot terms: at least
    # one term ends up with multiple tail (<128) blocks
    rows = idx.postings().filter(F.col("count") < 128).groupBy("term").count()
    assert rows.filter(F.col("count") > 1).count() > 0


def test_commit_points_survive_merge(spark, tmp_path):
    """SnapshotDeletionPolicy/IndexCommit analog: a frozen commit stays
    readable after the live manifest merges past it; both views serve
    identical stats; an unknown generation raises."""
    import pytest

    from lucene_solr_spark.index import assign_doc_ids
    from lucene_solr_spark.index.segments import (
        SegmentedIndex,
        commit_point,
        manifest_at,
        postings_at,
    )
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = SegmentedIndex(spark, str(tmp_path / "tt"))
    idx.build(
        docs.select("doc_id", F.col("text").alias("content")), num_segments=6
    )
    g1 = commit_point(idx)
    nxt = max(idx.manifest()) + 1
    for plan in idx.plan_merges(max_merge_at_once=6, segs_per_tier=1):
        idx.merge(plan, nxt)
        nxt += 1
    g2 = commit_point(idx)
    assert len(manifest_at(idx, g2)) < len(manifest_at(idx, g1))

    def stats(gen):
        return {
            (r["term"], r["df"], r["ttf"])
            for r in postings_at(idx, gen)
            .groupBy("term")
            .agg(F.sum("count").alias("df"), F.sum("sum_tf").alias("ttf"))
            .collect()
        }

    assert stats(g1) == stats(g2)
    with pytest.raises(FileNotFoundError):
        manifest_at(idx, 99)


@pytest.fixture()
def thirty(spark, tmp_path):
    """30 docs in 3 segments (docs 0–9, 10–19, 20–29).  "common" is in
    every doc, repeated i % 3 + 1 times before a per-doc word; "edge"
    is in docs 0 and 29 only."""
    rows = [
        (i, "common " * (i % 3 + 1) + f"w{i}" + (" edge" if i in (0, 29) else ""))
        for i in range(30)
    ]
    idx = SegmentedIndex(spark, str(tmp_path / "thirty"))
    idx.build(spark.createDataFrame(rows, "doc_id long, content string"), num_segments=3)
    return idx


def test_non_adjacent_merges_keep_postings_sorted(thirty):
    """Merging segments 0 and 2 gives a segment whose docID range spans
    segment 1; merging that with segment 1 must still write each term's
    postings in docID order, positions carried along."""
    from lucene_solr_spark.queries.query import PhraseQuery, TermQuery
    from lucene_solr_spark.queries.segment_searcher import SegmentSearcher

    thirty.merge([0, 2], 10)
    assert thirty.check_index()["problems"] == []
    # salting every term into docs 0–9, 10–19, 20–29: segment 10's
    # blocks (docs 0–9 and 20–29) go to all three salts, and salt 1
    # keeps none of their docs
    thirty.merge([10, 1], 11, salts=3, hot_blocks=0)
    assert thirty.check_index()["problems"] == []
    blocks = thirty.postings().toPandas().sort_values(["term", "base_docid"])
    for term, g in blocks.groupby("term"):
        docs = np.concatenate([
            decode_posting_block(*r)[0]
            for r in zip(g["base_docid"], g["count"], g["docs_bin"], g["tfs_bin"])
        ]).astype(np.int64)
        assert (np.diff(docs) > 0).all(), term
    assert blocks.loc[blocks["term"] == "common", "base_docid"].tolist() == [0, 10, 20]
    s = SegmentSearcher(thirty)
    assert sorted(r["doc_id"] for r in s.docs(TermQuery("common")).collect()) == list(range(30))
    assert sorted(r["doc_id"] for r in s.docs(TermQuery("edge")).collect()) == [0, 29]
    assert [r["doc_id"] for r in s.docs(PhraseQuery(("common", "w17"))).collect()] == [17]
    got = {
        r["doc_id"]: (r["tf"], list(r["positions"]))
        for r in thirty.to_tables().postings.filter(F.col("term") == "common").collect()
    }
    assert got == {i: (i % 3 + 1, list(range(i % 3 + 1))) for i in range(30)}


def test_check_index_reports_doc_in_two_segments(thirty):
    """Doc 5 written again as its own segment is in two live segments."""
    spark = thirty.spark
    src = spark.createDataFrame([(5, "common w5", 7)], "doc_id long, content string, segment int")
    thirty.write_encoded(src, expected_segments=[7])
    problems = thirty.check_index()["problems"]
    assert problems == ["1 docIDs in more than one segment (doc 5 in segments 0 and 7)"]
