"""Shared fixtures: one local Spark session, sf0.001 corpus + oracle."""

from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_spark.session import get_spark

    spark = get_spark(app_name="tests", cores=4, shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def docs_df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def tables(docs_df):
    from lucene_solr_spark.index import build_tables

    return build_tables(docs_df, id_col="doc_id", text_col="text")


@pytest.fixture(scope="session")
def searcher(tables):
    from lucene_solr_spark.queries import IndexSearcher

    return IndexSearcher(tables)


@pytest.fixture(scope="session")
def mode_searcher(tables, searcher):
    """Scoring mode name -> an IndexSearcher over the shared tables,
    built on first use (the default ``searcher`` serves ``lucene``)."""
    from lucene_solr_spark.queries import IndexSearcher

    built = {"lucene": searcher}

    def get(mode: str) -> IndexSearcher:
        if mode not in built:
            built[mode] = IndexSearcher(tables, scoring=mode)
        return built[mode]

    yield get
    for mode, s in built.items():
        if mode != "lucene":
            s._postings.unpersist()


@pytest.fixture(scope="session")
def oracle(docs_df):
    from oracle import OracleIndex

    pdf = docs_df.select("doc_id", "text").toPandas()
    return OracleIndex.build(dict(zip(pdf["doc_id"], pdf["text"])))


def assert_rank_identical(spark_df, oracle_topk, tol=1e-9):
    """Compare (doc_id, score) lists: same docs, same order, same float32."""
    got = [(r["doc_id"], r["score"]) for r in spark_df.collect()]
    assert len(got) == len(oracle_topk), (got, oracle_topk)
    for (gd, gs), (wd, ws) in zip(got, oracle_topk):
        assert gd == wd, (got, oracle_topk)
        assert abs(gs - ws) < tol, (gd, gs, ws)


_job_groups = itertools.count()


def job_ids(spark, fn) -> list[int]:
    """The ids of the Spark jobs ``fn()`` fires, in a job group of its own."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_job_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def count_jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` fires."""
    return len(job_ids(spark, fn))
