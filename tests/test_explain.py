"""explain() consistency — the CheckHits.checkExplanations discipline
(lucene/test-framework/.../search/CheckHits.java: every hit's explain()
value must equal its score())."""

from __future__ import annotations

import pytest

from lucene_solr_spark.queries.parser import parse_query
from lucene_solr_spark.scoring.similarities import SIMILARITIES


QUERIES = ["spark", "+spark +window", "spark vector hash", "+table -vector"]
CASES = [(qs, mode) for mode in sorted(SIMILARITIES) for qs in QUERIES]


@pytest.mark.parametrize(
    "qs,mode",
    CASES,
    # the default mode keeps the bare query id
    ids=[qs if mode == "lucene" else f"{qs}-{mode}" for qs, mode in CASES],
)
def test_explain_matches_score(mode_searcher, qs, mode):
    searcher = mode_searcher(mode)
    hits = searcher.search(parse_query(qs), k=5).collect()
    assert hits
    for r in hits:
        ex = searcher.explain(qs, r["doc_id"])
        assert ex["value"] == pytest.approx(r["score"], abs=1e-6), (
            r["doc_id"], ex,
        )


def test_explain_non_matching_doc_is_zero(searcher):
    hits = {r["doc_id"] for r in searcher.docs(parse_query("vector")).collect()}
    missing = next(d for d in range(500) if d not in hits)
    ex = searcher.explain("vector", missing)
    assert ex["value"] == 0.0


def test_explain_structure(searcher):
    hits = searcher.search(parse_query("spark"), k=1).collect()
    ex = searcher.explain("spark", hits[0]["doc_id"])
    descs = [d["description"] for d in ex["details"]]
    assert any(d.startswith("idf") for d in descs)
    assert any(d.startswith("tf") for d in descs)


@pytest.mark.parametrize("mode", ["lucene", "exact"])
@pytest.mark.parametrize("boost", [3.0, 0.5])
def test_explain_boosted_term_equals_search_score(mode_searcher, mode, boost):
    """A boosted TermQuery's explanation takes its weight from the mode's
    Similarity, as scoring does: the root value is the search score to
    the bit."""
    from lucene_solr_spark.queries.query import BoostQuery, TermQuery

    searcher = mode_searcher(mode)
    q = BoostQuery(TermQuery("window"), boost)
    hits = searcher.search(q, k=5).collect()
    assert hits
    for r in hits:
        ex = searcher.explain(q, r["doc_id"])
        assert ex["value"] == r["score"], (r["doc_id"], ex)
        assert ex["details"][0]["value"] == boost
