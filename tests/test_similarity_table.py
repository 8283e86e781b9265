"""The scoring-mode table: every mode runs through every executor, and
span / TermAutomaton queries score under SimilarityBase modes."""

from __future__ import annotations

import pytest

from lucene_solr_spark.queries.parser import parse_query
from lucene_solr_spark.queries.query import (
    DisjunctionMaxQuery,
    MultiPhraseQuery,
    PhraseQuery,
    PrefixQuery,
    SynonymQuery,
    TermQuery,
)
from lucene_solr_spark.queries.spans import SpanNearQuery, SpanTermQuery
from lucene_solr_spark.queries.term_automaton import (
    TermAutomatonQuery,
    term_automaton_docs,
)
from lucene_solr_spark.scoring.similarities import SIMILARITIES

SHAPES = {
    "term": TermQuery("spark"),
    "and": parse_query("+spark +window"),
    "or": parse_query("spark vector hash"),
    "synonym": SynonymQuery(("spark", "window")),
    "phrase": PhraseQuery(("spark", "window")),
    "phrase_sloppy": PhraseQuery(("spark", "window"), (0, 1), 2),
    "multiphrase": MultiPhraseQuery((("spark", "data"), ("window",)), (0, 1)),
    "multiphrase_sloppy": MultiPhraseQuery(
        (("spark", "data"), ("window",)), (0, 1), 2
    ),
    "dismax": DisjunctionMaxQuery((TermQuery("spark"), TermQuery("window")), 0.1),
    "prefix": PrefixQuery("s"),
    "span_near": SpanNearQuery(
        (SpanTermQuery("spark"), SpanTermQuery("window")), 2, False
    ),
}


@pytest.mark.parametrize("mode", sorted(SIMILARITIES))
def test_every_mode_runs_every_shape(mode_searcher, mode):
    s = mode_searcher(mode)
    want = "float" if SIMILARITIES[mode].f32 else "double"
    for name, q in SHAPES.items():
        df = s.docs(q)
        assert df.schema["score"].dataType.simpleString() == want, name
        assert df.limit(1).collect(), name


@pytest.mark.parametrize("mode", ["lm_dirichlet", "dfr_in_l_h2"])
@pytest.mark.parametrize(
    "a,b", [("spark", "window"), ("vector", "hash"), ("window", "spark")]
)
def test_span_near_equals_phrase_under_similarity_base(mode_searcher, mode, a, b):
    """Sloppy freq at distance 0 is 1, so an ordered slop-0 SpanNear has
    the phrase freq — and scores over the same two terms' stats."""
    s = mode_searcher(mode)
    span = SpanNearQuery((SpanTermQuery(a), SpanTermQuery(b)), 0, True)
    got = {(r["doc_id"], r["score"]) for r in s.docs(span).collect()}
    want = {
        (r["doc_id"], r["score"])
        for r in s.docs(PhraseQuery((a, b), (0, 1))).collect()
    }
    assert got == want


def test_term_automaton_under_similarity_base(mode_searcher):
    q = TermAutomatonQuery()
    q.add_transition(0, 1, "spark")
    q.add_transition(1, 2, "window")
    q.set_accept(2)
    s = mode_searcher("lm_dirichlet")
    got = {
        r["doc_id"]: r["score"]
        for r in term_automaton_docs(s, q.finish()).collect()
    }
    want = {
        r["doc_id"]: r["score"]
        for r in s.docs(PhraseQuery(("spark", "window"))).collect()
    }
    assert got and got == want
