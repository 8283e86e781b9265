"""Porter stemmer — golden pairs from the published algorithm (Porter
1980) including the revised-variant rules the reference ships
(analysis/en/PorterStemmer.java: bli→ble, logi→log), plus the
EnglishAnalyzer chain end-to-end."""

from __future__ import annotations

import pytest

from lucene_solr_spark.analysis.porter import porter_stem, strip_possessive

GOLDEN = {
    # step 1a
    "caresses": "caress",
    "ponies": "poni",
    "ties": "ti",
    "caress": "caress",
    "cats": "cat",
    # step 1b (examples from the reference Javadoc, PorterStemmer.java:246-263)
    "feed": "feed",
    "agreed": "agre",
    "disabled": "disabl",
    "matting": "mat",
    "mating": "mate",
    "meeting": "meet",
    "milling": "mill",
    "messing": "mess",
    "meetings": "meet",
    # step 1c
    "happy": "happi",
    "sky": "sky",
    # step 2 (double suffixes)
    "relational": "relat",
    "conditional": "condit",
    "rational": "ration",
    "valenci": "valenc",
    "digitizer": "digit",
    "radicalli": "radic",
    "differentli": "differ",
    "analogousli": "analog",
    "vietnamization": "vietnam",
    "predication": "predic",
    "operator": "oper",
    "feudalism": "feudal",
    "decisiveness": "decis",
    "hopefulness": "hope",
    "formaliti": "formal",
    # revised-variant rules
    "conformabli": "conform",
    "homologi": "homolog",
    # steps 3-5
    "triplicate": "triplic",
    "formative": "form",
    "formalize": "formal",
    "electriciti": "electr",
    "electrical": "electr",
    "hopeful": "hope",
    "goodness": "good",
    "adjustable": "adjust",
    "defensible": "defens",
    "replacement": "replac",
    "adjustment": "adjust",
    "dependent": "depend",
    "adoption": "adopt",
    "communism": "commun",
    "activate": "activ",
    "effective": "effect",
    "rate": "rate",
    "cease": "ceas",
    "controll": "control",
    "roll": "roll",
    # length guard
    "is": "is",
    "be": "be",
}


@pytest.mark.parametrize("word,stem", sorted(GOLDEN.items()))
def test_golden_stem(word, stem):
    assert porter_stem(word) == stem


def test_morphological_family_collapses():
    assert len({porter_stem(w) for w in ("merge", "merges", "merged", "merging")}) == 1


def test_strip_possessive():
    assert strip_possessive("spark's") == "spark"
    assert strip_possessive("spark’s") == "spark"
    assert strip_possessive("sparks") == "sparks"


def test_english_analyzer_chain(spark):
    from lucene_solr_spark.index import build_tables
    from lucene_solr_spark.queries import IndexSearcher, TermQuery

    rows = [
        (0, "merging the sorted segments"),
        (1, "merged segment files"),
        (2, "a merge of two indexes"),
        (3, "it's the tokenizer's job"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = build_tables(df, id_col="doc_id", text_col="text", analyzer="english")
    s = IndexSearcher(t, cache_postings=False)
    # all morphological variants of 'merge' hit via the stemmed term
    got = {r["doc_id"] for r in s.docs(TermQuery(porter_stem("merge"))).collect()}
    assert got == {0, 1, 2}
    # possessives stripped, stopwords ("it's" → "it" → dropped... "it"
    # IS a stopword; "tokenizer's" → stemmed tokenizer stem) hold
    got2 = {r["doc_id"] for r in s.docs(TermQuery(porter_stem("tokenizer"))).collect()}
    assert got2 == {3}


def test_complete_porter_vocabulary():
    """The reference's COMPLETE porterTestData.zip vocabulary (23,531
    words, en/TestPorterStemFilter.java testVocabulary) — every word
    asserted, not just the inline goldens."""
    import gzip
    from pathlib import Path

    pairs = []
    with gzip.open(
        Path("fixtures/snowball_vocab/porter_en.tsv.gz"),
        "rt",
        encoding="utf-8",
    ) as f:
        for line in f:
            if line.startswith("#"):
                continue
            w, s = line.rstrip("\n").split("\t")
            pairs.append((w, s))
    assert len(pairs) == 23531
    bad = [(w, want, porter_stem(w)) for w, want in pairs
           if porter_stem(w) != want]
    assert bad == [], f"{len(bad)} mismatches, first: {bad[:5]}"


def test_english_chain_positions():
    """Possessive strip runs before stop ("it's" → "it" → stopped), stop
    gaps are kept, and an over-length token keeps its position."""
    import pandas as pd

    from lucene_solr_spark.analysis.analyzer import english_analyze_batch_flat

    doc, terms, pos = english_analyze_batch_flat(
        pd.Series(["it's the tokenizer's merging", "x" * 256 + " merged segments"])
    )
    assert list(zip(doc.tolist(), terms, pos.tolist())) == [
        (0, porter_stem("tokenizer"), 2),
        (0, porter_stem("merging"), 3),
        (1, porter_stem("merged"), 1),
        (1, porter_stem("segments"), 2),
    ]
