"""The analysis batch driver (analysis/analyzer.py): every chain is a
tokenizer plus a per-token function, and the driver owns positions,
stop gaps, stacked outputs and null content."""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.analysis.analyzer import (
    analyze_batch_codes,
    analyze_batch_flat,
    analyze_chain,
    english_analyze_batch_flat,
    standard_tokenizer,
    whitespace_tokenizer,
)
from lucene_solr_spark.analysis.hunspell import (
    hunspell_analyze_batch_flat,
    parse_dictionary,
)
from lucene_solr_spark.analysis.more_analyzers import NAMED_ANALYZERS
from lucene_solr_spark.analysis.morfologik import morfologik_analyze_batch_flat
from lucene_solr_spark.analysis.stempel import polish_analyze_batch_flat
from lucene_solr_spark.analysis.synonyms import (
    parse_synonym_rules,
    shingle_analyze_batch_flat,
    synonym_analyze_batch_flat,
)
from lucene_solr_spark.analysis.thai import thai_analyze_batch_flat


def _codes_as_terms(content):
    doc, codes, vocab, pos = analyze_batch_codes(content)
    return doc, vocab[codes], pos


CHAINS = {
    **NAMED_ANALYZERS,
    "standard": analyze_batch_flat,
    "standard_codes": _codes_as_terms,
    "english": english_analyze_batch_flat,
    "polish": polish_analyze_batch_flat,
    "morfologik": morfologik_analyze_batch_flat,
    "thai": thai_analyze_batch_flat,
    "hunspell": partial(
        hunspell_analyze_batch_flat,
        dictionary=parse_dictionary("SET UTF-8\n", "1\nfoo\n"),
    ),
    "synonym": partial(
        synonym_analyze_batch_flat, smap=parse_synonym_rules(["b, c"])
    ),
    "shingle": shingle_analyze_batch_flat,
}


@pytest.mark.parametrize("name", sorted(CHAINS))
def test_null_content_yields_no_tokens(name):
    """None and NaN are empty documents, never the terms "none"/"nan"."""
    doc, terms, pos = CHAINS[name](pd.Series([None, float("nan"), "", "a b"]))
    assert set(doc.tolist()) <= {3}
    assert not {"none", "nan", "None", "NaN"} & set(terms)
    assert doc.size == terms.size == pos.size


def test_token_fn_none_keeps_gap_and_list_stacks():
    def fn(tok):
        return {"drop": None, "two": ["a", "b"]}.get(tok, tok)

    doc, terms, pos = analyze_chain(
        ["x drop two y", "", "two"], whitespace_tokenizer, fn
    )
    assert list(zip(doc.tolist(), terms, pos.tolist())) == [
        (0, "x", 0),
        (0, "a", 2),
        (0, "b", 2),
        (0, "y", 3),
        (2, "a", 0),
        (2, "b", 0),
    ]
    assert doc.dtype == pos.dtype == np.int64


@pytest.mark.parametrize("extra", [[], ["é"]])
def test_standard_tokenizer_holes_keep_positions(extra):
    """Over-length tokens are holes on both tokenizer paths (the
    all-ASCII blob path, and per document once a non-ASCII doc joins)."""
    tok = partial(standard_tokenizer, max_token_length=3)
    doc, terms, pos = analyze_chain(["ab abcd x.y.z cd"] + extra, tok, str.lower)
    first = doc == 0
    assert list(terms[first]) == ["ab", "cd"]
    assert list(pos[first]) == [0, 3]


def test_codes_vocab_holds_emitted_terms_only():
    doc, codes, vocab, pos = analyze_batch_codes(pd.Series(["The Cat the cat"]))
    assert list(vocab[codes]) == ["cat", "cat"]
    assert list(pos) == [1, 3]
    assert list(vocab) == ["cat"]
