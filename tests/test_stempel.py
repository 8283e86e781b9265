"""Stempel Polish stemmer (analysis/stempel.py) — the Egothor trie
runtime over the reference's own trained table, pinned on the
TestPolishAnalyzer goldens."""

from __future__ import annotations

import numpy as np

from lucene_solr_spark.analysis.stempel import (
    POLISH_STOP_WORDS,
    diff_apply,
    load_stempel_table,
    polish_analyze_batch_flat,
    polish_token,
    stempel_stem,
)


def test_table_structure():
    """stemmer_20000.tbl parses to the MultiTrie2 shape the reference
    loads: method "-0ME2" → 8 backward sub-tries with patch commands."""
    t = load_stempel_table()
    assert len(t.tries) == 8
    assert t.forward is False
    for sub in t.tries:
        assert sub.forward is False
        assert len(sub.cmds) > 0
        assert len(sub.rows) > 0


def test_polish_analyzer_goldens():
    """TestPolishAnalyzer.testBasics: studenta/studenci → student;
    "był" is a stopword."""
    assert polish_token("studenta") == "student"
    assert polish_token("studenci") == "student"
    assert stempel_stem("studentach") == "student"
    assert stempel_stem("studentami") == "student"
    assert polish_token("był") is None
    assert "i" in POLISH_STOP_WORDS and "aby" in POLISH_STOP_WORDS


def test_exclusion_set():
    """TestPolishAnalyzer.testExclude: an excluded token skips the
    stemmer (SetKeywordMarkerFilter), its sibling still stems."""
    ex = frozenset(["studenta"])
    assert polish_token("studenta", ex) == "studenta"
    assert polish_token("studenci", ex) == "student"


def test_min_length_passthrough():
    """StempelFilter.DEFAULT_MIN_LENGTH = 3: tokens of length ≤ 3 are
    returned unchanged (never stemmed)."""
    assert polish_token("kot") == "kot"
    assert polish_token("dom") == "dom"


def test_diff_apply_commands():
    """Diff.apply analytic cases: R replaces at the cursor, D deletes
    par_num chars, I inserts after, '-' moves the cursor left; an
    out-of-bounds op aborts keeping the partial result."""
    assert diff_apply("abcd", "Ra") == "abca"
    assert diff_apply("abcd", "Da") == "abc"
    assert diff_apply("abcd", "Db") == "ab"
    assert diff_apply("abcd", "Ia") == "abcda"
    # '-b': pos = 3-2+1 = 2, then the per-command pos-- → 1; R lands
    # at index 1 (the cursor decrement applies after EVERY command)
    assert diff_apply("abcd", "-bRz") == "azcd"
    # out-of-bounds delete: partial application (nothing applied)
    assert diff_apply("ab", "Dz") == "ab"
    assert diff_apply("", "Ra") == ""
    assert diff_apply("abcd", None) == "abcd"


def test_batch_chain_positions():
    """Stop removal keeps position gaps (FilteringTokenFilter)."""
    doc, terms, pos = polish_analyze_batch_flat(
        ["studenta studenci był kot"]
    )
    assert list(terms) == ["student", "student", "kot"]
    assert list(pos) == [0, 1, 3]
    assert list(doc) == [0, 0, 0]


def test_batch_handles_none_and_empty():
    doc, terms, pos = polish_analyze_batch_flat([None, "", "i aby"])
    assert len(terms) == 0
    assert doc.dtype == np.int64 and pos.dtype == np.int64


def test_over_length_token_keeps_its_position():
    """StandardTokenizer.java:182-192: a token over 255 chars is skipped
    but still takes its position, so the tokens after it keep theirs."""
    doc, terms, pos = polish_analyze_batch_flat(["x" * 256 + " kot pies"])
    assert list(terms) == ["kot", "pies"]
    assert list(pos) == [1, 2]
