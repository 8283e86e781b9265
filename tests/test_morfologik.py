"""Morfologik FSA5 runtime (analysis/morfologik.py) pinned on the
reference module's own compiled test dictionary."""

from __future__ import annotations

import pytest

from lucene_solr_spark.analysis.morfologik import (
    FSA5,
    MorfologikDictionary,
    _decode_lemma,
    morfologik_analyze_batch_flat,
    morfologik_lemmas,
)
from lucene_solr_spark.analysis.morfologik import (
    test_dictionary as _fixture_dictionary,
)


def test_fsa5_structure():
    """The shipped automaton parses to the documented FSA5 shape:
    goto length 2, no per-node data, '+' annotation, '_' filler."""
    fsa = _fixture_dictionary().fsa
    assert fsa.goto_len == 2
    assert fsa.node_data_len == 0
    assert fsa.filler == ord("_")
    assert fsa.annotation == ord("+")
    # root resolves through the dummy + epsilon preamble to a real arc
    root = fsa.root()
    assert fsa.find_arc(root, ord("i")) is not None


def test_reference_factory_golden():
    """TestMorfologikFilterFactory.testExplicitDictionary: tokens
    "inflected1 inflected2" lemmatize to ["lemma1", "lemma2"]."""
    d = _fixture_dictionary()
    assert d.lookup("inflected1") == [("lemma1", "tag1")]
    assert d.lookup("inflected2") == [("lemma2", "tag2")]
    assert d.lookup("inflected") == []
    assert d.lookup("inflected12") == []
    assert d.lookup("") == []


def test_lowercase_fallback_and_passthrough():
    """MorfologikFilter: surface miss falls back to the lowercase
    form; a total miss passes the token through (empty lemma list)."""
    d = _fixture_dictionary()
    assert morfologik_lemmas("Inflected1", d) == ["lemma1"]
    assert morfologik_lemmas("INFLECTED2", d) == ["lemma2"]
    assert morfologik_lemmas("unknown", d) == []


def test_sequence_encoders():
    """SequenceEncoders decode, all four codings ('A'-relative):
    verified shapes incl. the INFIX case the test dictionary uses."""
    assert _decode_lemma(b"inflected1", b"ADFmma1", "INFIX") == b"lemma1"
    assert _decode_lemma(b"walked", b"Cs", "SUFFIX") == b"walks"
    assert _decode_lemma(b"rewalk", b"CAed", "PREFIX") == b"walked"
    assert _decode_lemma(b"anything", b"literal", "NONE") == b"literal"
    with pytest.raises(ValueError, match="encoder"):
        _decode_lemma(b"x", b"y", "BOGUS")


def test_batch_analyzer():
    doc, terms, pos = morfologik_analyze_batch_flat(
        ["inflected1 unknown inflected2", None, ""]
    )
    assert list(terms) == ["lemma1", "unknown", "lemma2"]
    assert list(pos) == [0, 1, 2]
    assert list(doc) == [0, 0, 0]


def test_bad_magic_and_version():
    with pytest.raises(ValueError, match="magic"):
        FSA5(b"XXXX\x05__\x02")
    with pytest.raises(NotImplementedError, match="version"):
        FSA5(b"\\fsa\x02__\x02")


def test_unencodable_and_separator_words_no_match():
    """Words the dictionary charset cannot encode, or containing the
    separator byte, are no-matches (Java CharsetEncoder /
    DictionaryLookup behavior) — never false-positive lemmas."""
    d = _fixture_dictionary()
    assert d.lookup("inflected1;x") == []
    assert d.lookup(";") == []
    # force a non-UTF8 charset to make a char unencodable
    import copy

    d2 = copy.copy(d)
    d2.encoding = "iso-8859-2"
    assert d2.lookup("inflected1一") == []
    assert morfologik_lemmas("inflected1;x", d) == []


def test_separator_must_encode_to_one_byte(tmp_path):
    """A separator that encodes to several bytes in the dictionary
    charset ('é' is two bytes in UTF-8) is rejected, not truncated to
    its first byte."""
    import shutil
    from pathlib import Path

    src = Path(__file__).resolve().parents[1] / "fixtures" / "morfologik"
    shutil.copy(src / "custom-dictionary.dict", tmp_path / "d.dict")
    (tmp_path / "d.info").write_text(
        "fsa.dict.encoding=UTF-8\nfsa.dict.separator=é\n"
        "fsa.dict.encoder=INFIX\n",
        encoding="utf-8",
    )
    with pytest.raises(ValueError, match="separator"):
        MorfologikDictionary(str(tmp_path / "d.dict"))
