"""Hunspell engine pinned on the reference's test scenarios
(lucene/analysis/common/src/test/.../hunspell/TestStemmer.java,
TestCircumfix, TestKeepCase, TestNeedAffix, TestFullStrip, TestIgnore,
TestFlagLong, TestFlagNum, TestCondition, TestTwoFold, TestTwoSuffixes,
TestComplexPrefix, TestCaseInsensitive — each with its tiny .aff/.dic
reproduced as the format-mandated data the scenario pins)."""

from __future__ import annotations

from lucene_solr_spark.analysis.hunspell import (
    Stemmer,
    hunspell_stem_token,
    parse_dictionary,
)

SIMPLE_AFF = """\
SET UTF-8
TRY abcdefghijklmopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ

SFX A Y 3
SFX A   0     e         n
SFX A   0     e         t
SFX A   0     e         h

SFX C Y 2
SFX C   0     d/C       c
SFX C   0     c         b

SFX D Y 1
SFX D   0     s         o

SFX E Y 1
SFX E   0     d         o

PFX B Y 1
PFX B   0     s         o
"""

SIMPLE_DIC = """\
9
ab/C
apach/A
foo/D
foo/E
lucen/A
lucene
mahout/A
moo/E
olr/B
"""


def stems(d, word):
    return sorted(Stemmer(d).stem(word))


def test_simple_suffix():
    d = parse_dictionary(SIMPLE_AFF, SIMPLE_DIC)
    assert stems(d, "lucene") == ["lucen", "lucene"]
    assert stems(d, "mahoute") == ["mahout"]


def test_simple_prefix():
    d = parse_dictionary(SIMPLE_AFF, SIMPLE_DIC)
    assert stems(d, "solr") == ["olr"]


def test_recursive_suffix_needs_continuation():
    # 'd/C' chains back into C, but 'abc' is itself an affixed form —
    # the recursion may only strip a second suffix through the first's
    # continuation classes, and 'c' (the B-conditioned rule) carries
    # no continuation, so abcd finds nothing (TestStemmer
    # .testRecursiveSuffix)
    d = parse_dictionary(SIMPLE_AFF, SIMPLE_DIC)
    assert stems(d, "abcd") == []


def test_all_stems_and_bogus():
    d = parse_dictionary(SIMPLE_AFF, SIMPLE_DIC)
    expected = {
        "ab": ["ab"], "abc": ["ab"], "apach": ["apach"],
        "apache": ["apach"], "foo": ["foo", "foo"], "food": ["foo"],
        "foos": ["foo"], "lucen": ["lucen"], "lucene": ["lucen", "lucene"],
        "mahout": ["mahout"], "mahoute": ["mahout"], "moo": ["moo"],
        "mood": ["moo"], "olr": ["olr"], "solr": ["olr"],
    }
    for w, want in expected.items():
        assert stems(d, w) == sorted(want), w
    for bogus in [
        "abs", "abe", "sab", "sapach", "sapache", "apachee", "sfoo",
        "sfoos", "fooss", "lucenee", "solre",
    ]:
        assert stems(d, bogus) == [], bogus


CIRCUMFIX_AFF = """\
SET UTF-8

CIRCUMFIX X

PFX A Y 1
PFX A 0 leg/X .

PFX B Y 1
PFX B 0 legesleg/X .

SFX C Y 3
SFX C 0 obb . +COMPARATIVE
SFX C 0 obb/AX . +SUPERLATIVE
SFX C 0 obb/BX . +SUPERSUPERLATIVE
"""


def test_circumfix():
    d = parse_dictionary(CIRCUMFIX_AFF, "1\nnagy/C\t[MN]\n")
    assert stems(d, "nagy") == ["nagy"]
    assert stems(d, "nagyobb") == ["nagy"]
    assert stems(d, "legnagyobb") == ["nagy"]
    assert stems(d, "legeslegnagyobb") == ["nagy"]
    assert stems(d, "nagyobbobb") == []
    assert stems(d, "legnagy") == []
    assert stems(d, "legeslegnagy") == []


KEEPCASE_AFF = """\
SET UTF-8

KEEPCASE Z

SFX X Y 1
SFX X 0 s . +s
"""


def test_keepcase():
    d = parse_dictionary(KEEPCASE_AFF, "3\ndrink/X\nwalk/XZ\ntest/Z\n")
    assert stems(d, "drink") == ["drink"]
    assert stems(d, "Drink") == ["drink"]
    assert stems(d, "DRINK") == ["drink"]
    assert stems(d, "drinks") == ["drink"]
    assert stems(d, "Drinks") == ["drink"]
    assert stems(d, "DRINKS") == ["drink"]
    assert stems(d, "walk") == ["walk"]
    assert stems(d, "walks") == ["walk"]
    assert stems(d, "Walk") == []
    assert stems(d, "Walks") == []
    assert stems(d, "WALKS") == []
    assert stems(d, "test") == ["test"]
    assert stems(d, "Test") == []
    assert stems(d, "TEST") == []


NEEDAFFIX_AFF = """\
SET UTF-8

NEEDAFFIX Z

PFX Y Y 1
PFX Y 0 pre . pre+

SFX X Y 1
SFX X 0 s . +s
"""


def test_needaffix():
    d = parse_dictionary(NEEDAFFIX_AFF, "3\ndrink/X\nwalk/XYZ\ntest/Z\n")
    assert stems(d, "drink") == ["drink"]
    assert stems(d, "drinks") == ["drink"]
    assert stems(d, "walk") == []
    assert stems(d, "walks") == ["walk"]
    assert stems(d, "prewalk") == ["walk"]
    assert stems(d, "prewalks") == ["walk"]
    assert stems(d, "test") == []
    assert stems(d, "pretest") == []
    assert stems(d, "tests") == []
    assert stems(d, "pretests") == []


def test_fullstrip():
    aff = "SET UTF-8\n\nFULLSTRIP\n\nSFX A Y 1\nSFX A   beer        tasty  .\n"
    d = parse_dictionary(aff, "1\nbeer/A\n")
    assert stems(d, "tasty") == ["beer"]


def test_ignore():
    aff = "SET UTF-8\n\nIGNORE '-\n\nSFX X Y 1\nSFX X 0 able . +ABLE\n"
    d = parse_dictionary(aff, "1\ndrink/X\t[VERB]\ndr-ank/X\t[VERB]\n")
    assert stems(d, "drink") == ["drink"]
    assert stems(d, "drinkable") == ["drink"]
    assert stems(d, "dr'ink-able") == ["drink"]
    assert stems(d, "drank-able") == ["drank"]
    assert stems(d, "'-'-'-") == []


def test_flag_long():
    aff = (
        "SET UTF-8\nFLAG long\nSFX Y1 Y 1\nSFX Y1 0 s .\n\n"
        "SFX 1Y Y 1\nSFX 1Y 0 bogus .\n"
    )
    d = parse_dictionary(aff, "1\nfoo/Y1Z3F?\n")
    assert stems(d, "foo") == ["foo"]
    assert stems(d, "foos") == ["foo"]
    assert stems(d, "fooss") == []
    assert stems(d, "foobogus") == []


def test_flag_num():
    aff = "SET UTF-8\nFLAG num\nSFX 65000 Y 1\nSFX 65000 0 s .\n"
    d = parse_dictionary(aff, "1\nfoo/65000,12,2756\n")
    assert stems(d, "foo") == ["foo"]
    assert stems(d, "foos") == ["foo"]
    assert stems(d, "fooss") == []


CONDITION_AFF = """\
SET UTF-8
TRY esianrtolcdugmphbyfvkwzESIANRTOLCDUGMPHBYFVKWZ

PFX A Y 1
PFX A 0 re .

SFX B Y 2
SFX B 0 ed [^y]
SFX B y ied y
"""


def test_condition():
    d = parse_dictionary(CONDITION_AFF, "3\nhello\ntry/B\nwork/AB\n")
    assert stems(d, "hello") == ["hello"]
    assert stems(d, "try") == ["try"]
    assert stems(d, "tried") == ["try"]
    assert stems(d, "work") == ["work"]
    assert stems(d, "worked") == ["work"]
    assert stems(d, "rework") == ["work"]
    assert stems(d, "reworked") == ["work"]
    assert stems(d, "retried") == []
    assert stems(d, "workied") == []
    assert stems(d, "tryed") == []
    assert stems(d, "tryied") == []
    assert stems(d, "helloed") == []


TWOFOLD_AFF = """\
SET UTF-8

SFX Y Y 1
SFX Y 0 s . +PLUR

SFX X Y 1
SFX X 0 able/Y . +ABLE
"""


def test_twofold_suffix():
    d = parse_dictionary(TWOFOLD_AFF, "1\ndrink/X\t[VERB]\n")
    assert stems(d, "drink") == ["drink"]
    assert stems(d, "drinkable") == ["drink"]
    assert stems(d, "drinkables") == ["drink"]
    assert stems(d, "drinks") == []
    assert stems(d, "drinksable") == []
    assert stems(d, "drinkableable") == []


def test_two_suffixes_same_flag():
    aff = (
        "SET UTF-8\n\nSFX X Y 1\nSFX X 0 able . +ABLE\n\n"
        "SFX X Y 1\nSFX X 0 s . +s\n"
    )
    d = parse_dictionary(aff, "1\ndrink/X\t[VERB]\n")
    assert stems(d, "drink") == ["drink"]
    assert stems(d, "drinkable") == ["drink"]
    assert stems(d, "drinks") == ["drink"]
    assert stems(d, "drinkableable") == []
    assert stems(d, "drinkss") == []


COMPLEXPREFIX_AFF = """\
SET UTF-8

COMPLEXPREFIXES

PFX A Y 1
PFX A   0 pone .

PFX B Y 1
PFX B   0 ptwo/A .

SFX C Y 1
SFX C   0 suf .
"""


def test_complex_prefixes():
    d = parse_dictionary(COMPLEXPREFIX_AFF, "1\nfoo/BC\n")
    assert stems(d, "ptwofoo") == ["foo"]
    assert stems(d, "poneptwofoo") == ["foo"]
    assert stems(d, "foosuf") == ["foo"]
    assert stems(d, "ptwofoosuf") == ["foo"]
    assert stems(d, "poneptwofoosuf") == ["foo"]
    assert stems(d, "ponefoo") == []
    assert stems(d, "ponefoosuf") == []
    assert stems(d, "ptwoponefoo") == []
    assert stems(d, "ptwoponefoosuf") == []


def test_case_insensitive():
    d = parse_dictionary(KEEPCASE_AFF, "1\nDrink/X\n", ignore_case=True)
    assert stems(d, "DRINKS") == ["drink"]
    assert stems(d, "drink") == ["drink"]


def test_filter_semantics():
    d = parse_dictionary(SIMPLE_AFF, SIMPLE_DIC)
    # unknown word passes through unchanged
    assert hunspell_stem_token("xyzzy", d) == ["xyzzy"]
    # dedup preserves first-seen order
    assert hunspell_stem_token("foo", d) == ["foo"]
    # longestOnly: longest stem wins, ties broken by REVERSE text order
    assert hunspell_stem_token("lucene", d, longest_only=True) == ["lucene"]


def test_oconv_output_mapping():
    aff = (
        "SET UTF-8\n\nOCONV 1\nOCONV a A\n\nSFX X Y 1\nSFX X 0 s .\n"
    )
    d = parse_dictionary(aff, "1\nbanana/X\n")
    assert stems(d, "bananas") == ["bAnAnA"]


def test_batch_chain_positions():
    """Every stem of a token stacks at its position (positionIncrement
    0); stop gaps and an over-length token keep their positions."""
    import pandas as pd

    from lucene_solr_spark.analysis.hunspell import hunspell_analyze_batch_flat

    d = parse_dictionary(SIMPLE_AFF, SIMPLE_DIC)
    doc, terms, pos = hunspell_analyze_batch_flat(
        pd.Series(["the lucene xyzzy", "x" * 256 + " foos"]), dictionary=d
    )
    stacked = hunspell_stem_token("lucene", d)
    assert len(stacked) == 2
    assert list(zip(doc.tolist(), terms, pos.tolist())) == [
        (0, stacked[0], 1),
        (0, stacked[1], 1),
        (0, "xyzzy", 2),
        (1, "foo", 1),
    ]
