"""The core analyzer family beyond Standard/English — Whitespace,
Simple, Keyword, Stop and CJK (bigram) — plus ``NAMED_ANALYZERS``, the
chains ``build_tables(analyzer=<name>)`` accepts.  Each chain is a
tokenizer plus a token function run by the batch driver
(analysis/analyzer.py).

Ref: lucene/analysis/common/src/java/org/apache/lucene/analysis/core/
WhitespaceAnalyzer.java, SimpleAnalyzer.java, KeywordAnalyzer.java,
StopAnalyzer.java and lucene/analysis/common/.../cjk/CJKAnalyzer.java +
CJKBigramFilter.java.

CJK position semantics implemented (CJKBigramFilter, default han+
hiragana+katakana+hangul flags): StandardTokenizer emits each CJK
codepoint as its own token at consecutive positions; the bigram filter
merges adjacent pairs — bigram *j* of a run starting at position *p*
sits at position ``p+j``; a lone CJK char between non-CJK tokens is
emitted as a unigram (``outputUnigrams`` single-char case).  After a
run of length L≥2 the next token continues at ``p+L-1`` (the last
emitted bigram's position + 1), matching the filter's increment
bookkeeping.  So the bigram tokenizer's list index is the position.
"""

from __future__ import annotations

import re
from functools import partial

import pandas as pd

from lucene_solr_spark.analysis.analyzer import (
    analyze_chain,
    lowercase_stop,
    per_document,
    whitespace_tokenizer,
)
from lucene_solr_spark.analysis.light_stemmers import _light_analyze_flat
from lucene_solr_spark.analysis.stopwords import ENGLISH_STOP_WORDS

_LETTERS = re.compile(r"[^\W\d_]+", re.UNICODE)
# CJK ranges per CJKBigramFilter defaults: Han, Hiragana, Katakana, Hangul
_CJK = (
    "⺀-⻿々〇㐀-䶿一-鿿豈-﫿"
    "぀-ゟ゠-ヿㇰ-ㇿ가-힯ᄀ-ᇿ"
)
_CJK_OR_WORD = re.compile(rf"([{_CJK}]+)|([0-9A-Za-z_À-ɏ]+)")
_HAS_CJK = re.compile(rf"[{_CJK}]")
_WORDS = re.compile(r"[0-9A-Za-z_À-ɏ]+")


def _keep(token: str) -> str:
    return token


def _cjk_tokens(text: str) -> list[str]:
    """CJK runs → overlapping bigrams (a lone CJK char stays a unigram);
    other word runs pass through."""
    if not _HAS_CJK.search(text):
        return _WORDS.findall(text)
    out: list[str] = []
    for m in _CJK_OR_WORD.finditer(text):
        run = m.group(1)
        if run is None or len(run) == 1:
            out.append(m.group(0))
        else:
            out.extend(run[j : j + 2] for j in range(len(run) - 1))
    return out


_letter_tokenizer = per_document(_LETTERS.findall)
_keyword_tokenizer = per_document(lambda t: [t] if t else [])
_cjk_tokenizer = per_document(_cjk_tokens)


def _metaphone(token: str) -> list[str]:
    """PhoneticFilterFactory encoder="Metaphone" inject="true" after a
    lowercase: the phonetic form first, then the original, both at ONE
    position (PhoneticFilter.java:68-96; identity encodings pass
    through once)."""
    from lucene_solr_spark.analysis.phonetic import phonetic_tokens

    return phonetic_tokens(token.lower(), inject=True, encoder="Metaphone")


def _camel_parts(token: str) -> list[str]:
    """PatternCaptureGroupTokenFilter camelCase configuration
    (PatternCaptureGroupTokenFilter.java:56-67 + factory): capture
    groups with preserveOriginal, all at ONE position, lowercased."""
    from lucene_solr_spark.analysis.pattern import camel_case_capture

    return [o.lower() for o in camel_case_capture(token, preserve_original=True)]


def _chain(tokenizer, token_fn):
    return partial(analyze_chain, tokenizer=tokenizer, token_fn=token_fn)


def _light(lang: str):
    return partial(_light_analyze_flat, lang=lang)


def whitespace_analyze_batch_flat(content: pd.Series):
    """WhitespaceAnalyzer: split on whitespace, NO lowercase, no stop."""
    return analyze_chain(content, whitespace_tokenizer, _keep)


def simple_analyze_batch_flat(content: pd.Series):
    """SimpleAnalyzer: LetterTokenizer (maximal letter runs) + lowercase."""
    return analyze_chain(content, _letter_tokenizer, str.lower)


def keyword_analyze_batch_flat(content: pd.Series):
    """KeywordAnalyzer: the whole input is ONE token (un-analyzed)."""
    return analyze_chain(content, _keyword_tokenizer, _keep)


def stop_analyze_batch_flat(
    content: pd.Series, stopwords: frozenset[str] = ENGLISH_STOP_WORDS
):
    """StopAnalyzer: LetterTokenizer + lowercase + stop (position gaps
    preserved, FilteringTokenFilter.java:46-60)."""
    return analyze_chain(content, _letter_tokenizer, lowercase_stop(stopwords))


def cjk_analyze_batch_flat(content: pd.Series):
    """CJKAnalyzer: CJK runs → overlapping bigrams, Latin → lowercase
    words (CJKBigramFilter semantics documented in the module docstring)."""
    return analyze_chain(content, _cjk_tokenizer, str.lower)


NAMED_ANALYZERS = {
    "pattern_camel": _chain(whitespace_tokenizer, _camel_parts),
    "whitespace": whitespace_analyze_batch_flat,
    "phonetic_metaphone": _chain(whitespace_tokenizer, _metaphone),
    "simple": simple_analyze_batch_flat,
    "keyword": keyword_analyze_batch_flat,
    "stop": stop_analyze_batch_flat,
    "cjk": cjk_analyze_batch_flat,
    # UniNE light-stemming chains (FrenchAnalyzer.java:99-156 et al.):
    # tokenize -> (elision fr) -> lowercase -> snowball stop -> light stem
    "french": _light("french"),
    "german": _light("german"),
    "spanish": _light("spanish"),
    "italian": _light("italian"),
    "portuguese": _light("portuguese"),
    # the solr.*LightStemFilterFactory chains for these five (their
    # DEFAULT analyzers end in SnowballFilter; the light-stem chain is
    # the documented lighter-weight configuration — e.g.
    # SwedishLightStemFilterFactory.java): tokenize -> lowercase ->
    # snowball stop -> UniNE light stem
    "swedish": _light("swedish"),
    "russian": _light("russian"),
    "finnish": _light("finnish"),
    "hungarian": _light("hungarian"),
    "norwegian": _light("norwegian"),
    # GalicianAnalyzer.java: tokenize -> lowercase -> gl stop ->
    # GalicianStemmer (the full RSLG rule engine, analysis/rslp.py)
    "galician": _light("galician"),
    # SoraniAnalyzer.java: tokenize -> normalize -> lowercase -> ckb
    # stop -> SoraniStemmer (analysis/sorani.py; DecimalDigitFilter is
    # the documented omission — the corpus carries ASCII digits)
    "sorani": _light("sorani"),
    # ArabicAnalyzer.java: tokenize -> lowercase -> ar stop ->
    # ArabicNormalizationFilter -> ArabicStemFilter (analysis/arabic.py)
    "arabic": _light("arabic"),
    # CzechAnalyzer.java / BulgarianAnalyzer.java: tokenize ->
    # lowercase -> stop -> {Czech,Bulgarian}Stemmer
    "czech": _light("czech"),
    "bulgarian": _light("bulgarian"),
    # Snowball-backed chains (analysis/snowball.py, pinned on the
    # reference's complete TestSnowballVocabData vocabularies):
    # DanishAnalyzer.java:105-115, DutchAnalyzer.java:122-160 (incl.
    # the 4-entry DEFAULT_STEM_DICT override), RomanianAnalyzer.java:
    # 107-117
    "danish": _light("danish"),
    "dutch": _light("dutch"),
    "romanian": _light("romanian"),
    # TurkishAnalyzer.java:103-114: tokenize -> ApostropheFilter ->
    # TurkishLowerCaseFilter -> tr stop -> SnowballFilter(Turkish)
    "turkish": _light("turkish"),
    # BrazilianAnalyzer.java: tokenize -> lowercase -> br stop ->
    # BrazilianStemFilter (analysis/brazilian.py, Orengo-style rules)
    "brazilian": _light("brazilian"),
    # sr/SerbianNormalizationFilterFactory: lowercase -> bald-Latin
    # normalization (no reference analyzer exists; this is the
    # documented factory chain)
    "serbian": _light("serbian"),
    # LithuanianAnalyzer.java: tokenize -> lowercase -> lt stop ->
    # SnowballFilter(Lithuanian) (analysis/lithuanian.py)
    "lithuanian": _light("lithuanian"),
    # ArmenianAnalyzer.java / BasqueAnalyzer.java: tokenize ->
    # lowercase -> stop -> SnowballFilter
    "armenian": _light("armenian"),
    "basque": _light("basque"),
    # CatalanAnalyzer.java: tokenize -> elision(d/l/m/n/s/t) ->
    # lowercase -> ca stop -> SnowballFilter(Catalan)
    "catalan": _light("catalan"),
    # IrishAnalyzer.java:132-142: tokenize -> hyphenation-stop(h/n/t)
    # -> elision(d/m/b) -> IrishLowerCaseFilter -> ga stop -> stem
    "irish": _light("irish"),
    # solr.KStemFilterFactory chain: tokenize -> lowercase -> en stop
    # -> KStemFilter (analysis/kstem.py, Krovetz morphological stemmer)
    "kstem": _light("kstem"),
    # the DEFAULT {Russian,Swedish,Finnish,Hungarian,Norwegian}Analyzer
    # chains end in SnowballFilter (analysis/snowball.py, each pinned
    # on its complete TestSnowballVocabData vocabulary); the plain
    # names above keep the solr *LightStemFilterFactory configuration
    # SnowballPorterFilterFactory language="English" (Porter2) and
    # language="German2" (umlaut-expanding variant) chains: tokenize ->
    # lowercase -> {en,de} stop -> SnowballFilter; each pinned on its
    # complete TestSnowballVocabData vocabulary
    "english_snowball": _light("english_snowball"),
    "german2_snowball": _light("german2_snowball"),
    # SnowballPorterFilterFactory language="German"/"French"/"Spanish"/
    # "Italian"/"Portuguese" chains (fr/it keep their analyzers'
    # ElisionFilter step); each pinned on its complete
    # TestSnowballVocabData vocabulary
    "german_snowball": _light("german_snowball"),
    "french_snowball": _light("french_snowball"),
    "spanish_snowball": _light("spanish_snowball"),
    "italian_snowball": _light("italian_snowball"),
    "portuguese_snowball": _light("portuguese_snowball"),
    "russian_snowball": _light("russian_snowball"),
    "swedish_snowball": _light("swedish_snowball"),
    "finnish_snowball": _light("finnish_snowball"),
    "hungarian_snowball": _light("hungarian_snowball"),
    "norwegian_snowball": _light("norwegian_snowball"),
    # HindiAnalyzer.java: tokenize -> lowercase -> HindiNormalizer ->
    # hi stop (on NORMALIZED forms, the reference's order) -> HindiStemmer
    # (IndicNormalizer + DecimalDigitFilter are documented omissions)
    "hindi": _light("hindi"),
    # PersianAnalyzer.java: tokenize -> lowercase -> ArabicNormalizer ->
    # PersianNormalizer -> fa stop; no stemmer
    "persian": _light("persian"),
    # IndonesianAnalyzer.java: tokenize -> lowercase -> id stop ->
    # IndonesianStemmer (derivational)
    "indonesian": _light("indonesian"),
    # GreekAnalyzer.java: tokenize -> GreekLowerCaseFilter (tonos/
    # dialytika fold + final-sigma normalize) -> el stop -> Ntais
    # GreekStemmer (pinned on the reference's complete 342 goldens)
    "greek": _light("greek"),
    # LatvianAnalyzer.java: tokenize -> lowercase -> lv stop ->
    # LatvianStemmer (Kreslin light; complete 172-golden pin)
    "latvian": _light("latvian"),
}
