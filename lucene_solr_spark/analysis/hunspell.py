"""Hunspell dictionary-based stemming — the analyzer fallback for the
100+ languages with community .aff/.dic dictionaries but no bespoke
stemmer.

Faithful to the reference's engine (NOT the full hunspell tool — same
documented scope):

- lucene/analysis/common/src/java/org/apache/lucene/analysis/hunspell/
  Dictionary.java:300-560 (affix-file grammar: FLAG long/num modes, AF
  aliases, PFX/SFX blocks with strip/append/continuation/condition,
  KEEPCASE, NEEDAFFIX/PSEUDOROOT, ONLYINCOMPOUND, CIRCUMFIX,
  COMPLEXPREFIXES, FULLSTRIP, IGNORE, ICONV/OCONV; condition compiled
  as the anchored regex ``cond.*`` for prefixes / ``.*cond`` for
  suffixes, '-' escaped, unclosed '[' healed, '.'-or-equal-to-strip
  conditions collapsing to always-true).
- Stemmer.java:100-600 (case-variant union EXACT/TITLE/UPPER with
  KEEPCASE suppression, two-stage affix stripping with continuation
  cross-checks, the prefix-then-suffix chaining where a suffix with no
  continuation classes is acceptable after a prefix but a second
  suffix must be chained through the first's continuation classes,
  CIRCUMFIX pairing between the outer prefix and inner suffix,
  COMPLEXPREFIXES two-prefix mode, FULLSTRIP zero-length stems on the
  suffix side only, ``previous`` affix never reapplied back-to-back).
- HunspellStemFilter.java:88-146 (dedup order-preserving, unknown
  words pass through unchanged, longestOnly's length-then-reverse-text
  sort).

Out of documented scope, as in the reference: compounding
(COMPOUNDRULE et al.), REP suggestions, morphological output (the
reference parses morph aliases only for stem exceptions; dictionaries
without ``st:`` fields behave identically here).

Scale shape: the dictionary is driver-side (a few MB for real
languages), broadcast into the analyzer's Arrow batches; stemming is a
pure per-token function so the chain rides the same vectorized
tokenize→filter pipeline as every other analyzer (no per-row Python in
the JVM path — the whole chain is one mapInArrow pass at index build).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import partial

from lucene_solr_spark.analysis.analyzer import (
    analyze_chain,
    lowercase_stop,
    standard_tokenizer,
)
from lucene_solr_spark.analysis.stopwords import ENGLISH_STOP_WORDS


@dataclass(frozen=True)
class Affix:
    aid: int
    flag: str
    strip: str
    append: str
    append_flags: frozenset
    cond: "re.Pattern | None"
    cross: bool


@dataclass
class HunspellDictionary:
    words: dict = field(default_factory=dict)  # word -> list[frozenset]
    prefixes: list = field(default_factory=list)
    suffixes: list = field(default_factory=list)
    keepcase: str | None = None
    needaffix: str | None = None
    onlyincompound: str | None = None
    circumfix: str | None = None
    complex_prefixes: bool = False
    two_stage_affix: bool = False
    full_strip: bool = False
    ignore_case: bool = False
    ignore: frozenset = frozenset()
    iconv: list = field(default_factory=list)  # [(pattern, repl)]
    oconv: list = field(default_factory=list)


def _flag_parser(mode: str):
    if mode == "num":
        return lambda s: [p.strip() for p in s.split(",") if p.strip()]
    if mode == "long":
        return lambda s: [s[i : i + 2] for i in range(0, len(s) // 2 * 2, 2)]
    return list  # simple / UTF-8: each char is a flag


def _compile_condition(cond: str, strip: str, is_suffix: bool):
    """Dictionary.parseAffix:515-534."""
    if cond.startswith("[") and "]" not in cond:
        cond = cond + "]"
    if "-" in cond:
        # "dash hasn't got special meaning" — escape it everywhere
        cond = cond.replace("\\-", "-").replace("-", "\\-")
    if cond == "." or cond == strip:
        return None
    pat = (".*" + cond) if is_suffix else (cond + ".*")
    return re.compile(pat)


def _apply_mappings(conv: list, s: str) -> str:
    """Dictionary.applyMappings — longest-match replacement scan at
    each position (the FST walk, as a linear scan over the tiny
    conversion table)."""
    out = []
    i = 0
    while i < len(s):
        best = None
        for pat, repl in conv:
            if s.startswith(pat, i) and (
                best is None or len(pat) > len(best[0])
            ):
                best = (pat, repl)
        if best is None:
            out.append(s[i])
            i += 1
        else:
            out.append(best[1])
            i += len(best[0])
    return "".join(out)


def parse_dictionary(
    aff_text: str, dic_text: str, ignore_case: bool = False
) -> HunspellDictionary:
    d = HunspellDictionary(ignore_case=ignore_case)
    parse_flags = _flag_parser("simple")
    aliases: list[str] = []
    lines = aff_text.splitlines()
    li = 0

    def one_arg(parts, what):
        if len(parts) != 2:
            raise ValueError(f"Illegal {what} declaration")
        return parts[1]

    next_aid = 0
    while li < len(lines):
        line = lines[li].lstrip("﻿")
        li += 1
        parts = line.split()
        if not parts:
            continue
        key = parts[0]
        if key == "FLAG":
            parse_flags = _flag_parser(parts[1])
        elif key == "AF":
            if not aliases and parts[1].isdigit():
                continue  # the count header
            aliases.append(parts[1])
        elif key in ("PFX", "SFX"):
            is_suffix = key == "SFX"
            flag = parse_flags(parts[1])[0]
            cross = parts[2] == "Y"
            count = int(parts[3])
            for _ in range(count):
                rp = lines[li].split()
                li += 1
                if len(rp) < 4:
                    raise ValueError(
                        f"affix rule with less than four elements: {lines[li-1]}"
                    )
                strip = "" if rp[2] == "0" else rp[2]
                affix_arg = rp[3]
                append_flags: frozenset = frozenset()
                slash = affix_arg.rfind("/")
                if slash != -1:
                    flag_part = affix_arg[slash + 1 :]
                    affix_arg = affix_arg[:slash]
                    if aliases:
                        flag_part = aliases[int(flag_part) - 1]
                    append_flags = frozenset(parse_flags(flag_part))
                    d.two_stage_affix = True
                if affix_arg == "0":
                    affix_arg = ""
                cond = rp[4] if len(rp) > 4 else "."
                a = Affix(
                    aid=next_aid,
                    flag=flag,
                    strip=strip,
                    append=affix_arg,
                    append_flags=append_flags,
                    cond=_compile_condition(cond, strip, is_suffix),
                    cross=cross,
                )
                next_aid += 1
                (d.suffixes if is_suffix else d.prefixes).append(a)
        elif key == "COMPLEXPREFIXES":
            d.complex_prefixes = True
        elif key == "CIRCUMFIX":
            d.circumfix = parse_flags(one_arg(parts, key))[0]
        elif key == "KEEPCASE":
            d.keepcase = parse_flags(one_arg(parts, key))[0]
        elif key in ("NEEDAFFIX", "PSEUDOROOT"):
            d.needaffix = parse_flags(one_arg(parts, key))[0]
        elif key == "ONLYINCOMPOUND":
            d.onlyincompound = parse_flags(one_arg(parts, key))[0]
        elif key == "IGNORE":
            d.ignore = frozenset(one_arg(parts, key))
        elif key in ("ICONV", "OCONV"):
            if parts[1].isdigit():
                n = int(parts[1])
                conv = []
                for _ in range(n):
                    cp = lines[li].split()
                    li += 1
                    conv.append((cp[1], cp[2]))
                if key == "ICONV":
                    d.iconv = conv
                else:
                    d.oconv = conv
        elif key == "FULLSTRIP":
            d.full_strip = True
        # SET / TRY / REP / LANG / comments: no effect on stemming here

    # ---- dic entries: first line is the count ---------------------------
    first = True
    for raw in dic_text.splitlines():
        raw = raw.lstrip("﻿")
        if first:
            first = False
            if raw.strip().isdigit():
                continue
        if not raw.strip():
            continue
        entry = raw.split("\t")[0]
        # first unescaped '/' splits word from flags
        word, flag_part = entry, ""
        i = 0
        while i < len(entry):
            if entry[i] == "\\" and i + 1 < len(entry):
                i += 2
                continue
            if entry[i] == "/":
                word, flag_part = entry[:i], entry[i + 1 :]
                break
            i += 1
        word = word.replace("\\/", "/")
        if aliases and flag_part.isdigit():
            flag_part = aliases[int(flag_part) - 1]
        flags = frozenset(parse_flags(flag_part)) if flag_part else frozenset()
        word = _clean_input(d, word)
        if ignore_case:
            word = word.lower()
        d.words.setdefault(word, []).append(flags)
    return d


def _clean_input(d: HunspellDictionary, word: str) -> str:
    if d.iconv:
        word = _apply_mappings(d.iconv, word)
    if d.ignore:
        word = "".join(ch for ch in word if ch not in d.ignore)
    return word


def _clean_output(d: HunspellDictionary, word: str) -> str:
    return _apply_mappings(d.oconv, word) if d.oconv else word


def _check_cond(affix: Affix, stem: str) -> bool:
    return affix.cond is None or affix.cond.fullmatch(stem) is not None


def _has_cross(flag: str, flags: frozenset, match_empty: bool) -> bool:
    return (len(flags) == 0 and match_empty) or flag in flags


class Stemmer:
    """Stemmer.java — stem(word) returns every dictionary form the
    word can reduce to (duplicates preserved, as the reference)."""

    def __init__(self, dictionary: HunspellDictionary):
        self.d = dictionary

    # -- public ------------------------------------------------------------

    def stem(self, word: str) -> list[str]:
        d = self.d
        word = _clean_input(d, word)
        if d.ignore_case:
            word = word.lower()
        case = self._case_of(word)
        if case == "upper":
            title = word[:1] + word[1:].lower()
            lower = word.lower()
            return (
                self._do_stem(word, False)
                + self._do_stem(title, True)
                + self._do_stem(lower, True)
            )
        if case == "title":
            lower = word[:1].lower() + word[1:]
            return self._do_stem(word, False) + self._do_stem(lower, True)
        return self._do_stem(word, False)

    def unique_stems(self, word: str) -> list[str]:
        seen = set()
        out = []
        for s in self.stem(word):
            k = s.lower() if self.d.ignore_case else s
            if k not in seen:
                seen.add(k)
                out.append(s)
        return out

    # -- internals ----------------------------------------------------------

    def _case_of(self, word: str) -> str:
        if self.d.ignore_case or not word or not word[:1].isupper():
            return "exact"
        rest = word[1:]
        seen_upper = any(c.isupper() for c in rest)
        seen_lower = any(not c.isupper() for c in rest)
        if not seen_lower:
            return "upper"
        if not seen_upper:
            return "title"
        return "exact"

    def _do_stem(self, word: str, case_variant: bool) -> list[str]:
        d = self.d
        stems = []
        for flags in d.words.get(word, ()):
            if case_variant and d.keepcase is not None and d.keepcase in flags:
                continue
            if d.needaffix is not None and d.needaffix in flags:
                continue  # pseudostem requiring an affix
            if d.onlyincompound is not None and d.onlyincompound in flags:
                continue
            stems.append(_clean_output(d, word))
        stems.extend(
            self._stem(word, -1, None, None, 0, True, True, False, False,
                       case_variant)
        )
        return stems

    def _stem(
        self,
        word: str,
        previous: int,
        prev_flag: str | None,
        prefix_flag: str | None,
        depth: int,
        do_prefix: bool,
        do_suffix: bool,
        previous_was_prefix: bool,
        circumfix: bool,
        case_variant: bool,
    ) -> list[str]:
        d = self.d
        stems: list[str] = []
        if do_prefix and d.prefixes:
            # Stemmer.java:306 — prefix append length may reach
            # length-1 under FULLSTRIP, length-2 otherwise (the suffix
            # side is the one that can strip down to a 1-char or empty
            # stem; prefixes always leave ≥2 chars, ≥1 with FULLSTRIP)
            limit = len(word) if d.full_strip else len(word) - 1
            for a in d.prefixes:
                if len(a.append) >= limit:
                    continue
                if a.aid == previous or not word.startswith(a.append):
                    continue
                compatible = self._compatible(
                    a, depth, prev_flag, match_empty=False
                )
                if not compatible:
                    continue
                stripped = a.strip + word[len(a.append) :]
                if not _check_cond(a, stripped):
                    continue
                stems.extend(
                    self._apply_affix(
                        stripped, a, None, depth, True, circumfix, case_variant
                    )
                )
        if do_suffix and d.suffixes:
            limit = 0 if d.full_strip else 1
            for a in d.suffixes:
                if len(word) - len(a.append) < limit:
                    continue
                if a.aid == previous or not word.endswith(a.append):
                    continue
                compatible = self._compatible(
                    a, depth, prev_flag, match_empty=previous_was_prefix
                )
                if not compatible:
                    continue
                de_affixed = word[: len(word) - len(a.append)]
                stripped = de_affixed + a.strip
                if not _check_cond(a, stripped):
                    continue
                stems.extend(
                    self._apply_affix(
                        stripped, a, prefix_flag, depth, False, circumfix,
                        case_variant,
                    )
                )
        return stems

    def _compatible(
        self, a: Affix, depth: int, prev_flag: str | None, match_empty: bool
    ) -> bool:
        """Stemmer.java:338-357 / 424-443 — at depth 0 any affix whose
        append is usable outside compounds; deeper levels only through
        the previous affix's continuation classes."""
        d = self.d
        if depth == 0:
            if d.onlyincompound is None:
                return True
            return d.onlyincompound not in a.append_flags
        if a.cross:
            allowed = (
                d.onlyincompound is None
                or d.onlyincompound not in a.append_flags
            )
            assert prev_flag is not None
            return allowed and _has_cross(prev_flag, a.append_flags, match_empty)
        return False

    def _apply_affix(
        self,
        stripped: str,
        a: Affix,
        prefix_flag: str | None,
        depth: int,
        is_prefix: bool,
        circumfix: bool,
        case_variant: bool,
    ) -> list[str]:
        d = self.d
        stems: list[str] = []
        for flags in d.words.get(stripped, ()):
            if a.flag not in flags:
                continue
            chained_prefix = d.complex_prefixes and depth == 1 and is_prefix
            if (
                not chained_prefix
                and prefix_flag is not None
                and prefix_flag not in flags
            ):
                # chain the prefix through the suffix continuation class
                if not _has_cross(prefix_flag, a.append_flags, False):
                    continue
            if d.circumfix is not None:
                suffix_circumfix = d.circumfix in a.append_flags
                if circumfix != suffix_circumfix:
                    continue
            if case_variant and d.keepcase is not None and d.keepcase in flags:
                continue
            if d.onlyincompound is not None and d.onlyincompound in flags:
                continue
            stems.append(_clean_output(d, stripped))

        if d.circumfix is not None and not circumfix and is_prefix:
            circumfix = d.circumfix in a.append_flags

        if a.cross:
            if depth == 0:
                if is_prefix:
                    stems.extend(
                        self._stem(
                            stripped, a.aid, a.flag, a.flag, depth + 1,
                            d.complex_prefixes and d.two_stage_affix,
                            True, True, circumfix, case_variant,
                        )
                    )
                elif not d.complex_prefixes and d.two_stage_affix:
                    stems.extend(
                        self._stem(
                            stripped, a.aid, a.flag, prefix_flag, depth + 1,
                            False, True, False, circumfix, case_variant,
                        )
                    )
            elif depth == 1:
                if is_prefix and d.complex_prefixes:
                    stems.extend(
                        self._stem(
                            stripped, a.aid, a.flag, a.flag, depth + 1,
                            False, True, True, circumfix, case_variant,
                        )
                    )
                elif not is_prefix and not d.complex_prefixes and d.two_stage_affix:
                    stems.extend(
                        self._stem(
                            stripped, a.aid, a.flag, prefix_flag, depth + 1,
                            False, True, False, circumfix, case_variant,
                        )
                    )
        return stems


def hunspell_stem_token(
    word: str,
    dictionary: HunspellDictionary,
    dedup: bool = True,
    longest_only: bool = False,
) -> list[str]:
    """HunspellStemFilter semantics for one token: all stems (dedup'd,
    order-preserving), the original token unchanged when the word is
    unknown, or the single longest stem (ties broken by REVERSE text
    order — HunspellStemFilter.lengthComparator)."""
    st = Stemmer(dictionary)
    stems = (
        st.unique_stems(word) if dedup and not longest_only else st.stem(word)
    )
    if not stems:
        return [word]
    if longest_only:
        stems.sort(key=lambda s: (-len(s), [-ord(c) for c in s]))
        return [stems[0]]
    return stems


def hunspell_analyze_batch_flat(
    content,
    dictionary: HunspellDictionary,
    stopwords: "frozenset | None" = None,
    longest_only: bool = False,
    max_token_length: int = 255,
):
    """Analyzer-chain hook: StandardTokenizer → lowercase → stop →
    HunspellStemFilter, over one Arrow batch (the build_tables
    ``analyzer=`` contract).  A token with several stems emits them all
    at its position (positionIncrement 0, HunspellStemFilter.java:91-95)."""
    lower_stop = lowercase_stop(
        ENGLISH_STOP_WORDS if stopwords is None else stopwords
    )

    def token_fn(tok):
        t = lower_stop(tok)
        if t is None:
            return None
        return hunspell_stem_token(
            t, dictionary, dedup=True, longest_only=longest_only
        )

    return analyze_chain(
        content,
        partial(standard_tokenizer, max_token_length=max_token_length),
        token_fn,
    )
