"""Light stemmers + analyzer chains for French / German / Spanish /
Italian / Portuguese / Swedish / Russian / Finnish / Hungarian /
Norwegian (bokmål + nynorsk, light + minimal).

Implements Jacques Savoy's UniNE "light stemming" algorithms — the
reference's {French,German,Spanish,Italian,Portuguese}LightStemmer.java
(analysis/{fr,de,es,it,pt}/), which the language analyzer chains apply
after tokenize → (elision) → lowercase → snowball stop removal
(FrenchAnalyzer.java:99-156, ItalianAnalyzer.java:120-134 et al.).
The stemmers are reimplemented from the published algorithm; per-token
work happens inside the flat Arrow-batched analyzer kernels
(vocabulary-deduplicated: each UNIQUE token stems once per batch).

Stopword lists are the Snowball lists the reference loads at runtime
(analysis/snowball/*_stop.txt — public Snowball project data).
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from lucene_solr_spark.analysis.analyzer import analyze_chain, whitespace_tokenizer


# --------------------------------------------------------------- Spanish
def spanish_light_stem(w: str) -> str:
    """SpanishLightStemmer.java:64-108 (Savoy)."""
    if len(w) < 5:
        return w
    s = list(
        w.translate(str.maketrans("àáâäòóôöèéêëùúûüìíîï",
                                  "aaaaoooo" "eeee" "uuuu" "iiii"))
    )
    last = s[-1]
    if last in ("o", "a", "e"):
        return "".join(s[:-1])
    if last == "s":
        if s[-2] == "e" and s[-3] == "s" and s[-4] == "e":
            return "".join(s[:-2])
        if s[-2] == "e" and s[-3] == "c":
            s[-3] = "z"
            return "".join(s[:-2])
        if s[-2] in ("o", "a", "e"):
            return "".join(s[:-2])
    return "".join(s)


# ---------------------------------------------------------------- German
_DE_ST_END = set("bdfghklmnt")


def german_light_stem(w: str) -> str:
    """GermanLightStemmer.java:64-135 (Savoy): umlaut fold, then two
    suffix-strip steps."""
    s = w.translate(str.maketrans("äàáâöòóôïìíîüùúû",
                                  "aaaa" "oooo" "iiii" "uuuu"))
    # step 1
    n = len(s)
    if n > 5 and s.endswith("ern"):
        s = s[:-3]
    elif n > 4 and s[-2:] in ("em", "en", "er", "es"):
        s = s[:-2]
    elif n > 3 and s[-1] == "e":
        s = s[:-1]
    elif n > 3 and s[-1] == "s" and s[-2] in _DE_ST_END:
        s = s[:-1]
    # step 2
    n = len(s)
    if n > 5 and s.endswith("est"):
        s = s[:-3]
    elif n > 4 and (s.endswith("er") or s.endswith("en")):
        s = s[:-2]
    elif n > 4 and s.endswith("st") and s[-3] in _DE_ST_END:
        s = s[:-2]
    return s


# ---------------------------------------------------------------- French
def _fr_norm(s: list[str]) -> str:
    """FrenchLightStemmer.norm (FrenchLightStemmer.java:229-264):
    accent fold, collapse consecutive duplicate letters, then the
    ie/r/e/e + final-duplicate tail strips."""
    if len(s) > 4:
        t = "".join(s).translate(
            str.maketrans("àáâôèéêùûîç", "aaao" "eee" "uu" "ic")
        )
        s = list(t)
        # collapse runs of the same letter
        out = [s[0]]
        for ch in s[1:]:
            if ch == out[-1] and ch.isalpha():
                continue
            out.append(ch)
        s = out
    if len(s) > 4 and s[-2:] == ["i", "e"]:
        s = s[:-2]
    if len(s) > 4:
        if s[-1] == "r":
            s = s[:-1]
        if s and s[-1] == "e":
            s = s[:-1]
        if s and s[-1] == "e":
            s = s[:-1]
        if len(s) >= 2 and s[-1] == s[-2] and s[-1].isalpha():
            s = s[:-1]
    return "".join(s)


def french_light_stem(w: str) -> str:  # noqa: C901 — mirrors the reference's rule ladder
    """FrenchLightStemmer.java:66-227 (Savoy) — the ordered suffix
    rule ladder, each rule rewriting the buffer then running norm."""
    s = list(w)
    if len(s) > 5 and s[-1] == "x":
        if s[-3] == "a" and s[-2] == "u" and s[-4] != "e":
            s[-2] = "l"
        s = s[:-1]
    if len(s) > 3 and s[-1] == "x":
        s = s[:-1]
    if len(s) > 3 and s[-1] == "s":
        s = s[:-1]
    w2 = "".join(s)
    n = len(s)
    if n > 9 and w2.endswith("issement"):
        s = s[: n - 6]
        s[-1] = "r"
        return _fr_norm(s)
    if n > 8 and w2.endswith("issant"):
        s = s[: n - 4]
        s[-1] = "r"
        return _fr_norm(s)
    if n > 6 and w2.endswith("ement"):
        s = s[: n - 4]
        if len(s) > 3 and "".join(s).endswith("ive"):
            s = s[:-1]
            s[-1] = "f"
        return _fr_norm(s)
    if n > 11 and w2.endswith("ficatrice"):
        s = s[: n - 5]
        s[-2] = "e"
        s[-1] = "r"
        return _fr_norm(s)
    if n > 10 and w2.endswith("ficateur"):
        s = s[: n - 4]
        s[-2] = "e"
        s[-1] = "r"
        return _fr_norm(s)
    if n > 9 and w2.endswith("catrice"):
        s = s[: n - 3]
        s[-4] = "q"
        s[-3] = "u"
        s[-2] = "e"
        return _fr_norm(s)
    if n > 8 and w2.endswith("cateur"):
        s = s[: n - 2]
        s[-4] = "q"
        s[-3] = "u"
        s[-2] = "e"
        s[-1] = "r"
        return _fr_norm(s)
    if n > 8 and w2.endswith("atrice"):
        s = s[: n - 4]
        s[-2] = "e"
        s[-1] = "r"
        return _fr_norm(s)
    if n > 7 and w2.endswith("ateur"):
        s = s[: n - 3]
        s[-2] = "e"
        s[-1] = "r"
        return _fr_norm(s)
    if n > 6 and w2.endswith("trice"):
        s = s[:-1]
        s[-3] = "e"
        s[-2] = "u"
        s[-1] = "r"
        w2 = "".join(s)
        n = len(s)
    if n > 5 and w2.endswith("ième"):
        return _fr_norm(s[: n - 4])
    if n > 7 and w2.endswith("teuse"):
        s = s[: n - 2]
        s[-1] = "r"
        return _fr_norm(s)
    if n > 6 and w2.endswith("teur"):
        s = s[:-1]
        s[-1] = "r"
        return _fr_norm(s)
    if n > 5 and w2.endswith("euse"):
        return _fr_norm(s[: n - 2])
    if n > 8 and w2.endswith("ère"):
        s = s[:-1]
        s[-2] = "e"
        return _fr_norm(s)
    if n > 7 and w2.endswith("ive"):
        s = s[:-1]
        s[-1] = "f"
        return _fr_norm(s)
    if n > 4 and (w2.endswith("folle") or w2.endswith("molle")):
        s = s[: n - 2]
        s[-1] = "u"
        return _fr_norm(s)
    if n > 9 and w2.endswith("nnelle"):
        return _fr_norm(s[: n - 5])
    if n > 9 and w2.endswith("nnel"):
        return _fr_norm(s[: n - 3])
    if n > 4 and w2.endswith("ète"):
        s = s[:-1]
        s[-2] = "e"
        w2 = "".join(s)
        n = len(s)
    if n > 8 and w2.endswith("ique"):
        s = s[: n - 4]
        w2 = "".join(s)
        n = len(s)
    if n > 8 and w2.endswith("esse"):
        return _fr_norm(s[: n - 3])
    if n > 7 and w2.endswith("inage"):
        return _fr_norm(s[: n - 3])
    if n > 9 and w2.endswith("isation"):
        s = s[: n - 7]
        if len(s) > 5 and "".join(s).endswith("ual"):
            s[-2] = "e"
        return _fr_norm(s)
    if n > 9 and w2.endswith("isateur"):
        return _fr_norm(s[: n - 7])
    if n > 8 and w2.endswith("ation"):
        return _fr_norm(s[: n - 5])
    if n > 8 and w2.endswith("ition"):
        return _fr_norm(s[: n - 5])
    return _fr_norm(s)


# --------------------------------------------------------------- Italian
_IT_FOLD = str.maketrans(
    "àáâäòóôöèéêëùúûüìíîï", "aaaa" "oooo" "eeee" "uuuu" "iiii"
)


def italian_light_stem(w: str) -> str:
    """ItalianLightStemmer.java:64-115 (Savoy CLEF-2001): accent fold
    over the whole buffer, then one vowel-suffix strip (a/e/i/o, two
    chars when preceded by i/h per the rule table)."""
    if len(w) < 6:
        return w
    s = w.translate(_IT_FOLD)
    last, prev = s[-1], s[-2]
    if last == "e":
        return s[:-2] if prev in "ih" else s[:-1]
    if last == "i":
        return s[:-2] if prev in "hi" else s[:-1]
    if last in "ao":
        return s[:-2] if prev == "i" else s[:-1]
    return s


# ------------------------------------------------------------ Portuguese
_PT_FOLD = str.maketrans(
    "àáâäãòóôöõèéêëùúûüìíîïç", "aaaaa" "ooooo" "eeee" "uuuu" "iiii" "c"
)


def _pt_remove_suffix(s: list[str]) -> list[str]:
    """PortugueseLightStemmer.removeSuffix (the ordered plural /
    adverb rule ladder)."""
    n = len(s)
    if n > 4 and s[-2:] == ["e", "s"] and s[-3] in "rslz":
        return s[:-2]
    if n > 3 and s[-2:] == ["n", "s"]:
        s = s[:-1]
        s[-1] = "m"
        return s
    if n > 4 and (s[-3:] == ["e", "i", "s"] or s[-3:] == ["é", "i", "s"]):
        s = s[:-1]
        s[-2] = "e"
        s[-1] = "l"
        return s
    if n > 4 and s[-3:] == ["a", "i", "s"]:
        s = s[:-1]
        s[-1] = "l"
        return s
    if n > 4 and s[-3:] == ["ó", "i", "s"]:
        s = s[:-1]
        s[-2] = "o"
        s[-1] = "l"
        return s
    if n > 4 and s[-2:] == ["i", "s"]:
        s[-1] = "l"
        return s
    if n > 3 and (s[-3:] == ["õ", "e", "s"] or s[-3:] == ["ã", "e", "s"]):
        s = s[:-1]
        s[-2] = "ã"
        s[-1] = "o"
        return s
    if n > 6 and s[-5:] == ["m", "e", "n", "t", "e"]:
        return s[:-5]
    if n > 3 and s[-1] == "s":
        return s[:-1]
    return s


def _pt_norm_feminine(s: list[str]) -> list[str]:
    """PortugueseLightStemmer.normFeminine (a-final rewrite rules)."""
    n = len(s)
    tail4 = "".join(s[-4:])
    if n > 7 and tail4 in ("inha", "iaca", "eira"):
        s[-1] = "o"
        return s
    if n > 6:
        tail3 = "".join(s[-3:])
        if tail3 in ("osa", "ica", "ida", "ada", "iva", "ama"):
            s[-1] = "o"
            return s
        if tail3 == "ona":
            s = s[:-1]
            s[-2] = "ã"
            s[-1] = "o"
            return s
        if tail3 == "ora":
            return s[:-1]
        if tail3 == "esa":
            s[-3] = "ê"
            return s[:-1]
        if "".join(s[-2:]) == "na":
            s[-1] = "o"
            return s
    return s


def portuguese_light_stem(w: str) -> str:
    """PortugueseLightStemmer.java:65-110 (Savoy UniNE): plural strip →
    feminine normalization → final-vowel strip → accent fold."""
    if len(w) < 4:
        return w
    s = _pt_remove_suffix(list(w))
    if len(s) > 3 and s[-1] == "a":
        s = _pt_norm_feminine(s)
    if len(s) > 4 and s[-1] in "eao":
        s = s[:-1]
    return "".join(s).translate(_PT_FOLD)


# --------------------------------------------------- French/German minimal
def french_minimal_stem(w: str) -> str:
    """FrenchMinimalStemmer.java:57-72 (Savoy UniNE 'minimal'): plural
    -x (aux→al), then s/r/e/é strips and final-duplicate collapse."""
    if len(w) < 6:
        return w
    s = list(w)
    if s[-1] == "x":
        if s[-3] == "a" and s[-2] == "u":
            s[-2] = "l"
        return "".join(s[:-1])
    if s[-1] == "s":
        s = s[:-1]
    if s[-1] == "r":
        s = s[:-1]
    if s[-1] == "e":
        s = s[:-1]
    if s[-1] == "é":
        s = s[:-1]
    if s[-1] == s[-2]:
        s = s[:-1]
    return "".join(s)


def german_minimal_stem(w: str) -> str:
    """GermanMinimalStemmer.java:57-84 (Savoy UniNE 'minimal'): umlaut
    fold then one plural/case-ending strip."""
    if len(w) < 5:
        return w
    s = w.translate(str.maketrans("äöü", "aou"))
    n = len(s)
    if n > 6 and s.endswith("nen"):
        return s[:-3]
    if n > 5 and s[-2:] in ("en", "se", "es", "er"):
        return s[:-2]
    if s[-1] in "nesr":
        return s[:-1]
    return s


# --------------------------------------------------------------- Swedish
def swedish_light_stem(w: str) -> str:
    """SwedishLightStemmer.java:67-110 (Savoy CLEF-2003): possessive -s
    strip, then one ordered suffix strip + final-letter strip."""
    s = w
    if len(s) > 4 and s[-1] == "s":
        s = s[:-1]
    n = len(s)
    if n > 7 and s[-5:] in ("elser", "heten"):
        return s[:-5]
    if n > 6 and s[-4:] in (
        "arne", "erna", "ande", "else", "aste", "orna", "aren"
    ):
        return s[:-4]
    if n > 5 and s[-3:] in ("are", "ast", "het"):
        return s[:-3]
    if n > 4 and s[-2:] in ("ar", "er", "or", "en", "at", "te", "et"):
        return s[:-2]
    if n > 3 and s[-1] in "taen":
        return s[:-1]
    return s


# -------------------------------------------------------------- Norwegian
def norwegian_light_stem(w: str, nynorsk: bool = False) -> str:
    """NorwegianLightStemmer.java:75-174 (BOKMAAL default, NYNORSK
    optional): possessive -s strip, then the ordered common-ending
    ladder (bokmål/nynorsk rows gated per flag)."""
    bok, nyn = not nynorsk, nynorsk
    s = w
    if len(s) > 4 and s[-1] == "s":
        s = s[:-1]
    n = len(s)
    if n > 7 and (
        (bok and s[-5:] in ("heter", "heten")) or (nyn and s[-5:] == "heita")
    ):
        return s[:-5]
    if n > 8 and nyn and s[-6:] in ("heiter", "leiken", "leikar"):
        return s[:-6]
    if n > 5 and (s[-3:] == "dom" or (bok and s[-3:] == "het")):
        return s[:-3]
    if n > 6 and nyn and s[-4:] in ("heit", "semd", "leik"):
        return s[:-4]
    if n > 7 and s[-5:] in ("elser", "elsen"):
        return s[:-5]
    if n > 6 and (
        (bok and s[-4:] in ("ende", "este", "eren"))
        or (nyn and s[-4:] in ("ande", "aste", "aren"))
        or s[-4:] == "else"
    ):
        return s[:-4]
    if n > 5 and (
        (bok and s[-3:] in ("ere", "est"))
        or (nyn and s[-3:] in ("are", "ast", "ane"))
        or s[-3:] == "ene"
    ):
        return s[:-3]
    if n > 4 and (
        s[-2:] in ("er", "en", "et", "te")
        or (nyn and s[-2:] == "ar")
        or (bok and s[-2:] == "st")
    ):
        return s[:-2]
    if n > 3 and s[-1] in "aen":
        return s[:-1]
    return s


def norwegian_minimal_stem(w: str, nynorsk: bool = False) -> str:
    """NorwegianMinimalStemmer.java:72-101: genitive -s, plural/definite
    noun endings only."""
    s = w
    if len(s) > 4 and s[-1] == "s":
        s = s[:-1]
    n = len(s)
    if n > 5 and (s[-3:] == "ene" or (nynorsk and s[-3:] == "ane")):
        return s[:-3]
    if n > 4 and (
        s[-2:] in ("er", "en", "et") or (nynorsk and s[-2:] == "ar")
    ):
        return s[:-2]
    if n > 3 and s[-1] in "ae":
        return s[:-1]
    return s


# --------------------------------------------------------------- Russian
_RU_3 = (
    "иям", "иях", "оях", "ями", "оям", "оьв", "ами", "его", "ему", "ери",
    "ими", "ого", "ому", "ыми", "оев",
)
_RU_2 = (
    "ая", "яя", "ях", "юю", "ах", "ею", "их", "ия", "ию", "ьв", "ою",
    "ую", "ям", "ых", "ея", "ам", "ем", "ей", "ём", "ев", "ий", "им",
    "ое", "ой", "ом", "ов", "ые", "ый", "ым", "ми",
)


def russian_light_stem(w: str) -> str:
    """RussianLightStemmer.java:57-127 (Savoy CLEF): case-ending strip
    over Cyrillic, then the ь/и/нн normalization."""
    s = w
    n = len(s)
    if n > 6 and s[-4:] in ("иями", "оями"):
        s = s[:-4]
    elif n > 5 and s[-3:] in _RU_3:
        s = s[:-3]
    elif n > 4 and s[-2:] in _RU_2:
        s = s[:-2]
    elif n > 3 and s[-1] in "аеиоуйыяь":
        s = s[:-1]
    n = len(s)
    if n > 3:
        if s[-1] in "ьи":
            return s[:-1]
        if s[-1] == "н" and s[-2] == "н":
            return s[:-1]
    return s


# --------------------------------------------------------------- Finnish
_FI_VOWELS = set("aeiouy")


def finnish_light_stem(w: str) -> str:  # noqa: C901 — mirrors the reference's rule ladder
    """FinnishLightStemmer.java:61-237 (Savoy CLEF-2003): ä/å/ö fold,
    step1 (enclitic strip) → step2 → step3 (case endings) → norm1 →
    norm2 (final-vowel + k/p/t gemination collapse)."""
    if len(w) < 4:
        return w
    s = w.translate(str.maketrans("äåö", "aao"))

    # step1: recursive -kin / -ko strip
    while True:
        n = len(s)
        if n > 8 and s.endswith("kin"):
            s = s[:-3]
            continue
        if n > 8 and s.endswith("ko"):
            s = s[:-2]
            continue
        break
    n = len(s)
    if n > 11:
        if s.endswith("dellinen"):
            s = s[:-8]
        elif s.endswith("dellisuus"):
            s = s[:-9]

    # step2
    n = len(s)
    if n > 5:
        if s[-3:] in ("lla", "tse", "sti"):
            s = s[:-3]
        elif s.endswith("ni"):
            s = s[:-2]
        elif s.endswith("aa"):
            s = s[:-1]

    # step3
    s = _fi_step3(s)
    # norm1
    n = len(s)
    if n > 5 and s.endswith("hde"):
        s = s[:-3] + "ksi"
    n = len(s)
    if n > 4 and (s.endswith("ei") or s.endswith("at")):
        s = s[:-2]
    elif n > 3 and s[-1] in "tsjeai":
        s = s[:-1]
    # norm2
    if len(s) > 8 and s[-1] in "eou":
        s = s[:-1]
    if len(s) > 4:
        if s[-1] == "i":
            s = s[:-1]
        if len(s) > 4:
            # collapse doubled k/p/t anywhere in the buffer
            out = [s[0]]
            for ch in s[1:]:
                if ch == out[-1] and ch in "kpt":
                    continue
                out.append(ch)
            s = "".join(out)
    return s


def _fi_step3(s: str) -> str:  # noqa: C901
    n = len(s)
    if n > 8:
        if s.endswith("nnen"):
            return s[:-4] + "s"
        if s.endswith("ntena"):
            return s[:-5] + "s"
        if s.endswith("tten"):
            return s[:-4]
        if s.endswith("eiden"):
            return s[:-5]
    if n > 6:
        if s[-4:] in ("neen", "niin", "seen", "teen", "inen"):
            return s[:-4]
        if s[-3] == "h" and s[-2] in _FI_VOWELS and s[-1] == "n":
            return s[:-3]
        if s.endswith("den"):
            return s[:-3] + "s"
        if s.endswith("ksen"):
            return s[:-4] + "s"
        if s[-3:] in ("ssa", "sta", "lla", "lta", "tta", "ksi", "lle"):
            return s[:-3]
    if n > 5:
        if s[-2:] in ("na", "ne"):
            return s[:-2]
        if s.endswith("nei"):
            return s[:-3]
    if n > 4:
        if s[-2:] in ("ja", "ta"):
            return s[:-2]
        if s[-1] == "a":
            return s[:-1]
        if s[-1] == "n" and s[-2] in _FI_VOWELS:
            return s[:-2]
        if s[-1] == "n":
            return s[:-1]
    return s


# -------------------------------------------------------------- Hungarian
_HU_FOLD = str.maketrans("áëéíóőõöúűũûü", "a" "ee" "i" "oooo" "uuuuu")
_HU_VOWELS = set("aeiouy")


def _hu_remove_case(s: str) -> str:  # noqa: C901
    n = len(s)
    if n > 6 and s.endswith("kent"):
        return s[:-4]
    if n > 5:
        if s[-3:] in (
            "nak", "nek", "val", "vel", "ert", "rol", "ban", "ben",
            "bol", "nal", "nel", "hoz", "hez", "tol",
        ):
            return s[:-3]
        if s[-2:] in ("al", "el"):
            if s[-3] not in _HU_VOWELS and s[-3] == s[-4]:
                return s[:-3]
    if n > 4:
        if s[-2:] in (
            "at", "et", "ot", "va", "ve", "ra", "re", "ba", "be",
            "ul", "ig",
        ):
            return s[:-2]
        if s[-2:] in ("on", "en") and s[-3] not in _HU_VOWELS:
            return s[:-2]
        if s[-1] in "tn":
            return s[:-1]
        if s[-1] in "ae" and s[-2] == s[-3] and s[-2] not in _HU_VOWELS:
            return s[:-2]
    return s


def _hu_remove_possessive(s: str) -> str:  # noqa: C901
    n = len(s)
    if n > 6:
        if s[-5] not in _HU_VOWELS and s[-4:] in ("atok", "otok", "etek"):
            return s[:-4]
        if s[-4:] in ("itek", "itok"):
            return s[:-4]
    if n > 5:
        if s[-4] not in _HU_VOWELS and s[-3:] in ("unk", "tok", "tek"):
            return s[:-3]
        if s[-4] in _HU_VOWELS and s[-3:] == "juk":
            return s[:-3]
        if s[-3:] == "ink":
            return s[:-3]
    if n > 4:
        if s[-3] not in _HU_VOWELS and s[-2:] in (
            "am", "em", "om", "ad", "ed", "od", "uk"
        ):
            return s[:-2]
        if s[-3] in _HU_VOWELS and s[-2:] in ("nk", "ja", "je"):
            return s[:-2]
        if s[-2:] in ("im", "id", "ik"):
            return s[:-2]
    if n > 3:
        if s[-1] in "ae" and s[-2] not in _HU_VOWELS:
            return s[:-1]
        if s[-1] in "md" and s[-2] in _HU_VOWELS:
            return s[:-1]
        if s[-1] == "i":
            return s[:-1]
    return s


def hungarian_light_stem(w: str) -> str:
    """HungarianLightStemmer.java:61-214 (Savoy CLEF-2004): accent fold
    → removeCase → removePossessive → removePlural → normalize."""
    s = w.translate(_HU_FOLD)
    s = _hu_remove_case(s)
    s = _hu_remove_possessive(s)
    # removePlural (intentional fallthrough: a/o/e at len>4 drops two,
    # anything else — including a/o/e at len==4 — drops the k alone)
    n = len(s)
    if n > 3 and s[-1] == "k":
        s = s[:-2] if (s[-2] in "aoe" and n > 4) else s[:-1]
    # normalize
    if len(s) > 3 and s[-1] in "aeio":
        s = s[:-1]
    return s


# ----------------------------------------------------- analyzer chains
# FrenchAnalyzer.DEFAULT_ARTICLES (analysis/fr/FrenchAnalyzer.java:68-72)
_FR_ARTICLES = ("l", "m", "t", "qu", "n", "s", "j")


# ItalianAnalyzer.DEFAULT_ARTICLES (analysis/it/ItalianAnalyzer.java:49-54)
_IT_ARTICLES = (
    "c", "l", "all", "dall", "dell", "nell", "sull", "coll", "pell",
    "gl", "agl", "dagl", "degl", "negl", "sugl", "un", "m", "t", "s",
    "v", "d",
)


def _elision(tok: str, articles: tuple[str, ...]) -> str:
    """ElisionFilter: strip a leading article + apostrophe (l'avion →
    avion)."""
    for ap in ("'", "’"):
        if ap in tok:
            head, _, rest = tok.partition(ap)
            if head in articles and rest:
                return rest
    return tok


def french_elision(tok: str) -> str:
    return _elision(tok, _FR_ARTICLES)


def italian_elision(tok: str) -> str:
    return _elision(tok, _IT_ARTICLES)


def _load_stops() -> dict[str, frozenset]:
    from lucene_solr_spark.analysis.snowball_stops import (
        ARABIC_STOP,
        BULGARIAN_STOP,
        CZECH_STOP,
        FINNISH_STOP,
        GALICIAN_STOP,
        SORANI_STOP,
        FRENCH_STOP,
        GERMAN_STOP,
        HUNGARIAN_STOP,
        ITALIAN_STOP,
        NORWEGIAN_STOP,
        PORTUGUESE_STOP,
        RUSSIAN_STOP,
        SPANISH_STOP,
        SWEDISH_STOP,
    )
    from lucene_solr_spark.analysis.snowball_stops import (
        GREEK_STOP,
        LATVIAN_STOP,
        HINDI_STOP,
        INDONESIAN_STOP,
        PERSIAN_STOP,
    )
    from lucene_solr_spark.analysis.snowball_stops import (
        ARMENIAN_STOP,
        BASQUE_STOP,
        BRAZILIAN_STOP,
        CATALAN_STOP,
        DANISH_STOP,
        IRISH_STOP,
        LITHUANIAN_STOP,
        DUTCH_STOP,
        ROMANIAN_STOP,
        TURKISH_STOP,
    )

    return {
        "danish": frozenset(DANISH_STOP),
        "dutch": frozenset(DUTCH_STOP),
        "romanian": frozenset(ROMANIAN_STOP),
        "turkish": frozenset(TURKISH_STOP),
        "brazilian": frozenset(BRAZILIAN_STOP),
        "serbian": frozenset(),
        "lithuanian": frozenset(LITHUANIAN_STOP),
        "armenian": frozenset(ARMENIAN_STOP),
        "kstem": _english_stops(),
        "english_snowball": _english_stops(),
        "german2_snowball": frozenset(GERMAN_STOP),
        "german_snowball": frozenset(GERMAN_STOP),
        "french_snowball": frozenset(FRENCH_STOP),
        "spanish_snowball": frozenset(SPANISH_STOP),
        "italian_snowball": frozenset(ITALIAN_STOP),
        "portuguese_snowball": frozenset(PORTUGUESE_STOP),
        # the DEFAULT analyzer chains for these five end in
        # SnowballFilter ({Russian,Swedish,Finnish,Hungarian,
        # Norwegian}Analyzer.java:121-124); same stop sets
        "russian_snowball": frozenset(RUSSIAN_STOP),
        "swedish_snowball": frozenset(SWEDISH_STOP),
        "finnish_snowball": frozenset(FINNISH_STOP),
        "hungarian_snowball": frozenset(HUNGARIAN_STOP),
        "norwegian_snowball": frozenset(NORWEGIAN_STOP),
        "basque": frozenset(BASQUE_STOP),
        "catalan": frozenset(CATALAN_STOP),
        "irish": frozenset(IRISH_STOP),
        "french": frozenset(FRENCH_STOP),
        "german": frozenset(GERMAN_STOP),
        "spanish": frozenset(SPANISH_STOP),
        "italian": frozenset(ITALIAN_STOP),
        "portuguese": frozenset(PORTUGUESE_STOP),
        "swedish": frozenset(SWEDISH_STOP),
        "russian": frozenset(RUSSIAN_STOP),
        "finnish": frozenset(FINNISH_STOP),
        "hungarian": frozenset(HUNGARIAN_STOP),
        "norwegian": frozenset(NORWEGIAN_STOP),
        "galician": frozenset(GALICIAN_STOP),
        "sorani": frozenset(SORANI_STOP),
        "arabic": frozenset(ARABIC_STOP),
        "czech": frozenset(CZECH_STOP),
        "bulgarian": frozenset(BULGARIAN_STOP),
        "hindi": frozenset(HINDI_STOP),
        "persian": frozenset(PERSIAN_STOP),
        "indonesian": frozenset(INDONESIAN_STOP),
        "greek": frozenset(GREEK_STOP),
        "latvian": frozenset(LATVIAN_STOP),
    }


def _hindi_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.indic import hindi_stem

    return hindi_stem(w)


def _indonesian_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.indic import indonesian_stem

    return indonesian_stem(w)


def _greek_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.greek import greek_stem

    return greek_stem(w)


def _latvian_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.latvian import latvian_stem

    return latvian_stem(w)


def _czech_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.czech_bulgarian import czech_stem

    return czech_stem(w)


def _bulgarian_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.czech_bulgarian import bulgarian_stem

    return bulgarian_stem(w)


def _arabic_stem_lazy(w: str) -> str:
    # ArabicAnalyzer order: stop runs BEFORE normalization (the ar
    # stopword file is written accordingly), so the chain folds
    # normalize INTO the stem step
    from lucene_solr_spark.analysis.arabic import arabic_normalize, arabic_stem

    return arabic_stem(arabic_normalize(w))


def _sorani_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.sorani import sorani_stem

    return sorani_stem(w)


def _galician_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.rslp import galician_stem

    return galician_stem(w)


def _danish_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.snowball import danish_stem

    return danish_stem(w)


# DutchAnalyzer.DEFAULT_STEM_DICT (nl/DutchAnalyzer.java:79-83): the
# StemmerOverrideFilter runs before the snowball step
_NL_STEM_DICT = {
    "fiets": "fiets", "bromfiets": "bromfiets",
    "ei": "eier", "kind": "kinder",
}


def _dutch_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.snowball import dutch_stem

    o = _NL_STEM_DICT.get(w)
    return o if o is not None else dutch_stem(w)


def _romanian_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.snowball import romanian_stem

    return romanian_stem(w)


def _turkish_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.snowball import turkish_stem

    return turkish_stem(w)


def _brazilian_stem_lazy(w: str) -> str:
    # BrazilianStemFilter.java:61-67: keep the original term when the
    # stemmer returns null or an identical discriminator
    from lucene_solr_spark.analysis.brazilian import brazilian_stem

    s = brazilian_stem(w)
    return w if s is None else s


def _serbian_norm_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.serbian import serbian_normalize

    return serbian_normalize(w)


def _lithuanian_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.lithuanian import lithuanian_stem

    return lithuanian_stem(w)


def _english_stops():
    from lucene_solr_spark.analysis.stopwords import ENGLISH_STOP_WORDS

    return frozenset(ENGLISH_STOP_WORDS)


def _kstem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.kstem import kstem

    return kstem(w)


def _snowball_lazy(name):
    def stem(w: str) -> str:
        from lucene_solr_spark.analysis import snowball

        return getattr(snowball, f"{name}_stem")(w)

    return stem


def _armenian_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.armenian import armenian_stem

    return armenian_stem(w)


def _basque_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.basque import basque_stem

    return basque_stem(w)


def _catalan_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.catalan import catalan_stem

    return catalan_stem(w)


def _irish_stem_lazy(w: str) -> str:
    from lucene_solr_spark.analysis.irish import irish_stem

    return irish_stem(w)


def _light_analyze_flat(content: pd.Series, lang: str):
    """The light/snowball chain for ``lang``: whitespace tokenize →
    (elision) → lowercase → (normalize) → snowball stop → stem."""
    stops = _load_stops()[lang]
    norm = None
    if lang == "sorani":
        from lucene_solr_spark.analysis.sorani import sorani_normalize

        norm = sorani_normalize
    elif lang == "hindi":
        # HindiAnalyzer.java:117-126 order: normalize BEFORE stop, so
        # the stop list matches normalized forms only (the reference's
        # own quirk, replicated).  IndicNormalizer (two-part vowel
        # composition across 9 scripts) is the documented omission.
        from lucene_solr_spark.analysis.indic import hindi_normalize

        norm = hindi_normalize
    elif lang == "persian":
        # PersianAnalyzer.java:116-127: arabic normalization, then
        # persian, then stop; NO stemmer
        from lucene_solr_spark.analysis.arabic import arabic_normalize
        from lucene_solr_spark.analysis.indic import persian_normalize

        norm = lambda w: persian_normalize(arabic_normalize(w))  # noqa: E731
    elif lang == "greek":
        # GreekAnalyzer.java:95-105: GreekLowerCaseFilter (fold tonos/
        # dialytika, normalize final sigma) BEFORE stop, stems last
        from lucene_solr_spark.analysis.greek import greek_lowercase

        norm = greek_lowercase
    stem = {
        "french": french_light_stem,
        "german": german_light_stem,
        "spanish": spanish_light_stem,
        "italian": italian_light_stem,
        "portuguese": portuguese_light_stem,
        "swedish": swedish_light_stem,
        "russian": russian_light_stem,
        "finnish": finnish_light_stem,
        "hungarian": hungarian_light_stem,
        "norwegian": norwegian_light_stem,
        "galician": _galician_stem_lazy,
        "sorani": _sorani_stem_lazy,
        "arabic": _arabic_stem_lazy,
        "czech": _czech_stem_lazy,
        "bulgarian": _bulgarian_stem_lazy,
        "hindi": _hindi_stem_lazy,
        "persian": lambda w: w,
        "indonesian": _indonesian_stem_lazy,
        "greek": _greek_stem_lazy,
        "latvian": _latvian_stem_lazy,
        "danish": _danish_stem_lazy,
        "dutch": _dutch_stem_lazy,
        "romanian": _romanian_stem_lazy,
        "turkish": _turkish_stem_lazy,
        "brazilian": _brazilian_stem_lazy,
        "serbian": _serbian_norm_lazy,
        "lithuanian": _lithuanian_stem_lazy,
        "armenian": _armenian_stem_lazy,
        "kstem": _kstem_lazy,
        "russian_snowball": _snowball_lazy("russian"),
        "swedish_snowball": _snowball_lazy("swedish"),
        "finnish_snowball": _snowball_lazy("finnish"),
        "hungarian_snowball": _snowball_lazy("hungarian"),
        "norwegian_snowball": _snowball_lazy("norwegian"),
        # SnowballPorterFilterFactory language="English"/"German2"
        # configurations (Porter2 / umlaut-aware German variant)
        "english_snowball": _snowball_lazy("english"),
        "german2_snowball": _snowball_lazy("german2"),
        "german_snowball": _snowball_lazy("german"),
        "french_snowball": _snowball_lazy("french"),
        "spanish_snowball": _snowball_lazy("spanish"),
        "italian_snowball": _snowball_lazy("italian"),
        "portuguese_snowball": _snowball_lazy("portuguese"),
        "basque": _basque_stem_lazy,
        "catalan": _catalan_stem_lazy,
        "irish": _irish_stem_lazy,
    }[lang]

    fold = str.lower
    if lang == "turkish":
        # TurkishAnalyzer.java:103-114: ApostropheFilter then
        # TurkishLowerCaseFilter run INSTEAD of the plain lowercase
        # (I -> ı, İ -> i, combining-dot composition)
        from lucene_solr_spark.analysis.snowball import (
            apostrophe_strip,
            turkish_lowercase,
        )

        fold = lambda tok: turkish_lowercase(  # noqa: E731
            apostrophe_strip(tok)
        )
    elif lang == "irish":
        # IrishAnalyzer.java:132-142: hyphenation-stop (h/n/t) and
        # elision (d/m/b) run BEFORE IrishLowerCaseFilter, which is
        # case-sensitive (n/t + uppercase vowel -> n-/t- prefix)
        from lucene_solr_spark.analysis.irish import irish_lowercase

        def fold(tok):
            if tok.lower() in ("h", "n", "t"):
                return ""
            for ap in ("'", "’"):
                head, sep, rest = tok.partition(ap)
                if sep and head.lower() in ("d", "m", "b") and rest:
                    tok = rest
                    break
            return irish_lowercase(tok)

    elide = {
        "french": french_elision,
        "french_snowball": french_elision,
        "italian": italian_elision,
        "italian_snowball": italian_elision,
        # CatalanAnalyzer DEFAULT_ARTICLES (ignore-case, so
        # post-lowercase elision is equivalent)
        "catalan": partial(_elision, articles=("d", "l", "m", "n", "s", "t")),
    }.get(lang)

    def token_fn(tok):
        t = fold(tok)
        if elide is not None:
            t = elide(t)
        if norm is not None:
            t = norm(t)
        return stem(t) if t and t not in stops else None

    return analyze_chain(content, whitespace_tokenizer, token_fn)
