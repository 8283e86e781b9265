"""Morfologik dictionary lemmatization — the FSA5 automaton runtime.

Partially closes the morfologik half of the Polish exclusion: the
MACHINERY — the FSA5 finite-state-automaton reader, dictionary
metadata, sequence-encoder decoding, and the MorfologikFilter
lemmatization semantics — is implemented and pinned on the reference
module's own compiled test dictionary
(`morfologik/src/test-files/.../custom-dictionary.{dict,info}`,
carried at fixtures/morfologik/).  The PRODUCTION Polish
morphosyntactic dictionary (`morfologik-polish` jar) remains a data
artifact absent from the sandbox, so the default MorfologikAnalyzer
stays a documented exclusion; any morfologik-stemming `.dict/.info`
pair drops into this runtime unchanged.

FSA5 wire format (public: morfologik-stemming `fsa/FSA5.java`, also
Jan Daciuk's fsa package; verified byte-for-byte against the shipped
test automaton):

- header: magic ``\\fsa``, version 5, filler byte, annotation byte,
  ``gtl`` (hi nibble = per-node data length, lo nibble = goto field
  length in bytes);
- the body is an arcs array; each arc = [label byte][goto field].
  The goto field decodes LITTLE-endian over gotoLength bytes with
  three flag bits in the LOW bits: FINAL=1, LAST=2, NEXT=4; target
  address = value >> 3 (body-relative).  A NEXT arc stores only the
  single flags byte — its target is the node immediately after the
  LAST arc of the current node;
- the body opens with a terminating dummy node and an epsilon node
  whose single arc's destination is the root (`getRootNode()`).

Dictionary layout: each automaton sequence is
``inflected <sep> encoded-lemma <sep> tag`` with the separator from
the ``.info`` metadata; the lemma is coded against the inflected form
by the metadata's encoder — NONE (literal), SUFFIX ([trim+'A']+app),
PREFIX ([trimPre+'A'][trimSuf+'A']+app) or INFIX
([idx+'A'][len+'A'][trimSuf+'A']+app), morfologik
``SequenceEncoders``.  Verified on the test dictionary: INFIX code
"ADFmma1" over "inflected1" → remove 3 chars at 0, trim 5, append
"mma1" → "lemma1" (the reference's
TestMorfologikFilterFactory.testExplicitDictionary golden).

Filter semantics (`MorfologikFilter.java`): per token, look up the
surface form, falling back to its lowercase; on a hit emit every
lemma (stacked at the same position); otherwise the token passes
through unchanged; keyword-marked tokens are never lemmatized.
"""

from __future__ import annotations

from pathlib import Path

from lucene_solr_spark.analysis.analyzer import analyze_chain, whitespace_tokenizer

BIT_FINAL = 1
BIT_LAST = 2
BIT_NEXT = 4


class FSA5:
    """Read-only FSA5 automaton over its serialized arcs array."""

    def __init__(self, data: bytes):
        if data[:4] != b"\\fsa":
            raise ValueError("not an FSA automaton (bad magic)")
        if data[4] != 5:
            raise NotImplementedError(
                f"FSA version {data[4]} (only FSA5 is implemented; "
                "CFSA2 dictionaries need the v2 byte-coder)"
            )
        self.filler = data[5]
        self.annotation = data[6]
        gtl = data[7]
        self.node_data_len = gtl >> 4
        self.goto_len = gtl & 0x0F
        self.arcs = data[8:]

    # ---------------------------------------------------------- arcs
    def _value(self, arc: int) -> int:
        v = 0
        for i in range(self.goto_len - 1, -1, -1):
            v = (v << 8) | self.arcs[arc + 1 + i]
        return v

    def _flags(self, arc: int) -> int:
        return self.arcs[arc + 1] & 0x07

    def arc_label(self, arc: int) -> int:
        return self.arcs[arc]

    def arc_is_final(self, arc: int) -> bool:
        return bool(self._flags(arc) & BIT_FINAL)

    def arc_is_last(self, arc: int) -> bool:
        return bool(self._flags(arc) & BIT_LAST)

    def _arc_size(self, arc: int) -> int:
        # NEXT arcs carry no address — label + flags byte only
        return 2 if self._flags(arc) & BIT_NEXT else 1 + self.goto_len

    def skip_arc(self, arc: int) -> int:
        return arc + self._arc_size(arc)

    def first_arc(self, node: int) -> int:
        return node + self.node_data_len

    def next_arc(self, arc: int) -> int | None:
        return None if self.arc_is_last(arc) else self.skip_arc(arc)

    def arc_target(self, arc: int) -> int:
        if self._flags(arc) & BIT_NEXT:
            # target follows the LAST arc of this node
            a = arc
            while not self.arc_is_last(a):
                a = self.skip_arc(a)
            return self.skip_arc(a)
        return self._value(arc) >> 3

    def root(self) -> int:
        eps = self.skip_arc(self.first_arc(0))
        return self.arc_target(self.first_arc(eps))

    def find_arc(self, node: int, label: int) -> int | None:
        arc = self.first_arc(node)
        while True:
            if self.arc_label(arc) == label:
                return arc
            nxt = self.next_arc(arc)
            if nxt is None:
                return None
            arc = nxt

    def walk(self, node: int, seq: bytes) -> int | None:
        """Follow ``seq`` from ``node``; returns the LAST ARC taken."""
        arc = None
        for b in seq:
            if arc is not None:
                node = self.arc_target(arc)
            arc = self.find_arc(node, b)
            if arc is None:
                return None
        return arc

    def sequences_from(self, arc: int):
        """DFS: every accepted byte-suffix reachable through ``arc``
        (FINAL arcs terminate sequences; the automaton is acyclic)."""
        label = bytes([self.arc_label(arc)])
        if self.arc_is_final(arc):
            yield label
        target = self.arc_target(arc)
        if target != 0:
            a = self.first_arc(target)
            while a is not None:
                for suf in self.sequences_from(a):
                    yield label + suf
                a = self.next_arc(a)


def _decode_lemma(inflected: bytes, code: bytes, encoder: str) -> bytes:
    """morfologik SequenceEncoders decode: lemma from (inflected,
    code).  'A'-relative counts, as in Trim*Encoder.decode."""
    A = ord("A")
    if encoder == "NONE":
        return code
    if encoder == "SUFFIX":
        trim = code[0] - A
        return inflected[: len(inflected) - trim] + code[1:]
    if encoder == "PREFIX":
        pre, suf = code[0] - A, code[1] - A
        return inflected[pre : len(inflected) - suf] + code[2:]
    if encoder == "INFIX":
        idx, length, suf = code[0] - A, code[1] - A, code[2] - A
        kept = inflected[:idx] + inflected[idx + length :]
        return kept[: len(kept) - suf] + code[3:]
    raise ValueError(f"unknown sequence encoder {encoder!r}")


class MorfologikDictionary:
    """A compiled morfologik stemming dictionary: FSA5 + metadata."""

    def __init__(self, dict_path: str, info_path: str | None = None):
        self.fsa = FSA5(Path(dict_path).read_bytes())
        if info_path is None:
            info_path = str(Path(dict_path).with_suffix(".info"))
        meta: dict[str, str] = {}
        for line in Path(info_path).read_text(encoding="utf-8").splitlines():
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, _, v = line.partition("=")
            meta[k.strip()] = v.strip()
        self.encoding = meta.get("fsa.dict.encoding", "UTF-8")
        sep = meta.get("fsa.dict.separator", "+").encode(self.encoding)
        if len(sep) != 1:
            raise ValueError(
                f"fsa.dict.separator must encode to exactly one byte in "
                f"{self.encoding}, got {sep!r}"
            )
        self.separator = sep[0]
        self.encoder = meta.get("fsa.dict.encoder", "NONE").upper()

    def lookup(self, word: str) -> list[tuple[str, str]]:
        """(lemma, tag) pairs for an inflected surface form — the
        DictionaryLookup contract, in automaton order.  No-match for
        words the dictionary charset cannot encode (Java's
        CharsetEncoder reports the unmappable char and the filter
        passes the token through) and for words containing the
        separator byte (DictionaryLookup rejects them — they would
        otherwise walk into the encoded-lemma/tag region)."""
        try:
            wb = word.encode(self.encoding)
        except UnicodeEncodeError:
            return []
        if self.separator in wb:
            return []
        arc = self.fsa.walk(self.fsa.root(), wb + bytes([self.separator]))
        if arc is None:
            return []
        out = []
        target = self.fsa.arc_target(arc)
        if target == 0:
            return []
        a = self.fsa.first_arc(target)
        while a is not None:
            for seq in self.fsa.sequences_from(a):
                code, _, tag = seq.partition(bytes([self.separator]))
                lemma = _decode_lemma(wb, code, self.encoder)
                out.append(
                    (
                        lemma.decode(self.encoding, errors="replace"),
                        tag.decode(self.encoding, errors="replace"),
                    )
                )
            a = self.fsa.next_arc(a)
        return out


_TEST_DICT = None


def test_dictionary() -> MorfologikDictionary:
    """The reference module's own compiled custom-dictionary fixture."""
    global _TEST_DICT
    if _TEST_DICT is None:
        base = Path(__file__).resolve().parents[2] / "fixtures" / "morfologik"
        _TEST_DICT = MorfologikDictionary(str(base / "custom-dictionary.dict"))
    return _TEST_DICT


def morfologik_lemmas(
    token: str, dictionary: MorfologikDictionary
) -> list[str]:
    """MorfologikFilter per-token semantics: surface lookup, lowercase
    fallback, distinct lemmas in order; [] means pass the token
    through unchanged."""
    hits = dictionary.lookup(token)
    if not hits:
        low = token.lower()
        if low != token:
            hits = dictionary.lookup(low)
    seen = set()
    out = []
    for lemma, _tag in hits:
        if lemma not in seen:
            seen.add(lemma)
            out.append(lemma)
    return out


def morfologik_analyze_batch_flat(content, dictionary=None):
    """Whitespace-tokenized lemmatization over one Arrow batch
    (build_tables ``analyzer=`` contract): every lemma of a matched
    token stacks at the token's position (posIncr 0 analog); unmatched
    tokens pass through."""
    if dictionary is None:
        dictionary = test_dictionary()
    return analyze_chain(
        content,
        whitespace_tokenizer,
        lambda tok: morfologik_lemmas(tok, dictionary) or tok,
    )
