"""PolishAnalyzer chain: the Stempel (Egothor) trained-table stemmer.

Closes the r1–r4 "stempel is a documented exclusion" row: the trained
stemming table the exclusion hinged on (`stemmer_20000.tbl`, 2.2 MB)
IS shipped with the reference module, so the chain is fully
reconstructable — the table is carried (gzipped) as a fixture and the
Egothor runtime is ported:

- table deserialization — the DataInput wire format of
  `org/egothor/stemmer/Trie.java:84-93` (forward flag, root index,
  UTF patch commands, rows) and `Row.java:78-88` (cells keyed by
  UTF-16 char: cmd/cnt/ref/skip ints), wrapped per
  `MultiTrie.java:83-90` (forward, BY, N sub-tries; method header
  "-0ME2" selects MultiTrie2 per `StempelStemmer.java:64-76`);
- lookup — `Trie.getLastOnPath` (Trie.java:274-295: walk rows by
  StrEnum order, remember the last command passed) composed across
  sub-tries by `MultiTrie2.getLastOnPath` (MultiTrie2.java:94-130:
  per-trie command concatenation with the cannotFollow guard, '-'
  command key skipping via lengthPP, and the reference's own
  catch-IndexOutOfBounds partial-result semantics — replicated
  exactly, including the exceptions-as-control-flow);
- patch application — `Diff.apply` (Diff.java:106-151: '-' move,
  'R' replace, 'D' delete, 'I' insert, right-to-left cursor, partial
  application preserved on out-of-bounds);
- the analyzer chain — `PolishAnalyzer.java:139-148`:
  StandardTokenizer → lowercase → Polish stop set (the carrot2 list,
  fixtures/stempel/stopwords_pl.txt) → StempelFilter
  (`StempelFilter.java:71-81`: stem tokens LONGER than 3 chars,
  unstemmable tokens pass through unchanged).

Correctness: the TestPolishAnalyzer goldens (studenta/studenci →
student, "był" stopped, exclusion semantics) plus structural pins on
the loaded table (8 sub-tries, backward orientation) in
tests/test_stempel.py; the driver gate `polish_analysis` replays the
chain against a closed per-token oracle map like every other language
chain.
"""

from __future__ import annotations

import gzip
from functools import partial
from pathlib import Path

from lucene_solr_spark.analysis.analyzer import analyze_chain, standard_tokenizer

_EOM = "*"


class _Trie:
    __slots__ = ("forward", "root", "cmds", "rows")

    def __init__(self, forward, root, cmds, rows):
        self.forward = forward
        self.root = root
        self.cmds = cmds
        self.rows = rows  # list[dict[ch, (cmd, ref)]]

    def get_last_on_path(self, key: str):
        row = self.rows[self.root]
        last = None
        n = len(key)
        for i in range(n - 1):
            ch = key[i] if self.forward else key[n - 1 - i]
            cell = row.get(ch)
            if cell is not None and cell[0] >= 0:
                last = self.cmds[cell[0]]
            if cell is not None and cell[1] >= 0:
                row = self.rows[cell[1]]
            else:
                return last
        # the final StrEnum.next() — IndexError on empty keys is part
        # of the contract (caught by MultiTrie2, as in the reference)
        ch = key[n - 1] if self.forward else key[0]
        cell = row.get(ch)
        if cell is not None and cell[0] >= 0:
            return self.cmds[cell[0]]
        return last


class _MultiTrie2:
    __slots__ = ("forward", "tries")

    def __init__(self, forward, tries):
        self.forward = forward
        self.tries = tries

    def _skip(self, s: str, count: int) -> str:
        # Java subSequence throws on count > length — exceptions ARE
        # the reference's control flow here
        if count < 0 or count > len(s):
            raise IndexError(count)
        return s[count:] if self.forward else s[: len(s) - count]

    @staticmethod
    def _cannot_follow(after: str, goes: str) -> bool:
        return after in "-D" and after == goes

    @staticmethod
    def _length_pp(cmd: str) -> int:
        ln = 0
        i = 0
        while i < len(cmd):
            c = cmd[i]
            i += 1
            if c in "-D":
                ln += ord(cmd[i]) - ord("a") + 1
            elif c == "R":
                ln += 1
            # 'I' adds nothing (reference fallthrough)
            i += 1
        return ln

    def get_last_on_path(self, key: str) -> str:
        result = []
        try:
            lastkey = key
            lastch = " "
            prev = None
            for t in self.tries:
                r = t.get_last_on_path(lastkey)
                if r is None or (len(r) == 1 and r[0] == _EOM):
                    return "".join(result)
                if self._cannot_follow(lastch, r[0]):
                    return "".join(result)
                lastch = r[-2]  # IndexError on 1-char r, as in Java
                if r[0] == "-":
                    if prev is not None:
                        key = self._skip(key, self._length_pp(prev))
                    key = self._skip(key, self._length_pp(r))
                prev = r
                result.append(r)
                if len(key) != 0:
                    lastkey = key
        except IndexError:
            pass
        return "".join(result)


def _read_utf(buf: bytes, off: int):
    n = (buf[off] << 8) | buf[off + 1]
    return buf[off + 2 : off + 2 + n].decode("utf-8"), off + 2 + n


def _read_int(buf: bytes, off: int):
    return int.from_bytes(buf[off : off + 4], "big", signed=True), off + 4


def _read_trie(buf: bytes, off: int):
    forward = buf[off] != 0
    off += 1
    root, off = _read_int(buf, off)
    ncmds, off = _read_int(buf, off)
    cmds = []
    for _ in range(ncmds):
        s, off = _read_utf(buf, off)
        cmds.append(s)
    nrows, off = _read_int(buf, off)
    rows = []
    for _ in range(nrows):
        ncells, off = _read_int(buf, off)
        cells = {}
        for _ in range(ncells):
            ch = chr((buf[off] << 8) | buf[off + 1])
            off += 2
            cmd, off = _read_int(buf, off)
            _cnt, off = _read_int(buf, off)
            ref, off = _read_int(buf, off)
            _skp, off = _read_int(buf, off)
            cells[ch] = (cmd, ref)
        rows.append(cells)
    return _Trie(forward, root, cmds, rows), off


def load_stempel_table(path: "str | None" = None):
    """Parse a Stempel .tbl (optionally .gz) into the trie runtime."""
    if path is None:
        path = str(
            Path(__file__).resolve().parents[2]
            / "fixtures"
            / "stempel"
            / "stemmer_20000.tbl.gz"
        )
    raw = Path(path).read_bytes()
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    method, off = _read_utf(raw, 0)
    if "M" not in method.upper():
        trie, _ = _read_trie(raw, off)
        return trie
    forward = raw[off] != 0
    off += 1
    _by, off = _read_int(raw, off)
    ntries, off = _read_int(raw, off)
    tries = []
    for _ in range(ntries):
        t, off = _read_trie(raw, off)
        tries.append(t)
    return _MultiTrie2(forward, tries)


def diff_apply(word: str, diff: "str | None") -> str:
    """Egothor Diff.apply: patch commands over a right-to-left cursor;
    out-of-bounds aborts mid-application keeping the partial result
    (the reference catches and ignores, Diff.java:146-150)."""
    if diff is None:
        return word
    dest = list(word)
    pos = len(dest) - 1
    if pos < 0:
        return word
    try:
        for i in range(len(diff) // 2):
            cmd = diff[2 * i]
            param = diff[2 * i + 1]
            par_num = ord(param) - ord("a") + 1
            if cmd == "-":
                pos = pos - par_num + 1
            elif cmd == "R":
                if pos < 0 or pos >= len(dest):
                    raise IndexError(pos)
                dest[pos] = param
            elif cmd == "D":
                o = pos
                pos -= par_num - 1
                # StringBuilder.delete: start<0 / start>len / start>end
                if pos < 0 or pos > len(dest) or pos > o + 1:
                    raise IndexError(pos)
                del dest[pos : o + 1]
            elif cmd == "I":
                pos += 1
                if pos < 0 or pos > len(dest):
                    raise IndexError(pos)
                dest.insert(pos, param)
            pos -= 1
    except IndexError:
        pass
    return "".join(dest)


_TABLE = None


def _table():
    global _TABLE
    if _TABLE is None:
        _TABLE = load_stempel_table()
    return _TABLE


def stempel_stem(word: str) -> "str | None":
    """StempelStemmer.stem: trie lookup → Diff.apply; None when no
    command exists or the patched buffer is empty (caller keeps the
    original token, StempelFilter.java:73-77)."""
    cmd = _table().get_last_on_path(word)
    if cmd is None:
        return None
    out = diff_apply(word, cmd)
    return out if out else None


def _load_stops() -> frozenset:
    p = (
        Path(__file__).resolve().parents[2]
        / "fixtures"
        / "stempel"
        / "stopwords_pl.txt"
    )
    words = []
    for line in p.read_text(encoding="utf-8").splitlines():
        line = line.strip()
        if line and not line.startswith("#"):
            words.append(line)
    return frozenset(words)


POLISH_STOP_WORDS = _load_stops()

_MIN_LENGTH = 3  # StempelFilter.DEFAULT_MIN_LENGTH


_EMPTY: frozenset = frozenset()


def polish_token(tok: str, exclusions: frozenset = _EMPTY) -> "str | None":
    """One token through lowercase → stop → stempel (None = stopped).
    ``exclusions`` is the stemExclusionSet (SetKeywordMarkerFilter in
    the reference chain, PolishAnalyzer.java:144-145): matching tokens
    skip the stemmer but keep lowercase/stop treatment."""
    t = tok.lower()
    if t in POLISH_STOP_WORDS:
        return None
    if len(t) > _MIN_LENGTH and t not in exclusions:
        sb = stempel_stem(t)
        if sb is not None:
            return sb
    return t


def polish_analyze_batch_flat(content, exclusions: frozenset = _EMPTY):
    """PolishAnalyzer over one Arrow batch (build_tables ``analyzer=``
    contract): StandardTokenizer → lowercase → pl stop (position gaps
    preserved) → StempelFilter(min_length=3)."""
    return analyze_chain(
        content, standard_tokenizer, partial(polish_token, exclusions=exclusions)
    )
