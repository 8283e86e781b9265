"""Analysis chains: a tokenizer plus a per-token function, run by one
batch driver.

Lucene builds every analyzer as a Tokenizer followed by TokenFilters.
Here a chain is a pair ``(tokenizer, token_fn)``:

- A *tokenizer* maps a batch of document strings to ``(codes, vocab,
  counts)``: one vocabulary code per emitted token in document order,
  the distinct raw tokens, and each document's token count.  A token's
  position is its index in its document.  A ``None`` vocabulary entry
  is a hole: it takes its position but emits nothing.
  :func:`per_document` lifts a ``str -> list[str]`` splitter into a
  tokenizer.
- A *token function* maps one raw token to ``None`` (dropped, its
  position gap kept — FilteringTokenFilter.java:46-60), one term, or a
  list of terms stacked at the token's position (positionIncrement 0).

:func:`analyze_chain_codes` is the driver.  It calls the token function
once per DISTINCT raw token of the batch (corpus token frequency follows
Zipf, so per-token Python is paid per unique term) and expands the
results back with numpy gathers.  Null or NaN content is an empty
document.

StandardAnalyzer (StandardAnalyzer.java:102-108) is
:func:`standard_tokenizer` + :func:`lowercase_stop`.  Field length for
norms counts only the tokens the final stream emits
(FieldInvertState.length, index/DefaultIndexingChain.java:759-771),
i.e. kept tokens after stop removal.
"""

from __future__ import annotations

from functools import partial
from itertools import chain

import numpy as np
import pandas as pd

from lucene_solr_spark.analysis.porter import porter_stem, strip_possessive
from lucene_solr_spark.analysis.stopwords import ENGLISH_STOP_WORDS
from lucene_solr_spark.analysis.tokenizer import (
    _ASCII_FULL,
    DEFAULT_MAX_TOKEN_LENGTH,
    raw_tokens,
    tokenize,
)


def _ragged(lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Items laid end to end with ``lens[i]`` slots each → per slot, the
    owning item and the slot's index within it."""
    if lens.size and lens.max() <= 1:  # one slot or none per item
        owner = np.flatnonzero(lens)
        return owner, np.zeros(owner.size, dtype=np.int64)
    starts = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    total = int(starts[-1])
    # owner per slot without np.repeat (measured several times slower):
    # count the item starts landing on each slot, then cumsum
    owner = np.cumsum(np.bincount(starts[1:-1], minlength=total + 1)[:total])
    return owner, np.arange(total, dtype=np.int64) - starts[owner]


def _expand(codes: np.ndarray, lens: np.ndarray, flat: np.ndarray):
    """Unique item ``i`` owns ``lens[i]`` consecutive entries of ``flat``;
    expand them for every occurrence ``codes[k]`` → (occurrence ``k`` of
    each output, the output entries)."""
    off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    src, within = _ragged(lens[codes])
    return src, flat[off[codes[src]] + within]


def _factorize(values) -> tuple[np.ndarray, np.ndarray]:
    codes, uniques = pd.factorize(pd.Series(values, dtype=object), sort=False)
    return codes, np.asarray(uniques, dtype=object)


def per_document(split):
    """Tokenizer that runs ``split(text) -> list[str]`` on each document."""

    def tokenizer(texts: list[str]):
        lists = [split(t) for t in texts]
        counts = np.fromiter(map(len, lists), dtype=np.int64, count=len(lists))
        return (*_factorize(list(chain.from_iterable(lists))), counts)

    return tokenizer


whitespace_tokenizer = per_document(str.split)


def analyze_chain_codes(content, tokenizer, token_fn):
    """The batch driver → ``(doc_index, term_codes, vocab, positions)``:
    per-token ints plus the vocabulary of emitted terms, so inverted-index
    kernels can sort/group by code without re-factorizing strings."""
    texts = pd.Series(content, dtype=object).fillna("").astype(str).tolist()
    codes, vocab, counts = tokenizer(texts)
    doc_idx, pos = _ragged(counts)
    outs = []
    for v in vocab:
        o = None if v is None else token_fn(v)
        outs.append(() if o is None else (o,) if isinstance(o, str) else o)
    lens = np.fromiter(map(len, outs), dtype=np.int64, count=len(outs))
    out_codes, terms = _factorize(list(chain.from_iterable(outs)))
    src, term_codes = _expand(codes, lens, out_codes)
    return doc_idx[src], term_codes, terms, pos[src]


def analyze_chain(content, tokenizer, token_fn):
    """The batch driver → flat ``(doc_index, terms, positions)``, the
    ``build_tables(analyzer=...)`` contract."""
    doc_idx, codes, terms, pos = analyze_chain_codes(content, tokenizer, token_fn)
    return doc_idx, terms[codes], pos


# ------------------------------------------------ the standard tokenizer
# Whole-batch ASCII path: every ASCII char that can neither appear inside
# a token ([A-Za-z0-9_]) nor join token segments (. ' , ;) becomes a
# space.  '|' is not a token/joiner char, so every natural occurrence is
# translated to a space BEFORE the join — surviving '|' blobs are exactly
# the document separators (and '|' is not str.split whitespace, unlike
# \x1c–\x1f).
_SEP = "|"
_BLOB_KEEP = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_.',;"
)
_BLOB_TABLE = str.maketrans(
    {i: " " for i in range(128) if chr(i) not in _BLOB_KEEP}
)
_PUNCT = set(".',;")


def _batch_blob_split(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc translate + ONE split over the joined batch → (blob array,
    per-blob doc index).  Blobs are maximal runs of token/joiner chars;
    the UAX#29 work then runs once per UNIQUE blob, not once per doc."""
    big = (" " + _SEP + " ").join(t.translate(_BLOB_TABLE) for t in texts)
    blobs = np.array(big.split(), dtype=object)
    is_sep = blobs == _SEP
    doc_of_blob = np.cumsum(is_sep, dtype=np.int64)
    return blobs[~is_sep], doc_of_blob[~is_sep]


_split_blobs = per_document(
    lambda b: [b] if _PUNCT.isdisjoint(b) else _ASCII_FULL.findall(b)
)
_split_docs = per_document(raw_tokens)


def standard_tokenizer(
    texts: list[str], max_token_length: int = DEFAULT_MAX_TOKEN_LENGTH
):
    """StandardTokenizer over a batch (UAX#29 subset, analysis/tokenizer.py).

    All-ASCII batches (the overwhelmingly common case for source code)
    take the whole-batch path: one C-level translate + split over the
    concatenated batch, then the ASCII UAX#29 pattern once per UNIQUE
    blob, expanded to tokens with int gathers.  Other batches run
    ``raw_tokens`` per document.  A token longer than
    ``max_token_length`` becomes a hole: skipped, but it still takes its
    position (StandardTokenizer.java:182-192)."""
    if texts and all(t.isascii() for t in texts):
        blobs, doc_of_blob = _batch_blob_split(texts)
        blob_codes, ublobs = _factorize(blobs)
        ucodes, vocab, ulens = _split_blobs(ublobs)
        blob_of_tok, codes = _expand(blob_codes, ulens, ucodes)
        counts = np.bincount(doc_of_blob[blob_of_tok], minlength=len(texts))
    else:
        codes, vocab, counts = _split_docs(texts)
    vlen = np.fromiter(map(len, vocab), dtype=np.int64, count=vocab.size)
    vocab[vlen > max_token_length] = None
    return codes, vocab, counts


# ---------------------------------------------------- token functions
def lowercase_stop(stopwords: frozenset[str] = ENGLISH_STOP_WORDS):
    """Token function LowerCaseFilter → StopFilter (None = stopped)."""

    def token_fn(token: str):
        low = token.lower()
        return None if low in stopwords else low

    return token_fn


def _english_token(stopwords: frozenset[str], token: str):
    # EnglishPossessiveFilter runs BEFORE the stop filter — chain order
    # matters for "it's" → "it"
    t = strip_possessive(token.lower())
    return None if t in stopwords else porter_stem(t)


# ------------------------------------------------------------- chains
def analyze_text(
    text: str,
    stopwords: frozenset[str] = ENGLISH_STOP_WORDS,
    max_token_length: int = DEFAULT_MAX_TOKEN_LENGTH,
) -> tuple[list[str], list[int]]:
    """StandardAnalyzer over one document (the query side) → (terms,
    positions) with stop gaps preserved; no pandas on this path."""
    token_fn = lowercase_stop(stopwords)
    terms: list[str] = []
    out_pos: list[int] = []
    for tok, pos in zip(*tokenize(text, max_token_length)):
        t = token_fn(tok)
        if t is not None:
            terms.append(t)
            out_pos.append(pos)
    return terms, out_pos


def analyze_batch_flat(
    content: pd.Series,
    stopwords: frozenset[str] = ENGLISH_STOP_WORDS,
    max_token_length: int = DEFAULT_MAX_TOKEN_LENGTH,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """StandardAnalyzer over one batch → ``(doc_index, terms, positions)``."""
    return analyze_chain(
        content,
        partial(standard_tokenizer, max_token_length=max_token_length),
        lowercase_stop(stopwords),
    )


def analyze_batch_codes(
    content: pd.Series,
    stopwords: frozenset[str] = ENGLISH_STOP_WORDS,
    max_token_length: int = DEFAULT_MAX_TOKEN_LENGTH,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """StandardAnalyzer over one batch → ``(doc_index, term_codes, vocab,
    positions)`` (see :func:`analyze_chain_codes`)."""
    return analyze_chain_codes(
        content,
        partial(standard_tokenizer, max_token_length=max_token_length),
        lowercase_stop(stopwords),
    )


def english_analyze_batch_flat(
    content: pd.Series,
    stopwords: frozenset[str] = ENGLISH_STOP_WORDS,
    max_token_length: int = DEFAULT_MAX_TOKEN_LENGTH,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """EnglishAnalyzer chain (analysis/en/EnglishAnalyzer.java:99-108):
    StandardTokenizer → possessive strip → lowercase → stop → Porter
    stem."""
    return analyze_chain(
        content,
        partial(standard_tokenizer, max_token_length=max_token_length),
        partial(_english_token, stopwords),
    )
