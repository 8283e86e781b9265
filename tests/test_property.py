"""Randomized property tests (hypothesis) — the BasePostingsFormatTestCase
discipline (lucene/test-framework/.../index/BasePostingsFormatTestCase.java:
any postings format must round-trip arbitrary posting lists) applied to
our codecs, the block encoder, and the analyzer.

These are pure-Python/numpy — no Spark session needed, so they run fast
and explore far more cases than the fixture corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.analysis import analyze_batch_flat, analyze_text
from lucene_solr_spark.analysis.tokenizer import tokenize
from lucene_solr_spark.codecs.forutil import BLOCK_SIZE, for_decode, for_encode
from lucene_solr_spark.codecs.postings import (
    decode_block_positions,
    decode_posting_block,
    encode_posting_blocks,
)
from lucene_solr_spark.codecs.vbyte import vbyte_decode, vbyte_encode
from lucene_solr_spark.scoring.bm25 import (
    NORM_TABLE,
    byte315_to_float,
    encode_norm,
    float_to_byte315,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (vbyte_decode(vbyte_encode(arr)) == arr).all()


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**31 - 1),
        min_size=1,
        max_size=BLOCK_SIZE,
    )
)
@settings(max_examples=200, deadline=None)
def test_for_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (for_decode(for_encode(arr)) == arr).all()


@given(
    st.integers(min_value=1, max_value=500),  # n postings
    st.integers(min_value=0, max_value=2**40),  # docid offset
    st.randoms(use_true_random=False),
)
@settings(max_examples=100, deadline=None)
def test_posting_blocks_roundtrip(n, base, rnd):
    rng = np.random.default_rng(rnd.randint(0, 2**32))
    gaps = rng.integers(1, 1000, n).astype(np.uint64)
    docs = np.cumsum(gaps) + np.uint64(base)
    tfs = rng.integers(1, 50, n).astype(np.uint64)
    pos = np.concatenate(
        [np.sort(rng.choice(10000, int(t), replace=False)).astype(np.uint64) for t in tfs]
    )
    blocks = encode_posting_blocks(docs, tfs, pos)
    rd, rt, rp = [], [], []
    for b in blocks:
        d, t = decode_posting_block(
            b["base_docid"], b["count"], b["docs_bin"], b["tfs_bin"]
        )
        rd.append(d)
        rt.append(t)
        rp.extend(decode_block_positions(t, b["pos_bin"]))
    assert (np.concatenate(rd) == docs).all()
    assert (np.concatenate(rt) == tfs).all()
    assert (np.concatenate(rp) == pos).all()
    # block metadata invariants (skip-list / WAND contract)
    for b in blocks:
        d, t = decode_posting_block(
            b["base_docid"], b["count"], b["docs_bin"], b["tfs_bin"]
        )
        assert int(d[-1]) == b["max_docid"] and int(t.max()) == b["max_tf"]
        assert int(t.sum()) == b["sum_tf"]


@given(st.floats(min_value=0.0, max_value=1e6, allow_nan=False))
@settings(max_examples=300, deadline=None)
def test_byte315_quantization_monotone(x):
    """TestBM25Similarity-style: encode is monotone, decode(encode(x)) ≤ x
    region behavior per SmallFloat truncation."""
    b = int(float_to_byte315(np.float32(x)))
    assert 0 <= b <= 255
    if x > 0:
        y = float(byte315_to_float(b))
        assert y >= 0


@given(st.integers(min_value=1, max_value=1_000_000))
@settings(max_examples=200, deadline=None)
def test_norm_table_consistency(length):
    nb = int(encode_norm(np.array([length]))[0]) & 0xFF
    assert NORM_TABLE[nb] >= 0


@given(st.text(max_size=400))
@settings(max_examples=300, deadline=None)
def test_analyzer_invariants(text):
    tokens, positions = tokenize(text)
    # positions strictly increasing; every token within length bound
    assert positions == sorted(positions)
    assert len(set(positions)) == len(positions)
    assert all(len(t) <= 255 for t in tokens)
    terms, pos2 = analyze_text(text)
    # stop removal only drops entries, never renumbers
    assert set(pos2) <= set(positions)
    assert all(t == t.lower() for t in terms)


# ASCII documents built from words (some over the 255-char limit, some
# joinable through . ' , ;) and separators
_WORD = st.one_of(
    st.text(alphabet="abXY019_", min_size=1, max_size=6),
    st.sampled_from(["a", "the", "it's", "3.14", "1,000", "x;2"]),
    st.text(alphabet="ab1", min_size=250, max_size=260),
)
_GLUE = st.sampled_from([" ", "  ", ".", "'", ",", ";", "..", "\t", "\n", "-", "!", ". "])
_DOC = st.lists(st.tuples(_WORD, _GLUE), max_size=12).map(
    lambda parts: "".join(w + g for w, g in parts)
)


@given(st.lists(_DOC, min_size=1, max_size=5))
@settings(max_examples=300, deadline=None)
def test_standard_tokenizer_paths_agree(texts):
    """The whole-batch ASCII blob path, the per-document path (the same
    batch plus one non-ASCII document) and single-document analyze_text
    emit the same terms at the same positions."""
    blob = analyze_batch_flat(pd.Series(texts))
    per_doc = analyze_batch_flat(pd.Series(texts + ["é"]))
    for i, text in enumerate(texts):
        want = analyze_text(text)
        for doc, terms, pos in (blob, per_doc):
            mine = doc == i
            assert (list(terms[mine]), pos[mine].tolist()) == want


# ---------------------------------------------------------------- spans
@given(
    pa=st.lists(st.integers(0, 40), min_size=1, max_size=12, unique=True),
    pb=st.lists(st.integers(0, 40), min_size=1, max_size=12, unique=True),
    slop=st.integers(0, 5),
)
@settings(max_examples=200, deadline=None)
def test_ordered_near_matches_iff_pair_exists(pa, pb, slop):
    """For a 2-clause ordered SpanNear, the greedy NearSpansOrdered
    traversal finds a match iff SOME in-order pair within slop exists
    (per driver position, the stretch picks the minimal partner — so
    doc-level match sets agree with the declarative ∃-pair semantics)."""
    from lucene_solr_spark.queries.spans import (
        SpanNearQuery,
        SpanTermQuery,
        eval_spans,
    )

    positions = {
        "a": np.asarray(sorted(pa), dtype=np.int64),
        "b": np.asarray(sorted(pb), dtype=np.int64),
    }
    q = SpanNearQuery(
        (SpanTermQuery("a"), SpanTermQuery("b")), slop=slop, in_order=True
    )
    greedy = eval_spans(q, positions)
    exists = any(
        b >= a + 1 and (b - a - 1) <= slop
        for a in positions["a"]
        for b in positions["b"]
    )
    assert bool(greedy) == exists
    # every emitted span is a genuine in-order within-slop witness
    for s, e, w in greedy:
        assert s in positions["a"] and (e - 1) in positions["b"]
        assert w == (e - 1) - (s + 1) + 0 and 0 <= w <= slop


@given(
    pa=st.lists(st.integers(0, 30), min_size=1, max_size=10, unique=True),
    pb=st.lists(st.integers(0, 30), min_size=1, max_size=10, unique=True),
    slop=st.integers(0, 4),
)
@settings(max_examples=200, deadline=None)
def test_unordered_near_is_superset_of_ordered(pa, pb, slop):
    """Unordered near accepts at least the doc-level matches ordered
    near does (any in-order witness is also an unordered window)."""
    from lucene_solr_spark.queries.spans import (
        SpanNearQuery,
        SpanTermQuery,
        eval_spans,
    )

    positions = {
        "a": np.asarray(sorted(pa), dtype=np.int64),
        "b": np.asarray(sorted(pb), dtype=np.int64),
    }
    # distinct positions across the two "terms" (one token per slot)
    if set(pa) & set(pb):
        return
    mk = lambda o: SpanNearQuery(
        (SpanTermQuery("a"), SpanTermQuery("b")), slop=slop, in_order=o
    )
    ordered = eval_spans(mk(True), positions)
    unordered = eval_spans(mk(False), positions)
    if ordered:
        assert unordered
