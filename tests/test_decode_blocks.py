"""``decode_blocks``: the batched block decoder every reader uses.

Pinned array for array to the per-block reference decoders
(``decode_posting_block`` / ``decode_block_positions`` /
``decode_block_lens``), and loud on the corruptions that a joined
decode would otherwise turn into silently shifted postings.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.codecs.postings import (
    decode_block_lens,
    decode_block_positions,
    decode_blocks,
    decode_posting_block,
    encode_posting_blocks,
)


@st.composite
def term_lists(draw):
    """One term's sorted posting list; the shape is drawn, the bulk
    values come from a drawn seed."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    n = draw(st.one_of(st.integers(1, 300), st.sampled_from([128, 256])))
    gap_bits = draw(st.sampled_from([1, 7, 20, 40]))
    docs = np.uint64(rng.integers(0, 2**40)) + np.cumsum(
        rng.integers(1, 2**gap_bits + 1, n, dtype=np.uint64), dtype=np.uint64
    )
    tf_mode = draw(st.sampled_from(["random", "ones", "equal"]))
    if tf_mode == "random":
        tfs = rng.integers(1, 60, n).astype(np.uint64)
    else:
        tfs = np.full(n, 1 if tf_mode == "ones" else rng.integers(2, 9), dtype=np.uint64)
    pos = None
    if draw(st.booleans()):
        top = 2 ** draw(st.integers(1, 30))
        pos = np.concatenate(
            [np.sort(rng.integers(0, top, int(k))) for k in tfs]
        ).astype(np.uint64)
    lens = rng.integers(1, 2**20, n) if draw(st.booleans()) else None
    return docs, tfs, pos, lens


@settings(max_examples=60, deadline=None)
@given(st.lists(term_lists(), min_size=1, max_size=4), st.data())
def test_decode_blocks_equals_per_block_reference(terms, data):
    with_pos = data.draw(st.booleans())
    with_lens = data.draw(st.booleans())
    recs, names = [], []
    for t, (docs, tfs, pos, lens) in enumerate(terms):
        pos = pos if with_pos else None
        if with_pos and pos is None:  # every term of a batch has positions
            pos = np.concatenate([np.arange(int(k)) for k in tfs]).astype(np.uint64)
        if with_lens and lens is None:
            lens = np.ones(docs.size, dtype=np.int64)
        for rec in encode_posting_blocks(docs, tfs, pos, lens if with_lens else None):
            recs.append(rec)
            names.append(f"t{t}")

    def col(c):
        return [r[c] for r in recs]

    got = decode_blocks(
        col("base_docid"), col("count"), col("docs_bin"), col("tfs_bin"),
        col("pos_bin") if with_pos else None,
        col("lens_bin") if with_lens else None,
        terms=names,
    )
    blocks, docs, tfs, pos, lens = [], [], [], [], []
    for i, r in enumerate(recs):
        d, t = decode_posting_block(r["base_docid"], r["count"], r["docs_bin"], r["tfs_bin"])
        blocks.append(np.full(d.size, i))
        docs.append(d)
        tfs.append(t)
        if with_pos:
            pos.extend(decode_block_positions(t, r["pos_bin"]))
        if with_lens:
            lens.append(decode_block_lens(r["lens_bin"]))
    np.testing.assert_array_equal(got.block, np.concatenate(blocks))
    np.testing.assert_array_equal(got.doc_id, np.concatenate(docs).astype(np.int64))
    np.testing.assert_array_equal(got.tf, np.concatenate(tfs).astype(np.int64))
    if with_pos:
        np.testing.assert_array_equal(got.pos_offsets, np.cumsum([0] + [p.size for p in pos]))
        np.testing.assert_array_equal(got.positions, np.concatenate(pos).astype(np.int64))
    else:
        assert got.pos_offsets is None and got.positions is None
    if with_lens:
        np.testing.assert_array_equal(got.length, np.concatenate(lens).astype(np.int64))
    else:
        assert got.length is None


def test_decode_blocks_reads_arrow_columns_and_empty_batches():
    recs = encode_posting_blocks(
        np.array([2, 5, 9], dtype=np.uint64), np.array([1, 3, 1], dtype=np.uint64),
        np.array([4, 0, 1, 7, 2], dtype=np.uint64), np.array([5, 8, 3]),
    )
    cols = {c: pa.array([r[c] for r in recs]) for c in recs[0]}
    got = decode_blocks(
        cols["base_docid"], cols["count"], cols["docs_bin"],
        pa.array([None], type=pa.binary()), cols["pos_bin"], cols["lens_bin"],
    )
    assert got.doc_id.tolist() == [2, 5, 9] and got.tf.tolist() == [1, 3, 1]
    assert got.positions.tolist() == [4, 0, 1, 7, 2] and got.length.tolist() == [5, 8, 3]
    empty = decode_blocks([], [], [], [], [], [])
    assert empty.doc_id.size == 0 and empty.pos_offsets.tolist() == [0]


# -- corruptions --------------------------------------------------------
# "x": docs 3, 7, 9 with tfs 1, 2, 3 — one VByte tail block whose docs
# stream is 01 08 02 04 03 (gap 0 flagged tf=1; gap 4, tf 2; gap 2, tf 3).
# Each corruption maps to what decode_blocks says about it.
CORRUPTIONS = {
    "ends mid-value": (
        lambda r: {**r, "docs_bin": r["docs_bin"][:-1] + bytes([r["docs_bin"][-1] | 0x80])},
        "ends mid-value",
    ),
    "gap count differs from count": (
        lambda r: {**r, "count": r["count"] + 1}, "gap count differs from count"
    ),
    "last gap is even and has no tf after it": (
        lambda r: {**r, "docs_bin": r["docs_bin"][:-1]},
        "last gap is even and has no tf after it",
    ),
    "value after the last posting": (
        lambda r: {**r, "docs_bin": r["docs_bin"] + b"\x05"}, "gap count differs from count"
    ),
    "position count differs": (
        lambda r: {**r, "pos_bin": r["pos_bin"][:-1]}, "position count differs"
    ),
    "length count differs from count": (
        lambda r: {**r, "lens_bin": r["lens_bin"] + b"\x05"},
        "length count differs from count",
    ),
}


def _block(docs, tfs, pos, lens):
    (rec,) = encode_posting_blocks(
        np.array(docs, dtype=np.uint64), np.array(tfs, dtype=np.uint64),
        np.array(pos, dtype=np.uint64), np.array(lens),
    )
    return rec


def _reference_decode(r):
    """The per-block reference decoders over one block row."""
    _, tfs = decode_posting_block(r["base_docid"], r["count"], r["docs_bin"], r["tfs_bin"])
    decode_block_positions(tfs, r["pos_bin"])


@pytest.mark.parametrize("what", sorted(CORRUPTIONS))
def test_decode_blocks_raises_on_corrupt_block(what):
    x = _block([3, 7, 9], [1, 2, 3], [0, 1, 4, 0, 1, 2], [4, 6, 3])
    assert x["docs_bin"] == bytes([1, 8, 2, 4, 3])
    _reference_decode(x)
    ok = _block([1, 2], [1, 1], [0, 5], [2, 9])
    corrupt, says = CORRUPTIONS[what]
    recs = [ok, corrupt(x), ok]
    cols = [[r[c] for r in recs] for c in
            ("base_docid", "count", "docs_bin", "tfs_bin", "pos_bin", "lens_bin")]
    with pytest.raises(ValueError, match=f"block 1 of term 'x': .*{says}"):
        decode_blocks(*cols, terms=["a", "x", "b"])
    # the reference decoders refuse it too; decode_block_lens is given no
    # count, so a lengths stream of the wrong size is decode_blocks' alone
    if what != "length count differs from count":
        with pytest.raises(ValueError, match="corrupt posting block"):
            _reference_decode(recs[1])


def test_for_block_whose_count_disagrees_raises():
    """A full FOR block read with a row count that is not its header's."""
    (f,) = encode_posting_blocks(
        np.arange(0, 256, 2, dtype=np.uint64), np.ones(128, dtype=np.uint64),
        np.zeros(128, dtype=np.uint64), np.ones(128),
    )
    assert f["tfs_bin"] is not None and f["count"] == 128
    _reference_decode(f)
    bad = {**f, "count": 129}
    cols = [[bad[c]] for c in ("base_docid", "count", "docs_bin", "tfs_bin", "pos_bin")]
    with pytest.raises(ValueError, match="FOR header disagrees with count"):
        decode_blocks(*cols)
    with pytest.raises(ValueError, match="do not hold 129 postings"):
        decode_posting_block(bad["base_docid"], bad["count"], bad["docs_bin"], bad["tfs_bin"])


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    from lucene_solr_spark.index.segments import SegmentedIndex

    path = str(tmp_path_factory.mktemp("corrupt") / "base")
    rows = [(0, "alpha beta beta"), (1, "alpha gamma"), (2, "beta beta beta alpha")]
    idx = SegmentedIndex(spark, path)
    idx.build(spark.createDataFrame(rows, "doc_id long, content string"), num_segments=1)
    assert idx.check_index()["problems"] == []
    return path


def _corrupt_copy(small_index: str, tmp_path, what: str) -> str:
    """A copy of ``small_index`` whose "beta" block row (docs 0 and 2,
    tfs 2 and 3) has the corruption ``what`` written into it."""
    path = str(tmp_path / "idx")
    shutil.copytree(small_index, path)
    (part,) = [
        f for f in glob.glob(f"{path}/data/segment=0/*.parquet")
        if "beta" in pq.read_table(f, columns=["term"]).column("term").to_pylist()
    ]
    table = pq.read_table(part)
    rows = table.to_pylist()
    i = next(j for j, r in enumerate(rows) if r["kind"] == 0 and r["term"] == "beta")
    rows[i] = CORRUPTIONS[what][0](rows[i])
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), part)
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    os.remove(crc)  # the Hadoop checksum of the old bytes
    return path


@pytest.mark.parametrize("what", sorted(CORRUPTIONS))
def test_check_index_counts_a_corrupt_block(spark, small_index, tmp_path, what):
    """check_index reports a corrupt "beta" block instead of raising."""
    from lucene_solr_spark.index.segments import SegmentedIndex

    path = _corrupt_copy(small_index, tmp_path, what)
    assert SegmentedIndex(spark, path).check_index()["problems"] == ["1 corrupt blocks"]


@pytest.mark.parametrize("what", sorted(CORRUPTIONS))
def test_block_store_raises_on_a_corrupt_block(spark, small_index, tmp_path, what):
    """A searcher's block store holds the corrupt "beta" block as it is
    on disk, and the driver kernel's decode of it raises, naming it."""
    from lucene_solr_spark.index.segments import SegmentedIndex
    from lucene_solr_spark.queries.segment_searcher import SegmentSearcher

    s = SegmentSearcher(SegmentedIndex(spark, _corrupt_copy(small_index, tmp_path, what)))
    assert s.search("alpha", use_cache=False).collect()  # no beta block is decoded
    assert s._store is not None
    with pytest.raises(ValueError, match=f"of term 'beta': .*{CORRUPTIONS[what][1]}"):
        s.search('"beta beta"', use_cache=False)
