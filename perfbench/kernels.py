"""Direct single-core measurements of the Python-worker kernels: the
analyzer and the postings codec, called outside Spark on the benchmark
corpus and on blocks read back from the built index with pyarrow."""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from lucene_solr_spark.analysis import analyze_batch_codes
from lucene_solr_spark.codecs.postings import (
    decode_block_lens,
    decode_block_positions,
    decode_posting_block,
    encode_segment_blocks,
)

ANALYZE_BATCH = 1000
CODEC_MAX_POSTINGS = 40_000


def analysis_tokens_per_s(texts: list[str]) -> float:
    """Kept tokens per second of ``analyze_batch_codes`` over the corpus."""
    tokens = 0
    t0 = time.perf_counter()
    for i in range(0, len(texts), ANALYZE_BATCH):
        doc_idx, _, _, _ = analyze_batch_codes(pd.Series(texts[i : i + ANALYZE_BATCH]))
        tokens += doc_idx.size
    return tokens / (time.perf_counter() - t0)


def read_blocks(data_dir: str, segment: int) -> pd.DataFrame:
    """One segment's posting-block rows, terms in order, capped at about
    ``CODEC_MAX_POSTINGS`` postings (whole terms only)."""
    files = sorted(glob.glob(os.path.join(data_dir, f"segment={segment}", "*.parquet")))
    cols = ["kind", "term", "block_id", "base_docid", "count",
            "docs_bin", "tfs_bin", "pos_bin", "lens_bin"]
    pdf = pd.concat([pq.read_table(f, columns=cols).to_pandas() for f in files])
    pdf = pdf[pdf["kind"] == 0].sort_values(["term", "base_docid"], kind="stable")
    term_total = pdf.groupby("term", sort=False)["count"].transform("sum")
    cum = term_total.where(~pdf["term"].duplicated(), 0).cumsum()
    return pdf[cum <= CODEC_MAX_POSTINGS].reset_index(drop=True)


def codec_rates(blocks: pd.DataFrame) -> dict:
    """Decode every block, re-encode the decoded segment slice with the
    build's batched encoder, and check the bytes round-trip."""
    t0 = time.perf_counter()
    docs, tfs, pos, lens = [], [], [], []
    for base, cnt, db, tb, pb, lb in zip(
        blocks["base_docid"], blocks["count"], blocks["docs_bin"],
        blocks["tfs_bin"], blocks["pos_bin"], blocks["lens_bin"],
    ):
        d, t = decode_posting_block(base, cnt, db, tb)
        docs.append(d)
        tfs.append(t)
        pos.extend(decode_block_positions(t, pb))
        lens.append(decode_block_lens(lb))
    decode_s = time.perf_counter() - t0

    p_docs = np.concatenate(docs).astype(np.int64)
    p_tfs = np.concatenate(tfs).astype(np.int64)
    positions = np.concatenate(pos).astype(np.uint64)
    run_lens = np.concatenate(lens).astype(np.int64)
    per_term = blocks.groupby("term", sort=False)["count"].sum().to_numpy()
    t_ends = np.cumsum(per_term)
    t_starts = t_ends - per_term
    t0 = time.perf_counter()
    enc = encode_segment_blocks(p_docs, p_tfs, positions, t_starts, t_ends, run_lens=run_lens)
    encode_s = time.perf_counter() - t0

    n = int(p_docs.size)
    payload = sum(  # a null stream (e.g. no tfs when every tf is 1) holds 0 bytes
        len(v) for c in ("docs_bin", "tfs_bin", "pos_bin", "lens_bin")
        for v in blocks[c] if v is not None
    )
    round_trip = all(
        list(enc[c]) == list(blocks[c]) for c in ("docs_bin", "tfs_bin", "pos_bin", "lens_bin")
    )
    return {
        "decode_postings_per_s": n / decode_s,
        "encode_postings_per_s": n / encode_s,
        "bytes_per_posting": payload / n,
        "postings": n,
        "round_trip": round_trip,
    }
