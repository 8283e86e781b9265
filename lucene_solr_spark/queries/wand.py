"""Block-max WAND top-k over the segmented block-encoded index.

The reference 7.0 has NO WAND (verified: no WANDScorer/impacts in
search/ — SURVEY §4.2); this exceeds it, per the north star.  The
block metadata written by the segment writer (max_docid, max_tf per
128-posting block — the skip-list analog, Lucene50SkipWriter.java:46)
doubles as the upper-bound source:

    ub(term, block) = weight·(k1+1)·max_tf / (max_tf + k1·(1−b))

(b-term lower-bounded at zero doc length — a valid upper bound for any
norm byte, since cache[n] = k1·((1−b)+b·NORM_TABLE[n]/avgdl) ≥ k1·(1−b)).

Execution model: each docID lives in exactly one segment, so segments
run WAND independently (one applyInPandas group per segment = the
per-leaf scoring loop of IndexSearcher.search, IndexSearcher.java:
640-655), each emitting its local top-k; the driver-side merge is
ORDER BY score DESC, doc_id ASC LIMIT k — bit-identical to
TopDocs.merge tie-breaks (search/TopDocs.java:209-260,
HitQueue.java:76-81).

Within a segment: a boundary sweep over the union of block intervals
processes elementary docID ranges in increasing-docID order, skipping
every range whose Σ block upper bounds ≤ the current heap threshold —
safe at equality *because* docIDs only increase: a later doc scoring
exactly θ loses the tie-break to the incumbent (SURVEY §7 hard part e).
Blocks are only FOR/VByte-decoded when their range survives the bound
check (the two-phase cheap-approximation / expensive-verify split,
search/TwoPhaseIterator.java).

Scoring is float32 bit-identical to the exhaustive path: per-term
float32 kernel, cross-term sum in float64, cast back to float32
(BM25Similarity.java:241-254; DisjunctionSumScorer sums in double).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import SegmentedIndex, collection_stats
from lucene_solr_spark.scoring.bm25 import BM25, idf as idf32


def _segment_wand(
    pdf: pd.DataFrame,
    term_weights: dict[str, float],
    cache: np.ndarray | None,
    k: int,
    k1: float,
    b: float,
    avgdl: float = 1.0,
) -> pd.DataFrame:
    """WAND over one segment's block rows + norm rows → local top-k.

    ``cache`` is the 256-entry byte315 norm cache (float32 lucene mode);
    ``cache=None`` switches to EXACT double scoring where the block's
    lens payload carries the raw field length and the freq-independent
    denominator is computed directly as k1·((1−b) + b·dl/avgdl) — same
    bound logic, no quantization.

    Norms come from each block's own ``lens_bin`` payload — the group
    receives ONLY term-pruned block rows, never the norms table (the
    per-leaf .nvd locality of Lucene70NormsFormat.java:37; previously
    every query shuffled the whole collection's norm rows into every
    segment group).
    """
    from lucene_solr_spark.codecs import postings
    from lucene_solr_spark.scoring.bm25 import encode_norm

    exact = cache is None
    ft = np.float64 if exact else np.float32  # the scoring precision

    # the block table: one entry per block, in (term, base_docid) order
    pdf = (
        pdf[pdf["term"].isin(list(term_weights))]
        .sort_values(["term", "base_docid"])
        .reset_index(drop=True)
    )
    if pdf.empty:
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype=ft)})
    wv = pdf["term"].map(term_weights).to_numpy(np.float64).astype(ft) * ft(k1 + 1)
    mtf = pdf["max_tf"].to_numpy(np.float64)
    # ×(1 + 1e-6) guards float32 rounding
    ub = (wv.astype(np.float64) * mtf / (mtf + k1 * (1.0 - b)) * (1.0 + 1e-6)).tolist()
    lo_b = pdf["base_docid"].to_numpy(np.int64)
    hi_b = pdf["max_docid"].to_numpy(np.int64)
    cnt = pdf["count"].to_numpy(np.int64)
    # the block columns as arrays once, so each interval's decode call
    # takes plain numpy slices of its new rows
    cols = {c: pdf[c].to_numpy() for c in ("term", "docs_bin", "tfs_bin", "lens_bin")}

    # elementary intervals from all block boundaries; blocks enter/leave
    # the active set via an O(#blocks) event sweep, never a rescan
    bounds = np.unique(np.concatenate([lo_b, hi_b + 1]))
    n_iv = len(bounds) - 1
    add_ev: list[list[int]] = [[] for _ in range(n_iv + 1)]
    rem_ev: list[list[int]] = [[] for _ in range(n_iv + 1)]
    for j, (si, ei) in enumerate(zip(
        np.searchsorted(bounds, lo_b).tolist(), np.searchsorted(bounds, hi_b + 1).tolist()
    )):
        add_ev[si].append(j)
        rem_ev[ei].append(j)
    heap: list[tuple[np.float32, int]] = []  # (score, -doc_id), size ≤ k

    def theta() -> float:
        return float(heap[0][0]) if len(heap) == k else -np.inf

    decoded: list = [None] * len(pdf)  # (docs, float64 scores) per block
    active: dict[int, None] = {}  # insertion-ordered set of block numbers
    ub_run = 0.0
    for i in range(n_iv):
        for j in rem_ev[i]:
            del active[j]
            ub_run -= ub[j]
        for j in add_ev[i]:
            active[j] = None
            ub_run += ub[j]
        if not active:
            continue
        lo, hi = int(bounds[i]), int(bounds[i + 1]) - 1
        if ub_run <= theta():
            continue  # equality-safe: later docIDs lose ties (HitQueue)
        # decode and score the newly active blocks in one call, then
        # gather candidate docs in [lo, hi]
        new = [j for j in active if decoded[j] is None]
        if new:
            dec = postings.decode_blocks(
                lo_b[new], cnt[new], cols["docs_bin"][new], cols["tfs_bin"][new],
                lens_bin=cols["lens_bin"][new], terms=cols["term"][new],
            )
            tfs = dec.tf.astype(ft)
            norm_add = (
                k1 * ((1.0 - b) + b * dec.length.astype(np.float64) / avgdl) if exact
                else cache[encode_norm(dec.length) & 0xFF]
            )
            # float64 accumulate
            s = (wv[new][dec.block] * tfs / (tfs + norm_add)).astype(np.float64)
            ends = np.cumsum(cnt[new])
            for j, a, z in zip(new, ends - cnt[new], ends):
                decoded[j] = (dec.doc_id[a:z], s[a:z])
        seg_docs: list[np.ndarray] = []
        seg_scores: list[np.ndarray] = []
        for j in active:
            d, sc = decoded[j]
            a = np.searchsorted(d, lo, side="left")
            z = np.searchsorted(d, hi, side="right")
            if a < z:
                seg_docs.append(d[a:z])
                seg_scores.append(sc[a:z])
        if not seg_docs:
            continue
        # vectorized per-doc accumulation: unique docIDs (sorted — the
        # increasing-docID order the equality-safe θ check relies on)
        # + np.add.at scatter, replacing the per-posting dict loop
        uniq_docs, inv = np.unique(np.concatenate(seg_docs), return_inverse=True)
        sums = np.zeros(len(uniq_docs), dtype=np.float64)
        np.add.at(sums, inv, np.concatenate(seg_scores))
        sc32s = sums.astype(ft)
        # θ only grows, so docs strictly below the current threshold can
        # never enter the heap — drop them before the Python heap loop
        if len(heap) == k:
            keep = sc32s >= heap[0][0]
            uniq_docs, sc32s = uniq_docs[keep], sc32s[keep]
        for doc, sc32 in zip(uniq_docs.tolist(), sc32s.tolist()):
            item = (ft(sc32), -doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
    out = sorted(heap, key=lambda x: (-float(x[0]), -x[1]))
    return pd.DataFrame(
        {
            "doc_id": pd.Series([-d for _, d in out], dtype="int64"),
            "score": pd.Series([s for s, _ in out], dtype=ft),
        }
    )


def wand_topk(
    index: SegmentedIndex,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    exact: bool = False,
) -> DataFrame:
    """Top-k disjunction (SHOULD over ``terms``) with block-max WAND.

    Rank-identical to exhaustive scoring (equivalence-tested); global
    term/collection statistics are gathered once and broadcast, like the
    distributed stats round (ExactStatsCache, QueryComponent.java:313-319).

    ``exact=True`` scores in full double precision with raw field lengths
    (no byte315 quantization, no float32 casts) — the mode whose results
    are directly SQL-expressible, so the driver gate can hash-compare it
    against the DuckDB oracle.  The bound logic is identical; only the
    scoring kernel changes.
    """
    import math

    spark = index.spark
    uniq = sorted(set(terms))
    # one manifest read: term stats, collection stats (summed from the
    # SegmentInfos, no data scan) and block rows all come from that commit
    man = index.manifest()
    segs = sorted(man)
    stats_rows = index.term_stats(segs).filter(F.col("term").isin(uniq)).collect()
    df_by_term = {r["term"]: int(r["df"]) for r in stats_rows}
    cs = collection_stats(man.values())
    doc_count, sum_len = cs.doc_count, cs.sum_total_term_freq
    bm25 = BM25(k1=k1, b=b)
    if exact:
        avgdl = float(sum_len) / doc_count if doc_count else 1.0
        cache = None
        # math.log(1.0 + x), NOT log1p: bit-matches the exact searcher
        # (searcher.py idf) and DuckDB's ln(1 + x)
        weights = {
            t: math.log(
                1.0 + (doc_count - df_by_term[t] + 0.5) / (df_by_term[t] + 0.5)
            )
            for t in uniq
            if df_by_term.get(t, 0) > 0
        }
    else:
        avgdl = bm25.avgdl(sum_len, doc_count)
        cache = bm25.cache(avgdl)
        weights = {
            t: float(bm25.weight(idf32(df_by_term[t], doc_count)))
            for t in uniq
            if df_by_term.get(t, 0) > 0
        }
    score_t = "double" if exact else "float"
    if not weights:
        return spark.createDataFrame([], f"doc_id long, score {score_t}")

    # term-pruned block rows ONLY — norms ride inside each block's
    # lens_bin payload, so the shuffle into the per-segment WAND groups
    # is O(matching blocks), independent of collection size
    posts = index.postings(segs).filter(F.col("term").isin(list(weights))).drop("sum_tf", "pos_bin")

    def kernel(pdf):
        return _segment_wand(pdf, weights, cache, k, k1, b, avgdl=float(avgdl))

    local = posts.groupBy("segment").applyInPandas(
        kernel, schema=f"doc_id long, score {score_t}"
    )
    # TopDocs.merge: global k with the HitQueue tie-break
    return local.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
