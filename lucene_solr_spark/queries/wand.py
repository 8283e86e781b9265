"""Block-max WAND top-k over the segmented block-encoded index: the one
kernel behind ``wand_topk`` and ``SegmentSearcher``'s term, flat boolean
and exact phrase queries.

The reference 7.0 has NO WAND (verified: no WANDScorer/impacts in
search/ — SURVEY §4.2); this exceeds it, per the north star.  The
block metadata written by the segment writer (max_docid, max_tf per
128-posting block — the skip-list analog, Lucene50SkipWriter.java:46)
doubles as the upper-bound source:

    ub(term, block) = weight·(k1+1)·max_tf / (max_tf + k1·(1−b))

(b-term lower-bounded at zero doc length — a valid upper bound for any
norm byte, since cache[n] = k1·((1−b)+b·NORM_TABLE[n]/avgdl) ≥ k1·(1−b)).
An exact phrase is bounded by weight·(k1+1), the limit of freq/(freq+c).

Execution model: each docID lives in exactly one segment, so one kernel
call takes the block rows of any number of segments (the per-leaf
loop of IndexSearcher.search, IndexSearcher.java:640-655, with its
TopDocs.merge folded in) and ranks by ``score DESC, doc_id ASC`` —
bit-identical to TopDocs.merge tie-breaks (search/TopDocs.java:209-260,
HitQueue.java:76-81).  Segments whose docID ranges interleave (after a
merge of non-adjacent segments) only put two of a term's blocks over
one docID range; the larger bound still bounds every doc there.
:func:`topk_kernel` runs it in one of two places.  A query whose terms
have few blocks (the caller counts them: ``SegmentSearcher`` from its
term dictionary, ``wand_topk`` from its stats read, against
``segment_searcher.DRIVER_MAX_BLOCKS``) runs it on the driver over one
JVM-only Arrow collect of its block rows, since a Python worker's round
trip costs more than such a kernel; any other runs it inside a Spark
stage, once per partition of whole segments.

The kernel is whole-array numpy, two rounds over the elementary docID
intervals that the blocks' boundaries cut.  An interval no doc in it
can match (a required clause or too few SHOULD clauses have no block
there) is never read.  Round 1 scores the ``SEED_INTERVALS`` intervals
with the highest Σ clause upper bound; the k-th best score among their
docs is θ.  Round 2 scores every other interval whose bound is ≥ θ and
skips those strictly below it.  The test is strict because intervals
are not taken in docID order: a round-2 doc scoring exactly θ may have a
lower docID than a round-1 doc and win its tie (SURVEY §7 hard part e).
Each round decodes the blocks over its intervals in one FOR/VByte
decoder call (the two-phase cheap-approximation / expensive-verify
split, search/TwoPhaseIterator.java).  ``k=None``, or a negative
weight, is one round with θ = −∞.

Scoring replays the Spark plan path of ``IndexSearcher`` bit for bit:
per-clause float32 kernel (BM25Similarity.java:241-254), MUST clauses
summed in double rarest first, SHOULD clauses summed in double, each
sum cast back to float32 (DisjunctionSumScorer sums in double), and the
two parts added in double and cast once more.  ``exact`` mode is the
same in double with raw field lengths.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import SegmentedIndex, collection_stats
from lucene_solr_spark.queries.query import Occur
from lucene_solr_spark.queries.searcher import local_frame
from lucene_solr_spark.scoring.bm25 import BM25
from lucene_solr_spark.scoring.similarities import SIMILARITIES

# intervals of highest upper bound that round 1 scores to set θ
SEED_INTERVALS = 8
_POS_KEY = np.int64(1) << 33  # (doc, position) key stride; positions < 2^31


@dataclass(frozen=True)
class Clause:
    """One leaf of a flat boolean query: a term (``offsets`` None) or an
    exact phrase of ``terms`` at ``offsets``.  ``weight`` is the
    Similarity weight (boost·idf) of a MUST or SHOULD clause."""

    occur: Occur
    terms: tuple[str, ...]
    offsets: tuple[int, ...] | None = None
    weight: float = 0.0


@dataclass(frozen=True)
class TopKQuery:
    """A flat boolean of term and exact-phrase clauses.  MUST clauses
    are summed in the order given (the plan path sums them rarest
    first); a term or phrase query is one SHOULD clause."""

    clauses: tuple[Clause, ...]
    msm: int = 0

    @property
    def terms(self) -> list[str]:
        return sorted({t for c in self.clauses for t in c.terms})

    @property
    def has_phrase(self) -> bool:
        return any(c.offsets is not None for c in self.clauses)


def _empty(ft) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                         "score": pd.Series([], dtype=ft)})


def _topk(
    pdf: pd.DataFrame,
    query: TopKQuery,
    k: int | None,
    k1: float,
    b: float,
    cache: np.ndarray | None,
    avgdl: float = 1.0,
) -> pd.DataFrame:
    """Block rows → the top-k ``(doc_id, score)`` for ``query``, ranked
    by ``score DESC, doc_id ASC``, or every match when ``k`` is None.
    The rows may come from any number of segments.

    ``cache`` is the 256-entry byte315 norm cache (float32 lucene mode);
    ``cache=None`` switches to EXACT double scoring where the block's
    lens payload carries the raw field length and the freq-independent
    denominator is computed directly as k1·((1−b) + b·dl/avgdl) — same
    bound logic, no quantization.

    Norms come from each block's own ``lens_bin`` payload — the kernel
    receives ONLY term-pruned block rows, never the norms table (the
    per-leaf .nvd locality of Lucene70NormsFormat.java:37).
    """
    from lucene_solr_spark.codecs import postings
    from lucene_solr_spark.scoring.bm25 import encode_norm

    exact = cache is None
    ft = np.float64 if exact else np.float32  # the scoring precision
    terms = np.array(query.terms, dtype=object)
    clauses = query.clauses
    pdf = pdf[pdf["term"].isin(query.terms)]
    if pdf.empty or (k is not None and k <= 0):
        return _empty(ft)
    # the block table: one entry per block
    tix = np.searchsorted(terms, pdf["term"].to_numpy(object))
    lo_b = pdf["base_docid"].to_numpy(np.int64)
    hi_b = pdf["max_docid"].to_numpy(np.int64)
    cnt = pdf["count"].to_numpy(np.int64)
    mtf = pdf["max_tf"].to_numpy(np.float64)
    phrase = query.has_phrase
    cols = {
        c: pdf[c].to_numpy()
        for c in ("term", "docs_bin", "tfs_bin", "lens_bin", *(["pos_bin"] if phrase else []))
    }
    ctix = [np.searchsorted(terms, list(c.terms)) for c in clauses]
    # weight·(k1+1) per clause, in the scoring precision
    wv = [ft(c.weight) * ft(k1 + 1) for c in clauses]
    scoring = [c.occur in (Occur.MUST, Occur.SHOULD) for c in clauses]
    required = [c.occur in (Occur.MUST, Occur.FILTER) for c in clauses]
    should = [c.occur == Occur.SHOULD for c in clauses]
    min_should = query.msm if any(required) else max(query.msm, 1)
    prune = k is not None and all(c.weight >= 0 for c, s in zip(clauses, scoring) if s)

    # elementary intervals from all block boundaries; per interval, which
    # terms have a block there and each term's block-max bound factor
    bounds = np.unique(np.concatenate([lo_b, hi_b + 1]))
    n_iv, n_t = len(bounds) - 1, len(terms)
    si = np.searchsorted(bounds, lo_b)
    ei = np.searchsorted(bounds, hi_b + 1)
    blk = np.repeat(np.arange(len(lo_b)), ei - si)
    cell = postings.concat_ranges(si, ei - si) * n_t + tix[blk]
    act = np.zeros(n_iv * n_t, bool)
    act[cell] = True
    unit = np.zeros(n_iv * n_t)
    np.maximum.at(unit, cell, (mtf / (mtf + k1 * (1.0 - b)))[blk])
    act, unit = act.reshape(n_iv, n_t), unit.reshape(n_iv, n_t)
    cact = np.stack([act[:, ct].all(axis=1) for ct in ctix], axis=1)
    possible = cact[:, required].all(axis=1)
    if any(should):
        possible &= cact[:, should].sum(axis=1) >= min_should
    # ×(1 + 1e-6) guards float32 rounding
    ub = np.zeros(n_iv)
    for c, clause in enumerate(clauses):
        if scoring[c]:
            per = 1.0 if clause.offsets is not None else unit[:, ctix[c][0]]
            ub += np.where(cact[:, c], float(wv[c]) * per * (1.0 + 1e-6), 0.0)

    def evaluate(keep: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Every doc that matches in the intervals ``keep`` marks, with its
        score: one decode of the blocks that overlap them."""
        at = np.concatenate(([0], np.cumsum(keep)))
        blocks = np.flatnonzero(at[ei] > at[si])
        if not blocks.size:
            return np.zeros(0, np.int64), np.zeros(0, ft)
        dec = postings.decode_blocks(
            lo_b[blocks], cnt[blocks], cols["docs_bin"][blocks], cols["tfs_bin"][blocks],
            pos_bin=cols["pos_bin"][blocks] if phrase else None,
            lens_bin=cols["lens_bin"][blocks], terms=cols["term"][blocks],
        )
        sel = np.flatnonzero(keep[np.searchsorted(bounds, dec.doc_id, "right") - 1])
        g_term = tix[blocks][dec.block[sel]]
        g_tf = dec.tf[sel]
        docs, inv = np.unique(dec.doc_id[sel], return_inverse=True)
        n = docs.size
        length = np.zeros(n, np.int64)
        length[inv] = dec.length[sel]
        norm = (
            k1 * ((1.0 - b) + b * length.astype(np.float64) / avgdl) if exact
            else cache[encode_norm(length) & 0xFF]
        )
        if phrase:
            g_pos, g_pos_start = dec.positions, dec.pos_offsets[sel]

        def freq_of(c: int, clause: Clause) -> np.ndarray:
            f = np.zeros(n, np.int64)
            if clause.offsets is None:
                sel = g_term == ctix[c][0]
                f[inv[sel]] = g_tf[sel]
                return f
            # |∩_i (positions_i − offset_i)| per doc, keyed (doc, position)
            keys = None
            for t, off in zip(ctix[c], clause.offsets):
                sel = np.flatnonzero(g_term == t)
                at = postings.concat_ranges(g_pos_start[sel], g_tf[sel])
                key = np.repeat(inv[sel], g_tf[sel]) * _POS_KEY + (g_pos[at] - off + (1 << 32))
                keys = np.unique(key) if keys is None else keys[np.isin(keys, key)]
            np.add.at(f, keys // _POS_KEY, 1)
            return f

        ok = np.ones(n, bool)
        must_sum = np.zeros(n, np.float64)
        should_sum = np.zeros(n, np.float64)
        should_cnt = np.zeros(n, np.int64)
        for c, clause in enumerate(clauses):
            f = freq_of(c, clause)
            hit = f > 0
            if clause.occur == Occur.MUST_NOT:
                ok &= ~hit
                continue
            if required[c]:
                ok &= hit
            if not scoring[c]:
                continue
            at = np.flatnonzero(hit & ok) if required[c] else np.flatnonzero(hit)
            fa = f[at].astype(ft)
            s = (wv[c] * fa / (fa + norm[at])).astype(np.float64)
            if should[c]:
                should_sum[at] += s
                should_cnt[at] += 1
            else:
                must_sum[at] += s
        if any(should):
            ok &= should_cnt >= min_should
        sh = should_sum.astype(ft)
        if any(required):
            total = must_sum.astype(ft)
            if any(should):
                total = (total.astype(np.float64) + sh.astype(np.float64)).astype(ft)
        else:
            total = sh
        return docs[ok], total[ok]

    # round 1 scores the SEED_INTERVALS highest-bound intervals; their
    # k-th best score θ skips every interval bounded strictly below it
    found, theta, keep = [], -np.inf, possible
    if prune:
        seed = np.flatnonzero(possible)
        seed = seed[np.argsort(-ub[seed], kind="stable")[:SEED_INTERVALS]]
        first = np.zeros(n_iv, bool)
        first[seed] = True
        found.append(evaluate(first))
        if found[0][1].size >= k:
            theta = float(np.partition(found[0][1], -k)[-k])
        keep = possible & ~first & (ub >= theta)
    found.append(evaluate(keep))
    docs = np.concatenate([d for d, _ in found])
    scores = np.concatenate([s for _, s in found])
    top = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return pd.DataFrame({"doc_id": pd.Series(docs[top], dtype="int64"),
                         "score": pd.Series(scores[top], dtype=ft)})


def _wand_query(term_weights: dict[str, float]) -> TopKQuery:
    """A disjunction of terms, each with its Similarity weight, as SHOULD
    term clauses."""
    return TopKQuery(tuple(
        Clause(Occur.SHOULD, (t,), weight=w) for t, w in sorted(term_weights.items())
    ))


def _query_rows(rows: DataFrame, queries: dict[str, TopKQuery]) -> DataFrame:
    """The block rows of the queries' terms, one ``isin`` for them all,
    with the columns the kernel reads (positions only for phrases)."""
    terms = sorted({t for q in queries.values() for t in q.terms})
    phrase = any(q.has_phrase for q in queries.values())
    return rows.filter(F.col("term").isin(terms)).select(
        "term", "base_docid", "count", "max_docid", "max_tf",
        "docs_bin", "tfs_bin", "lens_bin", *(["pos_bin"] if phrase else []),
    )


def _topk_schema(cache: np.ndarray | None) -> str:
    return f"query_id string, doc_id long, score {'double' if cache is None else 'float'}"


def topk_kernel(
    pdf: pd.DataFrame,
    queries: dict[str, TopKQuery],
    k: int | None,
    k1: float,
    b: float,
    cache: np.ndarray | None,
    avgdl: float,
):
    """The fused kernel: per query, :func:`_topk` over all the block rows
    it is given — of one segment or many, since each docID lives in one
    segment — as ``(query_id, doc_id, score)`` frames.  Both placements
    run it: once per partition inside a Spark stage
    (:func:`topk_by_partition`), or once on the driver over every
    segment (:func:`topk_on_driver`)."""
    if pdf.empty:
        return
    for qid, q in queries.items():
        out = _topk(pdf, q, k, k1, b, cache, avgdl)
        if len(out):
            yield out.assign(query_id=qid)[["query_id", "doc_id", "score"]]


def topk_by_partition(
    rows: DataFrame,
    queries: dict[str, TopKQuery],
    k: int | None,
    k1: float,
    b: float,
    cache: np.ndarray | None,
    avgdl: float,
) -> DataFrame:
    """``(query_id, doc_id, score)``: each partition's top-k per query
    (every match when ``k`` is None), from block rows whose partitions
    each hold whole segments.  One ``isin`` over all the queries' terms
    filters the rows, so N queries run in one narrow Spark stage."""

    def kernel(batches):
        frames = list(batches)
        if frames:
            yield from topk_kernel(
                pd.concat(frames, ignore_index=True), queries, k, k1, b, cache, avgdl
            )

    return _query_rows(rows, queries).mapInPandas(kernel, schema=_topk_schema(cache))


def topk_on_driver(
    rows: DataFrame,
    queries: dict[str, TopKQuery],
    k: int | None,
    k1: float,
    b: float,
    cache: np.ndarray | None,
    avgdl: float,
) -> DataFrame:
    """What :func:`topk_by_partition` answers, for a query small enough
    that a Python worker costs more than its kernel: the queries' block
    rows come to the driver in one JVM-only Arrow collect, the same
    kernel runs there over every segment, and the result — each query's
    top ``k`` already ranked, so it needs no ``orderBy`` — is a
    LocalRelation, whose ``collect()`` fires no Spark job."""
    pdf = _query_rows(rows, queries).toArrow().to_pandas()
    out = list(topk_kernel(pdf, queries, k, k1, b, cache, avgdl))
    return local_frame(
        rows.sparkSession, pd.concat(out, ignore_index=True) if out else None,
        _topk_schema(cache),
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
    term statistics come from one single-stage read of the blocks' term
    counts, summed on the driver, and collection statistics from the
    manifest — the distributed stats round (ExactStatsCache,
    QueryComponent.java:313-319).

    ``exact=True`` scores in full double precision with raw field lengths
    (no byte315 quantization, no float32 casts) — the mode whose results
    are directly SQL-expressible, so the driver gate can hash-compare it
    against the DuckDB oracle.  The bound logic is identical; only the
    scoring kernel changes.
    """
    from lucene_solr_spark.queries import segment_searcher

    uniq = sorted(set(terms))
    # one manifest read: term stats, collection stats (summed from the
    # SegmentInfos, no data scan) and block rows all come from that commit
    man = index.manifest()
    segs = sorted(man)
    found, dfs, ttfs, blocks = index.term_stat_arrays(segs, uniq)
    cs = collection_stats(man.values())
    doc_count, sum_len = cs.doc_count, cs.sum_total_term_freq
    bm25 = BM25(k1=k1, b=b)
    sim = SIMILARITIES["exact" if exact else "lucene"]
    if exact:
        avgdl = float(sum_len) / doc_count if doc_count else 1.0
        cache = None
    else:
        avgdl = bm25.avgdl(sum_len, doc_count)
        cache = bm25.cache(avgdl)
    weights = {
        t: sim.weight(bm25, doc_count, 1.0, [(int(df), int(ttf))])
        for t, df, ttf in zip(found, dfs, ttfs)
    }
    score_t = "double" if exact else "float"
    if not weights:
        return local_frame(index.spark, None, f"doc_id long, score {score_t}")
    query = ({"q": _wand_query(weights)}, k, k1, b, cache, float(avgdl))
    if blocks.sum() <= segment_searcher.DRIVER_MAX_BLOCKS:
        # the stats read counted the blocks exactly: a small query runs
        # the kernel on the driver (one more JVM-only read), no stage
        return topk_on_driver(index.postings(segs), *query).select("doc_id", "score")
    # past it, the same kernel in one narrow stage over the rows as a
    # searcher partitions them (whole segments per partition), then
    # TopDocs.merge: global k with the HitQueue tie-break
    top = topk_by_partition(segment_searcher.encoded_rows(index, man), *query)
    return top.select("doc_id", "score").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(k)
