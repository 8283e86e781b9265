"""Per-segment top-k over the segmented block-encoded index: block-max
WAND, and the one kernel behind ``wand_topk`` and ``SegmentSearcher``'s
term, flat boolean and exact phrase queries.

The reference 7.0 has NO WAND (verified: no WANDScorer/impacts in
search/ — SURVEY §4.2); this exceeds it, per the north star.  The
block metadata written by the segment writer (max_docid, max_tf per
128-posting block — the skip-list analog, Lucene50SkipWriter.java:46)
doubles as the upper-bound source:

    ub(term, block) = weight·(k1+1)·max_tf / (max_tf + k1·(1−b))

(b-term lower-bounded at zero doc length — a valid upper bound for any
norm byte, since cache[n] = k1·((1−b)+b·NORM_TABLE[n]/avgdl) ≥ k1·(1−b)).
An exact phrase is bounded by weight·(k1+1), the limit of freq/(freq+c).

Execution model: each docID lives in exactly one segment, so segments
run top-k independently (the per-leaf scoring loop of
IndexSearcher.search, IndexSearcher.java:640-655), each emitting its
local top-k; the merge is ORDER BY score DESC, doc_id ASC LIMIT k —
bit-identical to TopDocs.merge tie-breaks (search/TopDocs.java:209-260,
HitQueue.java:76-81).  One function, :func:`topk_kernel`, runs the
segments' top-k and their merge, in one of two places.  A query whose
terms have few blocks (the caller counts them: ``SegmentSearcher`` from
its term dictionary, ``wand_topk`` from its stats read, against
``segment_searcher.DRIVER_MAX_BLOCKS``) runs it on the driver over one
JVM-only Arrow collect of its block rows, since a Python worker's round
trip costs more than such a kernel; any other runs it inside a Spark
stage, per partition or per segment group.

Within a segment: a boundary sweep over the union of block intervals
processes elementary docID ranges in increasing-docID order, skipping
every range that no doc in it can match (a required clause or too few
SHOULD clauses have no block there) or whose Σ clause upper bounds ≤
the current heap threshold — safe at equality *because* docIDs only
increase: a later doc scoring exactly θ loses the tie-break to the
incumbent (SURVEY §7 hard part e).  Blocks are only FOR/VByte-decoded
when their range survives (the two-phase cheap-approximation /
expensive-verify split, search/TwoPhaseIterator.java), a few ranges'
blocks per decoder call.

Scoring replays the Spark plan path of ``IndexSearcher`` bit for bit:
per-clause float32 kernel (BM25Similarity.java:241-254), MUST clauses
summed in double rarest first, SHOULD clauses summed in double, each
sum cast back to float32 (DisjunctionSumScorer sums in double), and the
two parts added in double and cast once more.  ``exact`` mode is the
same in double with raw field lengths.
"""

from __future__ import annotations

import heapq
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

# newly active blocks one decoder call takes: the blocks of the current
# range plus those of the next surviving ranges, up to this many
DECODE_BATCH_BLOCKS = 8
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


def _segment_topk(
    pdf: pd.DataFrame,
    query: TopKQuery,
    k: int | None,
    k1: float,
    b: float,
    cache: np.ndarray | None,
    avgdl: float = 1.0,
) -> pd.DataFrame:
    """One segment's block rows → its top-k ``(doc_id, score)`` for
    ``query``, or every match when ``k`` is None.

    ``cache`` is the 256-entry byte315 norm cache (float32 lucene mode);
    ``cache=None`` switches to EXACT double scoring where the block's
    lens payload carries the raw field length and the freq-independent
    denominator is computed directly as k1·((1−b) + b·dl/avgdl) — same
    bound logic, no quantization.

    Norms come from each block's own ``lens_bin`` payload — the group
    receives ONLY term-pruned block rows, never the norms table (the
    per-leaf .nvd locality of Lucene70NormsFormat.java:37).
    """
    from lucene_solr_spark.codecs import postings
    from lucene_solr_spark.scoring.bm25 import encode_norm

    exact = cache is None
    ft = np.float64 if exact else np.float32  # the scoring precision
    terms = np.array(query.terms, dtype=object)
    clauses = query.clauses
    if k is not None and k <= 0:
        return _empty(ft)
    pdf = (
        pdf[pdf["term"].isin(query.terms)]
        .sort_values(["term", "base_docid"])
        .reset_index(drop=True)
    )
    if pdf.empty:
        return _empty(ft)
    # the block table: one entry per block, in (term, base_docid) order
    tix = np.searchsorted(terms, pdf["term"].to_numpy(object))
    lo_b = pdf["base_docid"].to_numpy(np.int64)
    hi_b = pdf["max_docid"].to_numpy(np.int64)
    cnt = pdf["count"].to_numpy(np.int64)
    mtf = pdf["max_tf"].to_numpy(np.float64)
    cols = {c: pdf[c].to_numpy() for c in ("term", "docs_bin", "tfs_bin", "lens_bin")}
    phrase = query.has_phrase
    if phrase:
        cols["pos_bin"] = pdf["pos_bin"].to_numpy()
    ctix = [np.searchsorted(terms, list(c.terms)) for c in clauses]
    # weight·(k1+1) per clause, in the scoring precision
    wv = [ft(c.weight) * ft(k1 + 1) for c in clauses]
    scoring = [c.occur in (Occur.MUST, Occur.SHOULD) for c in clauses]
    required = [c.occur in (Occur.MUST, Occur.FILTER) for c in clauses]
    should = [c.occur == Occur.SHOULD for c in clauses]
    min_should = query.msm if any(required) else max(query.msm, 1)
    prune = k is not None and all(c.weight >= 0 for c, s in zip(clauses, scoring) if s)

    decoded: list = [None] * len(pdf)  # (docs, tf, length, pos offsets, positions)

    def decode(blocks: list[int]) -> None:
        dec = postings.decode_blocks(
            lo_b[blocks], cnt[blocks], cols["docs_bin"][blocks], cols["tfs_bin"][blocks],
            pos_bin=cols["pos_bin"][blocks] if phrase else None,
            lens_bin=cols["lens_bin"][blocks], terms=cols["term"][blocks],
        )
        ends = np.cumsum(cnt[blocks])
        for j, a, z in zip(blocks, (ends - cnt[blocks]).tolist(), ends.tolist()):
            po = dec.pos_offsets[a : z + 1] if phrase else None
            decoded[j] = (
                dec.doc_id[a:z], dec.tf[a:z], dec.length[a:z],
                None if po is None else po - po[0],
                None if po is None else dec.positions[po[0] : po[-1]],
            )

    def evaluate(blocks, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        """Every doc in [lo, hi] that matches, with its score, from the
        decoded ``blocks``."""
        part = []
        for j in blocks:
            d = decoded[j][0]
            a, z = np.searchsorted(d, lo, "left"), np.searchsorted(d, hi, "right")
            if a < z:
                part.append((j, int(a), int(z)))
        if not part:
            return np.zeros(0, np.int64), np.zeros(0, ft)
        g_doc = np.concatenate([decoded[j][0][a:z] for j, a, z in part])
        g_term = np.concatenate([np.full(z - a, tix[j]) for j, a, z in part])
        g_tf = np.concatenate([decoded[j][1][a:z] for j, a, z in part])
        docs, inv = np.unique(g_doc, return_inverse=True)
        n = docs.size
        length = np.zeros(n, np.int64)
        length[inv] = np.concatenate([decoded[j][2][a:z] for j, a, z in part])
        norm = (
            k1 * ((1.0 - b) + b * length.astype(np.float64) / avgdl) if exact
            else cache[encode_norm(length) & 0xFF]
        )
        if phrase:
            g_pos = [decoded[j][4][decoded[j][3][a] : decoded[j][3][z]] for j, a, z in part]
            g_pos_at = np.cumsum([0] + [p.size for p in g_pos])[:-1]
            g_pos_start = np.concatenate([
                at + decoded[j][3][a:z] - decoded[j][3][a]
                for at, (j, a, z) in zip(g_pos_at, part)
            ])
            g_pos = np.concatenate(g_pos)

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

    if not prune:
        blocks = list(range(len(pdf)))
        decode(blocks)
        docs, scores = evaluate(blocks, int(lo_b.min()), int(hi_b.max()))
        if k is not None:
            top = np.lexsort((docs, -scores.astype(np.float64)))[:k]
            docs, scores = docs[top], scores[top]
        return pd.DataFrame({"doc_id": pd.Series(docs, dtype="int64"),
                             "score": pd.Series(scores, dtype=ft)})

    # elementary intervals from all block boundaries; per interval, which
    # terms have a block there and each term's block-max bound factor
    bounds = np.unique(np.concatenate([lo_b, hi_b + 1]))
    n_iv = len(bounds) - 1
    si = np.searchsorted(bounds, lo_b)
    ei = np.searchsorted(bounds, hi_b + 1)
    act = np.zeros((n_iv, len(terms)), bool)
    unit = np.zeros((n_iv, len(terms)))
    bound = mtf / (mtf + k1 * (1.0 - b))
    for j, (s, e, t) in enumerate(zip(si.tolist(), ei.tolist(), tix.tolist())):
        act[s:e, t] = True
        np.maximum(unit[s:e, t], bound[j], out=unit[s:e, t])
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
    by_start = np.argsort(si, kind="stable")
    start_sorted = si[by_start]

    add_ev: list[list[int]] = [[] for _ in range(n_iv + 1)]
    rem_ev: list[list[int]] = [[] for _ in range(n_iv + 1)]
    for j, (s, e) in enumerate(zip(si.tolist(), ei.tolist())):
        add_ev[s].append(j)
        rem_ev[e].append(j)
    heap: list[tuple] = []  # (score, -doc_id), size ≤ k

    def theta() -> float:
        return float(heap[0][0]) if len(heap) == k else -np.inf

    active: dict[int, None] = {}  # insertion-ordered set of block numbers
    for i in range(n_iv):
        for j in rem_ev[i]:
            del active[j]
        for j in add_ev[i]:
            active[j] = None
        if not possible[i] or ub[i] <= theta():
            continue  # equality-safe: later docIDs lose ties (HitQueue)
        new = [j for j in active if decoded[j] is None]
        if new:
            # the next blocks to enter a surviving range share this call
            ahead = by_start[np.searchsorted(start_sorted, i, "right"):]
            s_ahead = si[ahead]
            live = possible[s_ahead] & (ub[s_ahead] > theta())
            new += [j for j in ahead[live].tolist() if decoded[j] is None][
                : max(0, DECODE_BATCH_BLOCKS - len(new))
            ]
            decode(new)
        docs, sc = evaluate(active, int(bounds[i]), int(bounds[i + 1]) - 1)
        # θ only grows, so docs strictly below the current threshold can
        # never enter the heap — drop them before the Python heap loop
        if len(heap) == k:
            keep = sc >= heap[0][0]
            docs, sc = docs[keep], sc[keep]
        for doc, s in zip(docs.tolist(), sc.tolist()):
            item = (ft(s), -doc)
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


def _wand_query(term_weights: dict[str, float]) -> TopKQuery:
    """A disjunction of terms, each with its Similarity weight, as SHOULD
    term clauses."""
    return TopKQuery(tuple(
        Clause(Occur.SHOULD, (t,), weight=w) for t, w in sorted(term_weights.items())
    ))


def _segment_wand(
    pdf: pd.DataFrame,
    term_weights: dict[str, float],
    cache: np.ndarray | None,
    k: int,
    k1: float,
    b: float,
    avgdl: float = 1.0,
) -> pd.DataFrame:
    """Block-max WAND over one segment for a disjunction of terms, each
    with its Similarity weight: :func:`_segment_topk` of SHOULD term
    clauses."""
    return _segment_topk(pdf, _wand_query(term_weights), k, k1, b, cache, avgdl)


def topk_columns(phrase: bool) -> list[str]:
    """The block columns the kernel reads (positions only for phrases)."""
    return ["segment", "term", "base_docid", "count", "max_docid", "max_tf",
            "docs_bin", "tfs_bin", "lens_bin", *(["pos_bin"] if phrase else [])]


def _query_rows(rows: DataFrame, queries: dict[str, TopKQuery]) -> DataFrame:
    """The block rows of the queries' terms: one ``isin`` for them all."""
    terms = sorted({t for q in queries.values() for t in q.terms})
    phrase = any(q.has_phrase for q in queries.values())
    return rows.filter(F.col("term").isin(terms)).select(*topk_columns(phrase))


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
    """The fused kernel over the block rows of whole segments: per
    query, :func:`_segment_topk` of each segment, merged to the top
    ``k`` by ``score DESC, doc_id ASC`` (TopDocs.merge) — or every match
    when ``k`` is None — as ``(query_id, doc_id, score)`` frames.  Both
    placements run it: once per partition inside a Spark stage
    (:func:`topk_by_partition`), or once on the driver over every
    segment (:func:`topk_on_driver`)."""
    if pdf.empty:
        return
    segments = [g for _, g in pdf.groupby("segment", sort=False)]
    for qid, q in queries.items():
        out = pd.concat(
            [_segment_topk(g, q, k, k1, b, cache, avgdl) for g in segments],
            ignore_index=True,
        )
        if k is not None:
            out = out.sort_values(["score", "doc_id"], ascending=[False, True]).head(k)
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
    if blocks.sum() <= segment_searcher.DRIVER_MAX_BLOCKS:
        # the stats read counted the blocks exactly: a small query runs
        # the kernel on the driver (one more JVM-only read), no stage
        return topk_on_driver(
            index.postings(segs), {"q": _wand_query(weights)}, k, k1, b, cache, float(avgdl)
        ).select("doc_id", "score")

    # term-pruned block rows ONLY — norms ride inside each block's
    # lens_bin payload, so the shuffle into the per-segment WAND groups
    # is O(matching blocks), independent of collection size
    posts = index.postings(segs).filter(F.col("term").isin(list(weights))).select(
        *topk_columns(False)
    )

    def kernel(pdf):
        return _segment_wand(pdf, weights, cache, k, k1, b, avgdl=float(avgdl))

    local = posts.groupBy("segment").applyInPandas(
        kernel, schema=f"doc_id long, score {score_t}"
    )
    # TopDocs.merge: global k with the HitQueue tie-break
    return local.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
