"""SegmentSearcher — the full query surface over one commit of the
on-disk segmented index (the SegmentReader/IndexSearcher split of the
reference: a searcher opens a committed index independent of the
writer, and sees that commit until it is dropped).

Key property: every term lookup filters the ENCODED block rows first —
the `term` predicate pushes down to the parquet scan (PushedFilters +
row-group stats + segment partition pruning) — and only surviving
blocks are FOR/VByte-decoded, inside one vectorized kernel.  A query
never decodes postings it does not touch, which is what makes the
on-disk index queryable at 10^12 docs.

Two plans answer a query:

- **The fused block-max top-k kernel** (``queries/wand.py``) answers
  ``search``, ``docs`` and ``search_batch`` for a term query, an exact
  phrase (slop 0), and a flat BooleanQuery whose clauses are terms or
  exact phrases — MUST / FILTER / SHOULD / MUST_NOT,
  ``minimum_number_should_match`` and boosts — under the ``lucene`` and
  ``exact`` scoring modes, bit-identical to the plan path.  One
  ``isin`` over the query's terms selects its encoded block rows; where
  the kernel runs follows from the term dictionary, which counts those
  rows' blocks.  At most ``DRIVER_MAX_BLOCKS`` of them (every query of a
  small index) come to the driver in one JVM-only Arrow collect, one
  kernel call runs there over every segment, and the ranked rows come back
  as a LocalRelation: one Spark job, and no Python worker.  Past it, or
  with no dictionary, the rows — persisted range-partitioned by
  segment — run one kernel call per partition in one narrow
  ``mapInPandas`` stage, merged by ``score DESC, doc_id ASC``.
- **The plan path** (``IndexSearcher``'s relational algebra over
  decoded postings) answers everything else: other shapes (nested
  booleans, sloppy phrases, multi-term, spans, …), other scoring modes,
  ``count`` and ``explain``.

Term statistics come from a term dictionary held on the driver — sorted
``(term, df, ttf)`` arrays read once, on the first lookup, from the
blocks' metadata (the BlockTree terms index ``.tip`` is held on the heap
the same way) — so a query fires no stats job.  Prefix and term-range
expansion are ``searchsorted`` ranges over it.  An index with more than
``DICTIONARY_MAX_TERMS`` (segment, term) entries keeps the per-query
stats collect and the Spark expansion instead.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.index.segments import (
    SegmentedIndex,
    collection_stats,
    decode_postings,
)
from lucene_solr_spark.queries.query import (
    BooleanQuery,
    BoostQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    Query,
    TermQuery,
    TermRangeQuery,
)
from lucene_solr_spark.queries.searcher import LRU, MAX_EXPANSION_TERMS, IndexSearcher
from lucene_solr_spark.queries.wand import (
    Clause,
    TopKQuery,
    topk_by_partition,
    topk_on_driver,
)

_CACHE_MAX_TERMS = 8  # multi-term expansions decode in one pass instead
# Σ manifest num_terms (one entry per (segment, term)) up to which the
# term dictionary is held on the driver: three arrays of about 100 bytes
# an entry before the per-segment entries are summed
DICTIONARY_MAX_TERMS = 2_000_000
# encoded blocks (about 1 KB each) per partition of the persisted rows
BLOCKS_PER_PARTITION = 65_536
# encoded blocks of a query's terms up to which the fused kernel runs on
# the driver, over one Arrow collect of the rows, instead of in a
# mapInPandas stage, where a Python worker's fixed round trip outweighs
# the driver kernel's 0.06-0.09 ms a block.  Measured on a 4-core host
# (local[4], perfbench corpus of 40,000 docs in 4 segments, k=10, median
# of 5 searches), the driver placement took 0.30 s against 0.59 s for
# the stage at 1,030 blocks, 0.36 s against 0.61 s at 1,939 blocks, and
# 0.50 s against 0.68 s at 4,006 blocks.
DRIVER_MAX_BLOCKS = 4096


class SegmentSearcher(IndexSearcher):
    """IndexSearcher over one point-in-time snapshot of a SegmentedIndex
    (DirectoryReader.open reading one ``segments_N``): opening reads the
    manifest once, and the encoded rows, norms, term stats and collection
    stats all come from that read, so a later build, merge or
    ``write_encoded`` changes nothing this searcher scores with.  Opening
    fires no Spark job; every frame persists on first use, and all state
    is the searcher's own."""

    def __init__(
        self,
        index: SegmentedIndex,
        k1: float = 1.2,
        b: float = 0.75,
        scoring: str = "lucene",
        sweetspot: dict | None = None,
    ) -> None:
        self.index = index
        man = index.manifest()
        segs = sorted(man)
        self._segments = segs
        self._num_terms = sum(i.num_terms for i in man.values())
        self._dictionary: tuple[np.ndarray, ...] | None = None
        # the ENCODED block rows — compact (FOR/VByte binaries ≈ on-disk
        # index size), filtered columnar-in-memory per query with
        # pushdown-before-decode intact; MEMORY_AND_DISK persist degrades
        # gracefully when the index outgrows memory.  The partitioning
        # runs once, on first use.
        self._enc = encoded_rows(index, man).persist()
        # per-term and per-expansion DECODED postings (scoring-independent),
        # populated on first touch by the plan path
        self._dec = LRU(256)
        self._exp = LRU(32)
        tables = IndexTables(
            decode_postings(self._enc),
            index.term_stats(segs).persist(),
            index.norms(segs).select("doc_id", "length", "norm_byte").persist(),
            collection_stats(man.values()),
        )
        super().__init__(
            tables, k1=k1, b=b, scoring=scoring, cache_postings=False,
            sweetspot=sweetspot,
        )

    # ------------------------------------------------------ dictionary
    def _term_dictionary(self) -> tuple[np.ndarray, ...] | None:
        """Sorted (term, df, ttf, blocks) arrays, loaded on first use;
        None when the index is past ``DICTIONARY_MAX_TERMS``."""
        if self._dictionary is None and self._num_terms <= DICTIONARY_MAX_TERMS:
            self._dictionary = self.index.term_stat_arrays(self._segments)
        return self._dictionary

    def term_statistics(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        d = self._term_dictionary()
        if d is None:
            return super().term_statistics(terms)
        _, df, ttf, _ = d
        return {
            t: (int(df[i]), int(ttf[i])) if i >= 0 else (0, 0)
            for t, i in zip(terms, self._lookup(terms))
        }

    def _lookup(self, terms: list[str]) -> list[int]:
        """Each term's index in the held dictionary, -1 where it has none."""
        keys = self._dictionary[0]
        at = np.searchsorted(keys, np.array(terms, dtype=object)) if len(terms) else []
        return [i if i < len(keys) and keys[i] == t else -1 for t, i in zip(terms, at)]

    def _on_driver(self, terms: list[str]) -> bool:
        """Whether the fused kernel over ``terms`` runs on the driver: the
        held dictionary counts their blocks at most ``DRIVER_MAX_BLOCKS``.
        Without a dictionary the kernel runs in a Spark stage."""
        if self._term_dictionary() is None:
            return False
        blocks = self._dictionary[3]
        return sum(int(blocks[i]) for i in self._lookup(terms) if i >= 0) <= DRIVER_MAX_BLOCKS

    def _expand_terms(self, q: Query) -> list[str]:
        d = self._term_dictionary()
        if d is None or not isinstance(q, (PrefixQuery, TermRangeQuery)):
            return super()._expand_terms(q)
        keys = d[0]
        if isinstance(q, PrefixQuery):
            above = _successor(q.prefix)
            lo = np.searchsorted(keys, q.prefix, "left")
            hi = len(keys) if above is None else np.searchsorted(keys, above, "left")
        else:
            lo = 0 if q.lower is None else np.searchsorted(
                keys, q.lower, "left" if q.include_lower else "right"
            )
            hi = len(keys) if q.upper is None else np.searchsorted(
                keys, q.upper, "right" if q.include_upper else "left"
            )
        return keys[lo : max(lo, min(hi, lo + MAX_EXPANSION_TERMS))].tolist()

    # ------------------------------------------------------ fused kernel
    def _topk_query(self, q: Query) -> TopKQuery | None:
        """The fused kernel's form of a rewritten query, or None when
        the plan path answers it."""
        if self.scoring not in ("lucene", "exact"):
            return None
        q, boost = _unboost(q, 1.0)
        if isinstance(q, (TermQuery, PhraseQuery)):
            leaf = self._clause(Occur.SHOULD, q, boost)
            return None if leaf is None else TopKQuery((leaf,))
        if not isinstance(q, BooleanQuery):
            return None
        musts, rest = [], []
        for c in q.clauses:
            sub, b = _unboost(c.query, boost)
            leaf = self._clause(c.occur, sub, b)
            if leaf is None:
                return None
            (musts if c.occur == Occur.MUST else rest).append((c.query, leaf))
        # MUST scores sum in the plan path's conjunction order: rarest first
        musts.sort(key=lambda m: self._cost(m[0]))
        return TopKQuery(
            tuple(leaf for _, leaf in musts + rest), q.minimum_number_should_match
        )

    def _clause(self, occur: Occur, q: Query, boost: float) -> Clause | None:
        if isinstance(q, TermQuery):
            terms, offsets = (q.term,), None
        elif isinstance(q, PhraseQuery) and q.slop == 0 and q.terms:
            terms, offsets = q.terms, tuple(q.positions)
        else:
            return None
        stats = self.term_statistics(list(terms))
        weight = 0.0
        if occur in (Occur.MUST, Occur.SHOULD) and all(stats[t][0] > 0 for t in terms):
            # a phrase's weight sees every position's stats, repeats included
            weight = self._sim.weight(
                self.bm25, self.stats.doc_count, boost, [stats[t] for t in terms]
            )
        return Clause(occur, tuple(terms), offsets, weight)

    def _fused(self, queries: dict[str, TopKQuery], k: int | None) -> tuple[DataFrame, bool]:
        """``(query_id, doc_id, score)`` of the fused kernel, and whether
        it ran on the driver — whose frame holds each query's top ``k``
        already ranked."""
        cache, avgdl = (None, self._avgdl64) if self.scoring == "exact" else (
            self._cache32, float(self._avgdl32)
        )
        on_driver = self._on_driver(sorted({t for q in queries.values() for t in q.terms}))
        run = topk_on_driver if on_driver else topk_by_partition
        return run(self._enc, queries, k, self.bm25.k1, self.bm25.b, cache, avgdl), on_driver

    def _top(self, q: Query, n: int) -> DataFrame:
        tq = self._topk_query(q)
        if tq is None:
            return super()._top(q, n)
        df, ranked = self._fused({"q": tq}, n)
        df = df.select("doc_id", "score")
        return df if ranked else df.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(n)

    def _scored(self, q: Query) -> DataFrame:
        tq = self._topk_query(q)
        if tq is None:
            return super()._scored(q)
        return self._fused({"q": tq}, None)[0].select("doc_id", "score")

    def _batch_parts(
        self, queries: dict[str, Query], k: int
    ) -> tuple[list[DataFrame], list[DataFrame]]:
        """Every covered query of the batch, tagged with its id, runs
        through ONE fused kernel call — one ``isin`` over all their
        terms, then each query's top-k on the driver, or each
        partition's per query in one narrow stage that the per-query
        ranking follows.  The rest take the plan path."""
        fused = {qid: tq for qid, q in queries.items() if (tq := self._topk_query(q))}
        rest = {qid: q for qid, q in queries.items() if qid not in fused}
        ranked, parts = super()._batch_parts(rest, k) if rest else ([], [])
        if fused:
            df, on_driver = self._fused(fused, k)
            (ranked if on_driver else parts).append(df)
        return ranked, parts

    # ------------------------------------------------------ plan path
    def _postings_for_terms(
        self, terms: list[str], bulk: bool = False
    ) -> DataFrame:
        terms = list(terms)

        def decoded(ts: list[str]):
            # (norm_byte, length) decode straight out of each block's
            # lens_bin payload — the per-segment reader of the reference
            # holds .nvd alongside .doc the same way; no doc_id join
            return lambda: decode_postings(self._enc.filter(F.col("term").isin(ts))).persist()

        if bulk or len(terms) > _CACHE_MAX_TERMS:
            # expansion term sets (prefix/wildcard/fuzzy/range): one bulk
            # filter+decode pass, cached per expansion
            return self._exp.get(tuple(sorted(terms)), decoded(terms))
        parts = [self._dec.get(t, decoded([t])) for t in terms]
        return reduce(lambda a, b: a.unionByName(b), parts)


def encoded_rows(index: SegmentedIndex, man: dict) -> DataFrame:
    """The encoded block rows of the commit ``man``, range-partitioned by
    segment, so each partition holds whole segments and the fused kernel
    needs no shuffle.  Every task of a query pays a fixed Python-worker
    cost, so a small index takes fewer partitions than segments."""
    parts = max(1, min(
        len(man),
        index.spark.sparkContext.defaultParallelism,
        -(-sum(i.num_blocks for i in man.values()) // BLOCKS_PER_PARTITION),
    ))
    return index.postings(sorted(man)).repartitionByRange(parts, "segment")


def _unboost(q: Query, boost: float) -> tuple[Query, float]:
    """Strip BoostQuery wrappers, multiplying their boosts in as the
    plan path's ``_exec`` does."""
    while isinstance(q, BoostQuery):
        q, boost = q.query, boost * q.boost
    return q, boost


def _successor(prefix: str) -> str | None:
    """The least string above every string that starts with ``prefix``
    (code-point order, which is the UTF-8 byte order Spark compares in);
    None when no string is."""
    while prefix and ord(prefix[-1]) == 0x10FFFF:
        prefix = prefix[:-1]
    return prefix[:-1] + chr(ord(prefix[-1]) + 1) if prefix else None
