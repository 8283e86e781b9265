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

A commit small enough (``STORE_MAX_BYTES``, estimated from the
manifest) is held on the driver as a block store: per segment, its
encoded block rows as one Arrow table sorted by ``(term, base_docid)``,
with each term's row range (:class:`SegmentBlocks`: the terms index →
terms dictionary → postings file pointers of BlockTreeTermsReader).
pyarrow reads it from the commit's parquet files on the first lookup,
with no Spark job, so opening still fires none.  Searchers that hold the
same segment files share one copy of them.

Two plans answer a query:

- **The fused block-max top-k kernel** (``queries/wand.py``) answers
  ``search``, ``docs`` and ``search_batch`` for a term query, an exact
  phrase (slop 0), and a flat BooleanQuery whose clauses are terms or
  exact phrases — MUST / FILTER / SHOULD / MUST_NOT,
  ``minimum_number_should_match`` and boosts — under the ``lucene`` and
  ``exact`` scoring modes, bit-identical to the plan path.  Where the
  kernel runs follows from the term dictionary, which counts the
  query's blocks.  At most ``DRIVER_MAX_BLOCKS`` of them (every query of
  a small index) run on the driver: a ``searchsorted`` and a ``take``
  per held segment give the rows, one kernel call ranks them over every
  segment, and the ranked rows become a LocalRelation — no Spark job,
  and no Python worker.  Past the store's budget the same rows come in
  one JVM-only Arrow collect of an ``isin`` instead.  Past the bound, or
  with no dictionary, the rows — persisted range-partitioned by
  segment — run one kernel call per partition in one narrow
  ``mapInPandas`` stage, merged by ``score DESC, doc_id ASC``.
- **The plan path** (``IndexSearcher``'s relational algebra over
  decoded postings) answers everything else: other shapes (nested
  booleans, sloppy phrases, multi-term, spans, …), other scoring modes,
  ``count`` and ``explain``.

Term statistics come from a term dictionary held on the driver — sorted
``(term, df, ttf, blocks)`` arrays, summed from the block store, or past
its budget from a pyarrow read of the blocks' ``term, count, sum_tf``
alone (the BlockTree terms index ``.tip`` is held on the heap the same
way) — so a query fires no stats job.  Prefix and term-range expansion
are ``searchsorted`` ranges over it.  An index with more than
``DICTIONARY_MAX_TERMS`` (segment, term) entries keeps the per-query
stats collect and the Spark expansion instead.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Iterable
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from lucene_solr_spark.codecs.postings import concat_ranges
from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.index.segments import (
    SEGMENT_ROWS_SCHEMA,
    SegmentedIndex,
    SegmentInfo,
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
from lucene_solr_spark.queries.searcher import (
    LRU,
    MAX_EXPANSION_TERMS,
    IndexSearcher,
    local_frame,
)
from lucene_solr_spark.queries.wand import (
    Clause,
    TopKQuery,
    collect_rows,
    kernel_columns,
    topk_by_partition,
    topk_frame,
)

_CACHE_MAX_TERMS = 8  # multi-term expansions decode in one pass instead
# Σ manifest num_terms (one entry per (segment, term)) up to which the
# term dictionary is held on the driver: three arrays of about 100 bytes
# an entry before the per-segment entries are summed
DICTIONARY_MAX_TERMS = 2_000_000
# encoded blocks (about 1 KB each) per partition of the persisted rows
BLOCKS_PER_PARTITION = 65_536
# encoded blocks of a query's terms up to which the fused kernel runs on
# the driver instead of in a mapInPandas stage, where a Python worker's
# fixed round trip (about 0.4 s) outweighs the driver kernel's
# 0.06-0.09 ms a block.  Measured over the block store on a 4-core host
# (local[4], perfbench corpus of 40,000 docs in 4 segments, k=10, a
# disjunction of the terms with most blocks, median of 7 searches), the
# driver took 0.11 s against 0.40 s for the stage at 1,997 blocks,
# 0.28-0.31 s against 0.44 s at 5,824, 0.40-0.47 s against 0.52 s at
# 7,787, 0.64-0.65 s against 0.80 s at 9,707, and 1.09-1.13 s against
# 1.07 s at 11,642 (372 terms).  The placements that also pay a collect
# of the rows, a searcher past the store's budget and ``wand_topk``, won
# 14 of 16 paired medians of 7 near the bound, by less: at 5,824 blocks
# 0.45-0.62 s against 0.57-0.67 s for the stage (wand_topk 0.65-0.82 s
# against 0.77-0.83 s), at 7,787 blocks 0.68-0.71 s against 0.71-0.80 s
# (wand_topk 0.72-0.91 s against 0.76-0.94 s).
DRIVER_MAX_BLOCKS = 8192
# estimated bytes (held_bytes) of a commit's encoded block rows up to
# which a searcher holds them on the driver (see SegmentBlocks); past it,
# each driver-placed query collects its rows in a Spark job.  One copy
# serves every searcher over the same segment files.  On the 40,000-doc
# perfbench corpus the estimate is 22 MB, the Arrow tables 15.5 MB, and a
# first fill grew the driver process by 39-53 MB (pyarrow's pool keeps
# the read buffers).  The 256 MB itself is not tied to a measured
# driver memory limit.
STORE_MAX_BYTES = 256 << 20
# the block columns the store holds, and those the term dictionary sums
_HELD = [
    "term", "base_docid", "count", "max_docid", "max_tf", "sum_tf",
    "docs_bin", "tfs_bin", "lens_bin", "pos_bin",
]
_STATS = ["term", "count", "sum_tf"]
# (segment directory, its files' names, sizes and mtimes) → the
# SegmentBlocks held from those files, shared by every searcher that holds
# them (a ``lucene`` and an ``exact`` searcher over one commit, or two
# commits that share a segment); an entry goes with its last searcher
_SHARED: weakref.WeakValueDictionary = weakref.WeakValueDictionary()


def held_bytes(infos: Iterable[SegmentInfo]) -> int:
    """The driver bytes a block store of segments ``infos`` takes,
    estimated from their manifest rows: about 64 a block (its metadata,
    offsets and term) plus the payloads, at most about 4 a posting (doc
    gap, tf, length) and 2 a token (position).  On the perfbench corpus
    the estimate is 1.2× the Arrow size at 2,000 docs and 1.4× at 40,000."""
    return sum(64 * i.num_blocks + 4 * i.num_postings + 2 * i.sum_len for i in infos)


@dataclass(frozen=True)
class SegmentBlocks:
    """One segment's encoded block rows held on the driver: ``rows``
    sorted by ``(term, base_docid)``, the segment's distinct ``terms`` in
    sorted order, and ``rows[starts[i]:starts[i + 1]]`` the blocks of
    ``terms[i]`` (BlockTreeTermsReader's terms dictionary → postings
    file pointers)."""

    rows: pa.Table
    terms: np.ndarray
    starts: np.ndarray

    @classmethod
    def held(cls, path: str) -> "SegmentBlocks":
        """The block rows of the segment directory ``path``, read once
        for every searcher that holds the same files."""
        path = os.path.realpath(path)
        files = tuple(sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(path)
        )) if os.path.isdir(path) else ()
        blocks = _SHARED.get((path, files))
        if blocks is None:
            blocks = _SHARED[(path, files)] = cls.read(path, _HELD)
        return blocks

    @classmethod
    def read(cls, path: str, columns: list[str]) -> "SegmentBlocks":
        """The ``columns`` of the block rows in the segment directory
        ``path``, read by pyarrow on the driver: no Spark job."""
        schema = to_arrow_schema(_parse_datatype_string(SEGMENT_ROWS_SCHEMA))
        if os.path.isdir(path):
            rows = ds.dataset(path, schema=schema, format="parquet").to_table(
                columns=columns, filter=pc.field("kind") == 0
            )
        else:
            rows = schema.empty_table().select(columns)
        rows = rows.sort_by([(c, "ascending") for c in ("term", "base_docid") if c in columns])
        # Arrow sorts strings by UTF-8 bytes, which is code-point order,
        # the order numpy compares Python strings in
        term = rows.column("term").to_numpy(zero_copy_only=False)
        first = np.flatnonzero(term[1:] != term[:-1]) + 1
        starts = np.concatenate(([0], first, [len(term)])) if len(term) else np.zeros(1, np.int64)
        return cls(rows, term[starts[:-1]], starts)

    def sums(self, col: str) -> np.ndarray:
        """Per term, the sum of ``col`` over its blocks."""
        v = self.rows.column(col).to_numpy().astype(np.int64)
        return np.add.reduceat(v, self.starts[:-1]) if len(v) else v

    def take(self, terms: np.ndarray) -> pa.Table:
        """The block rows of the sorted ``terms``, term by term."""
        at = np.searchsorted(self.terms, terms)
        ok = at < len(self.terms)
        ok[ok] = self.terms[at[ok]] == terms[ok]
        at = at[ok]
        return self.rows.take(concat_ranges(self.starts[at], self.starts[at + 1] - self.starts[at]))


def _dictionary_of(store: list[SegmentBlocks]) -> tuple[np.ndarray, ...]:
    """(term, df, ttf, blocks) summed over the segments ``store``,
    sorted by term."""
    if not store:
        none = np.zeros(0, np.int64)
        return np.zeros(0, object), none, none, none
    keys, inv = np.unique(np.concatenate([s.terms for s in store]), return_inverse=True)

    def total(per: list[np.ndarray]) -> np.ndarray:
        out = np.zeros(len(keys), np.int64)
        np.add.at(out, inv, np.concatenate(per))
        return out

    return (
        keys,
        total([s.sums("count") for s in store]),
        total([s.sums("sum_tf") for s in store]),
        total([np.diff(s.starts) for s in store]),
    )


class SegmentSearcher(IndexSearcher):
    """IndexSearcher over one point-in-time snapshot of a SegmentedIndex
    (DirectoryReader.open reading one ``segments_N``): opening reads the
    manifest once, and the encoded rows, norms, term stats and collection
    stats all come from that read, so a later build, merge or
    ``write_encoded`` changes nothing this searcher scores with.  Opening
    fires no Spark job; the block store fills and every frame persists
    on first use.  All state is the searcher's own, but for the store's
    segments, which searchers holding the same files share."""

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
        self._held_bytes = held_bytes(man.values())
        self._dictionary: tuple[np.ndarray, ...] | None = None
        # the block store: segment id → its SegmentBlocks, filled with the
        # dictionary when the commit is under STORE_MAX_BYTES
        self._store: dict[int, SegmentBlocks] | None = None
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
        """Sorted (term, df, ttf, blocks) arrays, loaded on first use and
        summed from the commit's block rows: from the block store, which
        fills then, or past ``STORE_MAX_BYTES`` from a read of their
        ``term, count, sum_tf`` alone; None when the index is past
        ``DICTIONARY_MAX_TERMS``."""
        if self._dictionary is None and self._num_terms <= DICTIONARY_MAX_TERMS:
            dirs = {s: os.path.join(self.index._data_dir, f"segment={s}") for s in self._segments}
            if self._held_bytes <= STORE_MAX_BYTES:
                self._store = {s: SegmentBlocks.held(d) for s, d in dirs.items()}
                self._dictionary = _dictionary_of(list(self._store.values()))
            else:
                self._dictionary = _dictionary_of(
                    [SegmentBlocks.read(d, _STATS) for d in dirs.values()]
                )
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

    def _fused(
        self, queries: dict[str, TopKQuery], k: int | None
    ) -> pd.DataFrame | DataFrame:
        """``(query_id, doc_id, score)`` of the fused kernel: on the
        driver, a pandas frame of each query's top ``k`` already ranked;
        in its stage, the lazy frame of each partition's top ``k``."""
        cache, avgdl = (None, self._avgdl64) if self.scoring == "exact" else (
            self._cache32, float(self._avgdl32)
        )
        run = (queries, k, self.bm25.k1, self.bm25.b, cache, avgdl)
        terms = sorted({t for q in queries.values() for t in q.terms})
        if not self._on_driver(terms):
            return topk_by_partition(self._enc, *run)
        return topk_frame(self._driver_rows(terms, queries), *run)

    def _driver_rows(self, terms: list[str], queries: dict[str, TopKQuery]) -> pd.DataFrame:
        """The block rows of ``terms`` on the driver: a ``searchsorted``
        and a ``take`` per held segment, or past the store's budget one
        Spark collect."""
        if self._store is None:
            return collect_rows(self._enc, queries)
        keys = np.array(terms, dtype=object)
        cols = kernel_columns(any(q.has_phrase for q in queries.values()))
        parts = [s.take(keys).select(cols) for s in self._store.values()]
        return pa.concat_tables(parts).to_pandas() if parts else pd.DataFrame(columns=cols)

    def _as_frame(self, found: pd.DataFrame | DataFrame, query_id: bool = False) -> DataFrame:
        """A ``_fused`` result as ``([query_id,] doc_id, score)``: the
        driver's rows as a LocalRelation, whose ``collect()`` fires no
        Spark job, or the stage's frame."""
        schema = ("query_id string, " if query_id else "") + self._scored_schema
        if isinstance(found, pd.DataFrame):
            return local_frame(self.index.spark, found, schema)
        return found if query_id else found.select("doc_id", "score")

    def _top_frame(self, found: pd.DataFrame | DataFrame, n: int) -> DataFrame:
        df = self._as_frame(found)
        return df if isinstance(found, pd.DataFrame) else df.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(n)

    def _top(self, q: Query, n: int) -> DataFrame:
        tq = self._topk_query(q)
        if tq is None:
            return super()._top(q, n)
        return self._top_frame(self._fused({"q": tq}, n), n)

    def _top_rows(self, q: Query, n: int) -> list:
        """A driver-placed query's ranked rows go to the queryResultCache
        as the kernel returned them: no LocalRelation, no collect."""
        tq = self._topk_query(q)
        if tq is None:
            return super()._top_rows(q, n)
        found = self._fused({"q": tq}, n)
        if not isinstance(found, pd.DataFrame):
            return self._top_frame(found, n).collect()
        return [
            Row(doc_id=int(d), score=float(s)) for d, s in zip(found["doc_id"], found["score"])
        ]

    def _scored(self, q: Query) -> DataFrame:
        tq = self._topk_query(q)
        if tq is None:
            return super()._scored(q)
        return self._as_frame(self._fused({"q": tq}, None))

    def _batch_parts(
        self, queries: dict[str, Query], k: int
    ) -> tuple[list[DataFrame], list[DataFrame]]:
        """Every covered query of the batch, tagged with its id, runs
        through ONE fused kernel call over all their terms' rows — each
        query's top-k on the driver, or each partition's per query in
        one narrow stage that the per-query ranking follows.  The rest
        take the plan path."""
        fused = {qid: tq for qid, q in queries.items() if (tq := self._topk_query(q))}
        rest = {qid: q for qid, q in queries.items() if qid not in fused}
        ranked, parts = super()._batch_parts(rest, k) if rest else ([], [])
        if fused:
            found = self._fused(fused, k)
            df = self._as_frame(found, query_id=True)
            (ranked if isinstance(found, pd.DataFrame) else parts).append(df)
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
