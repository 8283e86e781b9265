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
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.index.segments import (
    SegmentedIndex,
    collection_stats,
    decode_postings,
)
from lucene_solr_spark.queries.searcher import LRU, IndexSearcher

_CACHE_MAX_TERMS = 8  # multi-term expansions decode in one pass instead


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
        # the ENCODED block rows — compact (FOR/VByte binaries ≈ on-disk
        # index size), filtered columnar-in-memory per query with
        # pushdown-before-decode intact; MEMORY_AND_DISK persist degrades
        # gracefully when the index outgrows memory
        self._enc = index.postings(segs).persist()
        # per-term and per-expansion DECODED postings (scoring-independent),
        # populated on first touch
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
