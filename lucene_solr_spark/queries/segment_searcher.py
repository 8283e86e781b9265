"""SegmentSearcher — the full query surface over the on-disk segmented
index (the SegmentReader/IndexSearcher split of the reference: a
searcher opens a committed index independent of the writer).

Key property: every term lookup filters the ENCODED block rows first —
the `term` predicate pushes down to the parquet scan (PushedFilters +
row-group stats + segment partition pruning) — and only surviving
blocks are FOR/VByte-decoded, inside one vectorized kernel.  A query
never decodes postings it does not touch, which is what makes the
on-disk index queryable at 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import SegmentedIndex, decode_postings
from lucene_solr_spark.queries.searcher import IndexSearcher


class SegmentSearcher(IndexSearcher):
    """IndexSearcher over a SegmentedIndex directory."""

    def __init__(
        self,
        index: SegmentedIndex,
        k1: float = 1.2,
        b: float = 0.75,
        scoring: str = "lucene",
        sweetspot: dict | None = None,
    ) -> None:
        self.index = index
        # All caches live ON THE INDEX OBJECT and are shared by every
        # searcher over it (scoring modes are views over the same
        # segments — the reference's SegmentReader sharing across
        # IndexSearcher instances).  Three layers:
        #   _enc_cache: the ENCODED block rows — compact (FOR/VByte
        #     binaries ≈ on-disk index size; the .doc/.pos files in OS
        #     page cache), filtered columnar-in-memory per query, with
        #     pushdown-before-decode intact (only blocks whose term
        #     survives the filter are decoded).  MEMORY_AND_DISK persist
        #     degrades gracefully when the index outgrows memory.
        #   _stats_cache / norms: vocabulary- and doc-sized side tables
        #     every query touches (BlockTree terms index / .nvd analog).
        #   _dec_cache: per-term DECODED postings, populated on first
        #     touch — hot posting lists stay decoded, like the per-
        #     segment reader state of the reference.  Bounded by the
        #     queried vocabulary; decoded rows are scoring-independent.
        cache = getattr(index, "_searcher_caches", None)
        if cache is None:
            tables = index.to_tables()
            cache = {
                "norms": tables.doc_norms.persist(),
                "enc": index.postings().persist(),
                "term_stats": tables.term_stats.persist(),
                "stats": tables.stats,
                "postings": tables.postings,
                "dec": {},
                "exp": {},
            }
            index._searcher_caches = cache
        self._norms = cache["norms"]
        self._enc = cache["enc"]
        self._dec: dict[str, DataFrame] = cache["dec"]
        self._exp: dict = cache["exp"]
        from lucene_solr_spark.index.builder import IndexTables

        tables = IndexTables(
            cache["postings"], cache["term_stats"], cache["norms"], cache["stats"]
        )
        super().__init__(
            tables, k1=k1, b=b, scoring=scoring, cache_postings=False,
            sweetspot=sweetspot,
        )

    _CACHE_MAX_TERMS = 8  # multi-term expansions decode in one pass instead
    # LRU bounds on the persisted decoded frames (the reference's
    # SolrIndexSearcher caches are size-bounded LRUs, solrconfig.xml
    # 443-459; an unbounded persist would accumulate executor storage
    # under a hot wildcard workload on a long-lived searcher)
    _DEC_CACHE_MAX = 256   # per-term decoded posting frames
    _EXP_CACHE_MAX = 32    # per-expansion bulk-decoded frames

    @staticmethod
    def _cache_put(cache: dict, key, df: DataFrame, max_size: int) -> None:
        """Insert as most-recent; evict + unpersist the LRU overflow."""
        cache[key] = df
        while len(cache) > max_size:
            old_key = next(iter(cache))
            old = cache.pop(old_key)
            try:
                old.unpersist()
            except Exception:  # noqa: BLE001 — eviction must never fail a query
                pass

    @staticmethod
    def _cache_get(cache: dict, key):
        """Get + refresh recency (dict preserves insertion order)."""
        df = cache.get(key)
        if df is not None:
            del cache[key]
            cache[key] = df
        return df

    def _postings_for_terms(
        self, terms: list[str], bulk: bool = False
    ) -> DataFrame:
        terms = list(terms)
        if bulk or len(terms) > self._CACHE_MAX_TERMS:
            # expansion term sets (prefix/wildcard/fuzzy/range): one
            # bulk filter+decode pass, cached per expansion signature —
            # repeated wildcard/prefix queries hit the persisted frame
            # instead of building one cached frame per expanded term
            key = hash(tuple(sorted(terms)))
            decoded = self._cache_get(self._exp, key)
            if decoded is None:
                # (norm_byte, length) decode straight out of each
                # block's lens_bin payload — the per-segment reader of
                # the reference holds .nvd alongside .doc the same way;
                # no doc_id join at all, cold or warm
                decoded = decode_postings(self._enc.filter(F.col("term").isin(terms))).persist()
                self._cache_put(self._exp, key, decoded, self._EXP_CACHE_MAX)
            return decoded
        parts = []
        for t in terms:
            df = self._cache_get(self._dec, t)
            if df is None:
                df = decode_postings(self._enc.filter(F.col("term") == t)).persist()
                self._cache_put(self._dec, t, df, self._DEC_CACHE_MAX)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
