"""Query execution over the index tables — the read path.

The reference's scorer algebra (DocIdSetIterator trees,
search/ConjunctionDISI.java / DisjunctionSumScorer.java / ReqExclScorer
/ ExactPhraseScorer.java) is re-expressed as relational algebra on the
postings DataFrame:

- TermQuery        → filter(term = t) + BM25 column kernel
- MUST / FILTER    → inner joins on doc_id, ordered rarest-first
                     (ConjunctionDISI sorts iterators by cost();
                     we sort by docFreq from term_stats — §4.2)
- SHOULD           → unionByName + groupBy(doc_id).sum / count
- MUST_NOT         → left_anti join (ReqExclScorer)
- minShouldMatch   → HAVING count ≥ m (MinShouldMatchSumScorer)
- PhraseQuery      → docID conjunction first, then position verification
                     as chained JVM-side array_intersect over
                     offset-shifted position arrays — the two-phase
                     pattern (TwoPhaseIterator.java, ExactPhraseScorer:60-171)
                     with zero Python in the verify step
- Prefix/Wildcard/Range/Fuzzy → dictionary expansion against term_stats,
                     capped at 1024 (BooleanQuery.java:43), rewritten to
                     a constant-score disjunction like the reference's
                     MultiTermQuery CONSTANT_SCORE_REWRITE

Scoring modes: ``scoring=`` names one record of
``scoring.similarities.SIMILARITIES``, the one list of modes (default
``lucene``: float32 BM25, rank-identical to the reference; ``exact``:
double BM25 with exact lengths, for SQL-oracle cross-checks).  Every
executor scores through ``_score(boost, stats, frame)`` with the term
stats Lucene's weight would see.

Top-k: ORDER BY score DESC, doc_id ASC LIMIT k — Spark's
TakeOrderedAndProject implements exactly the per-partition bounded heap
+ driver merge of TopScoreDocCollector/TopDocs.merge, including the
tie-break (HitQueue.java:76-81).
"""

from __future__ import annotations

import warnings
from collections import OrderedDict
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.queries.query import (
    BooleanQuery,
    BoostingQuery,
    BoostQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    SynonymQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)
from lucene_solr_spark.queries.rewriter import rewrite
from lucene_solr_spark.queries.spans import (
    SpanFirstQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanOrQuery,
    SpanQuery,
    SpanTermQuery,
    span_terms,
)
from lucene_solr_spark.scoring.bm25 import BM25, byte315_to_float, idf as idf32
from lucene_solr_spark.scoring.similarities import SIMILARITIES, bm25_idf

MAX_EXPANSION_TERMS = 1024  # ref: BooleanQuery.java:43


def osa_distance(a: str, b: str) -> int:
    """Optimal string alignment (restricted Damerau) distance — the
    metric of LevenshteinAutomata with transpositions=true: an ADJACENT
    swap is one edit, but no substring is edited twice (full Damerau
    would allow ca→abc in 2; OSA says 3, matching the automaton)."""
    la, lb = len(a), len(b)
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]

# Conjunction lead sides with docFreq at or below this are broadcast
# (≈ a few hundred MB of (doc_id, score) rows worst-case — well inside
# executor memory; above it, shuffle joins with AQE take over).
BROADCAST_DOC_LIMIT = 2_000_000

# Solr's two searcher-lifetime caches (SolrIndexSearcher.java:119-120;
# default sizes from solr/server/solr/configsets/basic_configs/conf/
# solrconfig.xml:443-459 — filterCache size=512, queryResultCache
# size=512, queryResultWindowSize=20).  Both are per-searcher, dropped
# with the searcher exactly like the reference (a new searcher over
# changed liveDocs starts cold).
QUERY_RESULT_CACHE_SIZE = 512
QUERY_RESULT_WINDOW = 20  # solrconfig.xml:549
FILTER_CACHE_SIZE = 512
# per-term (docFreq, totalTermFreq): a few hundred bytes an entry, and
# far more than one query's terms (expansions stop at 1024)
STATS_CACHE_SIZE = 65536


def local_frame(spark: SparkSession, data: pd.DataFrame | None, schema: str) -> DataFrame:
    """``data`` (None: no rows) as a DataFrame of the DDL ``schema`` that
    is a LocalRelation: built from an Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default), so its ``collect()`` — and a select, filter or limit over
    it — is served on the driver and fires no Spark job.  A frame from
    ``createDataFrame([...])`` is RDD-backed and fires one.  Values
    round-trip exactly: float32 and double scores keep their bits."""
    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    if data is None or data.empty:
        table = arrow.empty_table()
    else:
        table = pa.Table.from_pandas(data[struct.names], schema=arrow, preserve_index=False)
    return spark.createDataFrame(table, struct)


class LRU(OrderedDict):
    """The one type of every searcher cache: a size-bounded LRU map, as
    Solr's searcher caches are (solrconfig.xml:443-459).  Evicting an
    entry unpersists it, so a long-lived searcher does not pile up
    executor storage."""

    def __init__(self, max_size: int) -> None:
        super().__init__()
        self.max_size = max_size

    def get(self, key, make=None):
        """The entry of ``key``, made the most recent; on a miss, the
        result of ``make()`` stored under ``key`` (None without it)."""
        if key in self:
            self.move_to_end(key)
            return self[key]
        value = make() if make is not None else None
        if value is not None:
            self.put(key, value)
        return value

    def put(self, key, value) -> None:
        self[key] = value
        self.move_to_end(key)
        while len(self) > self.max_size:
            _, old = self.popitem(last=False)
            try:
                getattr(old, "unpersist", lambda: None)()
            except Exception as e:  # noqa: BLE001 — eviction must never fail a query
                warnings.warn(f"an evicted cache entry did not unpersist: {e!r}", RuntimeWarning)


class IndexSearcher:
    """IndexSearcher analog (search/IndexSearcher.java)."""

    def __init__(
        self,
        tables: IndexTables,
        k1: float = 1.2,
        b: float = 0.75,
        scoring: str = "lucene",
        cache_postings: bool = True,
        tombstones: DataFrame | None = None,
        sweetspot: dict | None = None,
    ) -> None:
        if scoring not in SIMILARITIES:
            raise ValueError(f"unknown scoring mode {scoring!r}")
        # SweetSpotSimilarity tunables (lucene/misc/
        # SweetSpotSimilarity.java:42-53 defaults)
        self.sweetspot = {
            "tf_base": 0.0, "tf_min": 0.0,
            "ln_min": 1, "ln_max": 1, "steepness": 0.5,
            **(sweetspot or {}),
        }
        self.tables = tables
        self.bm25 = BM25(k1=k1, b=b)
        self.scoring = scoring
        self._sim = SIMILARITIES[scoring]
        # float32-faithful (Java float arithmetic) or double scores
        self._f32 = self._sim.f32
        self.stats = tables.stats
        # Denormalize norms onto postings once (the per-segment norms file
        # read of the reference); at scale this join happens at build time.
        cols = ["doc_id", "term", "tf", "positions"]
        existing = set(tables.postings.columns)
        if {"norm_byte", "length"} <= existing:
            self._postings = tables.postings
        else:
            self._postings = tables.postings.select(*cols).join(
                tables.doc_norms, "doc_id"
            )
        # Live-docs filter (Lucene50LiveDocsFormat's .liv bitset):
        # deleted docs are excluded from every match, but collection
        # and term statistics stay STALE until merge — exactly the
        # reference's pre-merge semantics (docFreq/totalTermFreq still
        # count deleted docs; IndexWriter.deleteDocuments only flips
        # liveDocs bits).  So: anti-join postings/norms, keep stats.
        self._live_norms = tables.doc_norms
        if tombstones is not None:
            dead = tombstones.select("doc_id")
            self._postings = self._postings.join(dead, "doc_id", "left_anti")
            self._live_norms = self._live_norms.join(dead, "doc_id", "left_anti")
        # float64 avgdl for exact mode; float32 path uses bm25.avgdl
        self._avgdl32 = self.bm25.avgdl(
            self.stats.sum_total_term_freq, self.stats.doc_count
        )
        self._cache32 = self.bm25.cache(self._avgdl32)
        if cache_postings:
            # Right-size the cached postings: ~2M posting rows per
            # partition (≈100-200 MB).  Over-partitioning a small index
            # just buys per-task scheduling overhead on every query
            # (measured 2.7× p50 latency); a 10^12-posting index still
            # gets thousands of partitions.  coalesce, not repartition —
            # no shuffle.
            nrows = max(self.stats.sum_doc_freq, 1)
            target = int(min(nrows // 2_000_000 + 1, 4096))
            if target < self._postings.rdd.getNumPartitions():
                self._postings = self._postings.coalesce(target)
            if self._sim.cached_col is not None:
                # Materialize the mode's per-posting norm value (the
                # BM25 norm cache) ONCE in the cached frame (the
                # norms-file decode the reference does per segment
                # open).  Every per-query score expression then
                # references a plain float column instead of carrying a
                # 256-element array literal — measured ~0.2 s of JVM
                # plan analysis per cold boolean query at 4 clauses,
                # pure driver overhead.  Cost: one float per cached
                # posting row, marginal next to the positions arrays it
                # sits beside.
                self._postings = self._postings.withColumn(
                    "_c32", self._sim.cached_col(self)
                )
            self._postings = self._postings.persist()
        self._avgdl64 = (
            self.stats.sum_total_term_freq / float(self.stats.doc_count)
            if self.stats.doc_count
            else 1.0
        )
        self._stats_cache = LRU(STATS_CACHE_SIZE)
        # queryResultCache: (query repr, rounded window) → top rows; the
        # DocList analog (ordered ids+scores, materialized — Solr caches
        # the collected DocSlice, not a plan)
        self._qr_cache = LRU(QUERY_RESULT_CACHE_SIZE)
        # filterCache: filter-query repr → persisted doc_id set (the
        # DocSet bitset analog; at 10^12 docs a persisted doc-set frame
        # spills where Solr's bitset would OOM)
        self._filter_cache = LRU(FILTER_CACHE_SIZE)

    # ------------------------------------------------------------ stats
    def term_statistics(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """Global (docFreq, totalTermFreq) per term — the stats round of
        a distributed query (ExactStatsCache; QueryComponent.java:313-319)."""
        out = {t: v for t in terms if (v := self._stats_cache.get(t)) is not None}
        missing = [t for t in terms if t not in out]
        if missing:
            rows = (
                self.tables.term_stats.filter(F.col("term").isin(missing))
                .select("term", "df", "ttf")
                .collect()
            )
            found = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}
            for t in missing:
                out[t] = found.get(t, (0, 0))
                self._stats_cache.put(t, out[t])
        return {t: out[t] for t in terms}

    # ------------------------------------------------------------ public
    def search(self, query: Query | str, k: int = 10, use_cache: bool = True) -> DataFrame:
        """Top-k (doc_id, score), tie-break score DESC then doc_id ASC
        (HitQueue.java:76-81).

        Results go through the queryResultCache (SolrIndexSearcher.
        getDocListC consults queryResultCache before executing,
        SolrIndexSearcher.java:1299,1353-1356): the request is rounded
        up to the next queryResultWindowSize multiple, the collected
        (doc_id, score) window is cached LRU keyed by the rewritten
        query, and a repeat — or a smaller k of the same query — is
        served without touching the index.  ``use_cache=False`` bypasses
        both lookup and insert (the NO_CHECK_QCACHE flag)."""
        q = self._rewritten(query)

        def top(n: int) -> DataFrame:
            return self._top(q, n)

        if not use_cache:
            return top(k)
        window = (
            QUERY_RESULT_WINDOW
            if k < QUERY_RESULT_WINDOW
            else ((k - 1) // QUERY_RESULT_WINDOW + 1) * QUERY_RESULT_WINDOW
        )
        rows, dfs = self._qr_cache.get(
            (repr(q), window), lambda: (top(window).collect(), {})
        )
        if k not in dfs:
            dfs[k] = self._local_result(rows[:k])
        return dfs[k]

    def _rewritten(self, query: Query | str) -> Query:
        if isinstance(query, str):
            from lucene_solr_spark.queries.parser import parse_query

            query = parse_query(query)
        return rewrite(query)

    def _top(self, q: Query, n: int) -> DataFrame:
        """The top ``n`` of a rewritten query, as a lazy frame."""
        return self._exec(q, boost=1.0).orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(n)

    def _local_result(self, rows: list) -> DataFrame:
        """(doc_id, score) rows → a LocalRelation DataFrame, whose
        collect() is served driver-side with no tasks — a cache hit costs
        no Spark job (the DocList in Solr is likewise a plain in-memory
        slice)."""
        return local_frame(
            self.tables.postings.sparkSession,
            pd.DataFrame(
                {"doc_id": [r["doc_id"] for r in rows], "score": [r["score"] for r in rows]}
            ),
            self._scored_schema,
        )

    @property
    def _scored_schema(self) -> str:
        return f"doc_id long, score {'float' if self._f32 else 'double'}"

    def search_after(
        self, query: Query | str, after_score: float, after_doc: int, k: int = 10
    ) -> DataFrame:
        """Paging cursor (IndexSearcher.searchAfter, :411-446)."""
        df = self.docs(query)
        cond = (F.col("score") < F.lit(after_score)) | (
            (F.col("score") == F.lit(after_score)) & (F.col("doc_id") > F.lit(after_doc))
        )
        return df.filter(cond).orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)

    def search_batch(self, queries: dict[str, Query | str], k: int = 10) -> DataFrame:
        """Execute MANY queries in one call → (query_id, doc_id, score)
        top-k per query.

        The reference benchmark measures throughput by repeating
        searches over a warm reader (micro-standard.alg:50-60, 5000×
        "SearchSameRdr").  Here each query's scored plan is tagged with
        its id, the plans are unioned over the shared cached postings,
        and one window ranks per query.  On this plan path it is not one
        Spark job: every query still runs its own stats round and
        postings jobs while its plan is built, so a batch costs about
        what its queries cost run singly.  ``SegmentSearcher`` sends
        every term, exact phrase and flat boolean query of the batch,
        tagged with its query id, through ONE fused kernel call, and
        only the rest take the plan path.  Per-query top-k keeps the
        HitQueue tie-break."""
        from pyspark.sql import Window

        ranked, parts = self._batch_parts(
            {qid: self._rewritten(q) for qid, q in queries.items()}, k
        )
        if parts:
            w = Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
            ranked.append(
                reduce(DataFrame.unionByName, parts)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k)
                .drop("_rn")
            )
        return reduce(DataFrame.unionByName, ranked)

    def _batch_parts(
        self, queries: dict[str, Query], k: int
    ) -> tuple[list[DataFrame], list[DataFrame]]:
        """(query_id, doc_id, score) frames of the rewritten queries: those
        that hold exactly each of their queries' top ``k``, and those
        that hold at least it and still need the per-query ranking."""
        return [], [
            self._exec(q, 1.0).select(F.lit(qid).alias("query_id"), "doc_id", "score")
            for qid, q in queries.items()
        ]

    def docs(self, query: Query | str) -> DataFrame:
        """All matching (doc_id, score) — exhaustive scoring."""
        return self._scored(self._rewritten(query))

    def _scored(self, q: Query) -> DataFrame:
        """All matching (doc_id, score) of a rewritten query."""
        return self._exec(q, boost=1.0)

    def count(self, query: Query | str) -> int:
        """TotalHitCountCollector analog."""
        if isinstance(query, str):
            from lucene_solr_spark.queries.parser import parse_query

            query = parse_query(query)
        return self._match(rewrite(query)).count()

    def explain(self, query: Query | str, doc_id: int) -> dict:
        """Explanation tree for one doc (IndexSearcher.explain;
        BM25Similarity.explainScore :259-297).  CheckHits discipline:
        the root ``value`` must equal the score ``search`` produces for
        the same doc (tests enforce it in every mode).  TermQuery
        leaves get the BM25 tree under the BM25 modes; any other mode
        or leaf reports its executed score."""
        if isinstance(query, str):
            from lucene_solr_spark.queries.parser import parse_query

            query = parse_query(query)
        query = rewrite(query)
        return self._explain(query, int(doc_id), 1.0)

    def _explain(self, q: Query, doc_id: int, boost: float) -> dict:
        def node(value, description, details=()):
            return {
                "value": float(value),
                "description": description,
                "details": list(details),
            }

        if isinstance(q, BoostQuery):
            return self._explain(q.query, doc_id, boost * q.boost)
        if isinstance(q, TermQuery) and self.scoring in ("lucene", "exact"):
            # the BM25 tree; every other mode takes the fallback below
            row = (
                self._term_postings(q.term)
                .filter(F.col("doc_id") == doc_id)
                .select("tf", "norm_byte", "length")
                .collect()
            )
            if not row:
                return node(0.0, f"no matching term content:{q.term}")
            freq, norm_byte, length = (
                int(row[0]["tf"]), int(row[0]["norm_byte"]), int(row[0]["length"])
            )
            stats = self.term_statistics([q.term])[q.term]
            df_, n = stats[0], self.stats.doc_count
            idf_v = (
                float(idf32(df_, n)) if self.scoring == "lucene"
                else bm25_idf(df_, n)
            )
            # the query weight boost·idf of the mode's Similarity, as
            # every scorer takes it
            weight = self._sim.weight(self.bm25, n, boost, [stats])
            k1, b = self.bm25.k1, self.bm25.b
            if self.scoring == "lucene":
                tf_norm = float(
                    np.float32(freq)
                    / (np.float32(freq) + self._cache32[norm_byte & 0xFF])
                )
                score = float(
                    np.float32(weight)
                    * np.float32(k1 + 1)
                    * np.float32(freq)
                    / (np.float32(freq) + self._cache32[norm_byte & 0xFF])
                )
            else:
                denom = freq + k1 * ((1 - b) + b * length / self._avgdl64)
                tf_norm = freq / denom
                score = weight * (k1 + 1) * freq / denom
            return node(
                score,
                f"weight(content:{q.term} in {doc_id}) [BM25Similarity], product of:",
                [
                    node(boost, "boost"),
                    node(
                        idf_v,
                        "idf, computed as log(1 + (N - n + 0.5) / (n + 0.5)) from:",
                        [node(df_, "n, number of documents containing term"),
                         node(n, "N, total number of documents with field")],
                    ),
                    node(
                        (k1 + 1) * tf_norm,
                        "tf, computed as (freq·(k1+1)) / (freq + k1·(1 - b + b·dl/avgdl)) from:",
                        [node(freq, "freq, occurrences of term within document"),
                         node(k1, "k1, term saturation parameter"),
                         node(b, "b, length normalization parameter"),
                         node(length, "dl, length of field"),
                         node(float(self._avgdl64), "avgdl, average length of field")],
                    ),
                ],
            )
        if isinstance(q, BooleanQuery):
            details = []
            total = 0.0
            matched = True
            for c in q.clauses:
                if c.occur == Occur.MUST_NOT:
                    hit = (
                        self._match(c.query)
                        .filter(F.col("doc_id") == doc_id)
                        .count()
                    )
                    if hit:
                        return node(0.0, "failure to match MUST_NOT clause")
                    continue
                sub = self._explain(c.query, doc_id, boost)
                if c.occur in (Occur.MUST, Occur.FILTER):
                    if sub["description"].startswith("no matching"):
                        matched = False
                if c.occur != Occur.FILTER:
                    total += sub["value"]
                details.append(sub)
            if not matched:
                return node(0.0, "failure to meet condition of required clause")
            if self._f32:
                total = float(np.float32(total))
            return node(total, "sum of:", details)
        # fallback: execute and read the score
        row = (
            self._exec(q, boost)
            .filter(F.col("doc_id") == doc_id)
            .select("score")
            .collect()
        )
        v = float(row[0]["score"]) if row else 0.0
        return node(v, f"{type(q).__name__} score")

    # ------------------------------------------------------- score kernels
    def _norm_cache_col(self) -> Column:
        """256-entry k1·((1−b)+b·dl/avgdl) cache as an array-literal
        Column, built ONCE per searcher.  Building it per score column
        costs 256 F.lit py4j round-trips; with 4 clauses per boolean
        query that was ~0.45 s of the cold-query p50 — pure driver-side
        plan-construction overhead.  Column expressions are unresolved
        and plan-agnostic, so one instance serves every query."""
        col = getattr(self, "_norm_cache_col_cached", None)
        if col is None:
            col = F.array(
                *[F.lit(float(c)) for c in self._cache32.astype(np.float64)]
            )
            self._norm_cache_col_cached = col
        return col

    def _norm_table_col(self) -> Column:
        """NORM_TABLE (decoded doc LENGTH, 1/byte315²) as a cached
        array-literal Column — the SimilarityBase kernels' quantized
        docLen and the wand exporter's ``dl``."""
        col = getattr(self, "_norm_table_col_cached", None)
        if col is None:
            from lucene_solr_spark.scoring.bm25 import NORM_TABLE

            col = F.array(
                *[F.lit(float(v)) for v in NORM_TABLE.astype(np.float64)]
            )
            self._norm_table_col_cached = col
        return col

    def _byte315_col(self) -> Column:
        """Raw byte315 decode (1/sqrt(len)) as a cached array-literal
        Column — ClassicSimilarity's decodeNormValue table."""
        col = getattr(self, "_byte315_col_cached", None)
        if col is None:
            col = F.array(
                *[F.lit(float(byte315_to_float(i))) for i in range(256)]
            )
            self._byte315_col_cached = col
        return col

    def _score(
        self, boost: float, stats: list[tuple[int, int]], frame: DataFrame
    ) -> DataFrame:
        """(doc_id, score) for one weight over ``frame``'s freq / norm
        columns — the mode's Similarity.computeWeight over ``stats``,
        the (df, ttf) list Lucene's weight sees for this query."""
        col = self._sim.score(self, boost, stats, frame)
        return frame.withColumn("score", col).select("doc_id", "score")

    def explain_hits(self, term: str, boost: float = 1.0) -> DataFrame:
        """Vectorized explain — Solr's ``debug=results`` over the FULL
        hit set of a TermQuery (BM25Similarity.explainScore:259-297
        leaf values as columns): per-hit freq, byte315-quantized
        docLen, the k1·((1−b)+b·dl/avgdl) norm cache term, the shared
        float32 idf, and the float32 score from the same whole-stage-
        codegen kernel the search path uses.  Per-doc ``explain()``
        walks one document driver-side; this is the shape that
        explains 10^12 hits — a column projection, no driver loop."""
        if self.scoring != "lucene":
            raise NotImplementedError(
                "explain_hits implements the BM25 (lucene) explanation"
            )
        df_, ttf = self.term_statistics([term])[term]
        if df_ == 0:
            spark = self._live_norms.sparkSession
            return spark.createDataFrame(
                [],
                "doc_id bigint, freq bigint, dl double, cache double,"
                " idf double, score double",
            )
        rows = self._term_postings(term).select(
            "doc_id", F.col("tf").alias("freq"), "norm_byte"
        )
        score = self._sim.score(self, boost, [(df_, ttf)], rows)
        norm_arr = self._norm_table_col()
        cache_arr = self._norm_cache_col()
        bidx = F.col("norm_byte").bitwiseAND(F.lit(255)) + F.lit(1)
        return rows.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("freq").cast("long").alias("freq"),
            F.element_at(norm_arr, bidx).alias("dl"),
            F.element_at(cache_arr, bidx).alias("cache"),
            F.lit(float(idf32(df_, self.stats.doc_count))).alias("idf"),
            score.cast("double").alias("score"),
        )

    def _sum_scores(self, col):
        """float32(Σ_double subscores) in lucene mode (DisjunctionSumScorer
        sums in double, casts to float); plain double in exact mode."""
        expr = F.sum(col.cast("double"))
        return expr.cast("float") if self._f32 else expr

    # ------------------------------------------------------------ executors
    def _postings_for_terms(
        self, terms: list[str], bulk: bool = False
    ) -> DataFrame:
        """Postings rows (doc_id, term, tf, positions, norm_byte, length)
        for the given terms — the single point subclasses override to
        change the storage backend (e.g. SegmentSearcher decodes
        block-compressed rows AFTER a parquet-pruned term filter).

        ``bulk=True`` marks a dictionary-expansion term set (prefix /
        wildcard / fuzzy / range): backends should fetch it in one pass
        keyed by the whole set rather than caching per term."""
        return self._postings.filter(F.col("term").isin(list(terms)))

    def _term_postings(self, term: str) -> DataFrame:
        return self._postings_for_terms([term])

    def _exec(self, q: Query, boost: float) -> DataFrame:
        """Scored execution → DataFrame(doc_id, score)."""
        if isinstance(q, MatchNoDocsQuery):
            return self._empty_scored()
        if isinstance(q, MatchAllDocsQuery):
            return self._live_norms.select(
                "doc_id", self._const_score(float(np.float32(boost)))
            )
        if isinstance(q, BoostQuery):
            return self._exec(q.query, boost * q.boost)
        if isinstance(q, ConstantScoreQuery):
            score = float(np.float32(boost * q.score)) if self._f32 else boost * q.score
            return self._match(q.query).select(
                "doc_id", self._const_score(score)
            )
        if isinstance(q, TermQuery):
            df_, ttf = self.term_statistics([q.term])[q.term]
            if df_ == 0:
                return self._empty_scored()
            tp = self._term_postings(q.term)
            pl = tp.select(
                "doc_id",
                F.col("tf").alias("freq"),
                "norm_byte",
                "length",
                *(["_c32"] if "_c32" in tp.columns else []),
            )
            return self._score(boost, [(df_, ttf)], pl)
        if isinstance(q, SynonymQuery):
            return self._exec_synonym(q, boost)
        if isinstance(q, DisjunctionMaxQuery):
            return self._exec_dismax(q, boost)
        if isinstance(q, MultiPhraseQuery):
            return self._exec_multiphrase(q, boost)
        if isinstance(q, PhraseQuery):
            return self._exec_phrase(q, boost)
        if isinstance(
            q, (PrefixQuery, WildcardQuery, RegexpQuery, TermRangeQuery, FuzzyQuery)
        ):
            # CONSTANT_SCORE_REWRITE (MultiTermQuery.java default)
            return self._exec(ConstantScoreQuery(q, 1.0), boost)
        if isinstance(q, BooleanQuery):
            return self._exec_boolean(q, boost)
        if isinstance(q, SpanQuery):
            return self._exec_span(q, boost)
        if isinstance(q, BoostingQuery):
            return self._exec_boosting(q, boost)
        raise TypeError(f"cannot execute {type(q).__name__}")

    def _exec_boosting(self, q: BoostingQuery, boost: float) -> DataFrame:
        """BoostingQuery (queries/BoostingQuery.java:95-121): score the
        match query, compute the context DOC SET (never its scores —
        needsScores=false, :70), and multiply a matching doc's score by
        q.boost iff the context also matches (FilterScorer.score,
        :101-110).  Plan shape: one scored subtree + one non-scoring
        docset + a left join on doc_id — the context set is
        term-pruned, not corpus-sized, and no new shuffle key appears
        (both sides already hash by doc_id)."""
        scored = self._exec(q.match, boost)
        ctx = (
            self._match(q.context)
            .select("doc_id")
            .distinct()
            .withColumn("_ctx", F.lit(1))
        )
        mult = float(np.float32(q.boost)) if self._f32 else float(q.boost)
        new_score = F.when(
            F.col("_ctx").isNotNull(), F.col("score") * F.lit(mult)
        ).otherwise(F.col("score"))
        if self._f32:
            # FilterScorer.score() is float arithmetic: one float32
            # rounding of the product (:104-109)
            new_score = new_score.cast("float")
        return scored.join(ctx, "doc_id", "left").select(
            "doc_id", new_score.alias("score")
        )

    def _const_score(self, value: float) -> Column:
        """A constant ``score`` column in the mode's score type."""
        lit = F.lit(value)
        return (lit.cast("float") if self._f32 else lit).alias("score")

    def _empty_scored(self) -> DataFrame:
        """No (doc_id, score) rows, as a LocalRelation: collecting it, or
        a plan it empties, fires no Spark job."""
        return local_frame(self.tables.postings.sparkSession, None, self._scored_schema)

    # cost estimate for conjunction ordering (rarest-first lead,
    # ConjunctionDISI.java:185)
    def _cost(self, q: Query) -> int:
        if isinstance(q, TermQuery):
            return self.term_statistics([q.term])[q.term][0]
        if isinstance(q, PhraseQuery):
            stats = self.term_statistics(list(set(q.terms)))
            return min(s[0] for s in stats.values()) if stats else 0
        if isinstance(q, (BoostQuery, ConstantScoreQuery)):
            return self._cost(q.query)
        if isinstance(q, BoostingQuery):
            return self._cost(q.match)  # selection is match-only
        if isinstance(q, BooleanQuery):
            musts = [c.query for c in q.clauses if c.occur in (Occur.MUST, Occur.FILTER)]
            if musts:
                return min(self._cost(m) for m in musts)
            return sum(self._cost(c.query) for c in q.clauses if c.occur == Occur.SHOULD)
        if isinstance(q, MatchNoDocsQuery):
            return 0
        if isinstance(q, SpanTermQuery):
            return self.term_statistics([q.term])[q.term][0]
        if isinstance(q, SpanNearQuery):
            return min(self._cost(c) for c in q.clauses)
        if isinstance(q, SpanOrQuery):
            return sum(self._cost(c) for c in q.clauses)
        if isinstance(q, SpanNotQuery):
            return self._cost(q.include)
        if isinstance(q, SpanFirstQuery):
            return self._cost(q.match)
        return 1 << 31

    def _exec_boolean(self, q: BooleanQuery, boost: float) -> DataFrame:
        musts = [c.query for c in q.clauses if c.occur == Occur.MUST]
        filters = [c.query for c in q.clauses if c.occur == Occur.FILTER]
        shoulds = [c.query for c in q.clauses if c.occur == Occur.SHOULD]
        must_nots = [c.query for c in q.clauses if c.occur == Occur.MUST_NOT]
        msm = q.minimum_number_should_match

        required: DataFrame | None = None
        if musts or filters:
            # rarest-first conjunction (our df-ordered join plan, §4.2).
            # The accumulated left side is bounded by the LEAD clause's
            # docFreq (rarest first), so when that df is small we hint
            # broadcast on it — the distributed analog of ConjunctionDISI
            # leading with the cheapest iterator (ConjunctionDISI.java:
            # 185): every other posting list is probed by the tiny doc
            # set instead of shuffling both sides on doc_id.
            scored = sorted(musts, key=self._cost)
            unscored = sorted(filters, key=self._cost)
            lead_df = self._cost(scored[0] if scored else unscored[0])
            bcast = lead_df <= BROADCAST_DOC_LIMIT

            def _conj(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
                if bcast:
                    # broadcastable side must be the join's right input
                    # for inner/semi; doc-id set intersection and the
                    # column-carrying inner join are both symmetric here
                    return right.join(F.broadcast(left), "doc_id", how)
                return left.join(right, "doc_id", how)

            parts: list[DataFrame] = []
            for i, m in enumerate(scored):
                parts.append(
                    self._exec(m, boost).withColumnRenamed("score", f"_s{i}")
                )
            base = parts[0] if parts else None
            for p in parts[1:]:
                base = _conj(base, p, "inner")
            for f_ in unscored:
                fdf = self._filter_docset(f_)
                if base is None:
                    base = fdf
                else:
                    # left_semi keeps LEFT's columns: the scored base
                    # must stay the left input; broadcast the filter
                    # side only if it is itself small
                    if self._cost(f_) <= BROADCAST_DOC_LIMIT:
                        fdf = F.broadcast(fdf)
                    base = base.join(fdf, "doc_id", "left_semi")
            score_cols = [F.col(f"_s{i}").cast("double") for i in range(len(scored))]
            if score_cols:
                total = reduce(lambda a, b: a + b, score_cols)
                if self._f32:
                    total = total.cast("float")
                required = base.select("doc_id", total.alias("score"))
            else:
                required = base.select(
                    "doc_id", F.lit(0.0).cast(
                        "float" if self._f32 else "double"
                    ).alias("score")
                )

        should_agg: DataFrame | None = None
        if shoulds:
            union = reduce(
                DataFrame.unionByName, (self._exec(s, boost) for s in shoulds)
            )
            should_cost = sum(self._cost(s) for s in shoulds)
            if (
                required is not None
                and bcast
                and should_cost > BROADCAST_DOC_LIMIT
            ):
                # SHOULD clauses only contribute to docs that already
                # pass the required conjunction (BooleanWeight: optional
                # scorers are advanced to the required doc) — so prune
                # the union to the required doc-set BEFORE the groupBy.
                # The required side is bounded by the LEAD clause's df;
                # when that is broadcastable AND the should postings are
                # big enough that their shuffle dominates, this turns
                # the shuffle of every hot SHOULD term's postings into a
                # broadcast semi-join probe.  At 10^12 docs this is the
                # difference between shuffling a stopword's posting list
                # and probing it with a rare term's doc set.  Below the
                # threshold the extra broadcast job costs more than the
                # tiny shuffle it saves (cost-based, like BooleanWeight
                # picking scorer strategies by cost()).
                union = union.join(
                    F.broadcast(required.select("doc_id")), "doc_id", "left_semi"
                )
            should_agg = union.groupBy("doc_id").agg(
                self._sum_scores(F.col("score")).alias("_should"),
                F.count("*").alias("_cnt"),
            )

        if required is not None:
            out = required
            if should_agg is not None:
                out = out.join(should_agg, "doc_id", "left")
                if msm > 0:
                    out = out.filter(F.coalesce(F.col("_cnt"), F.lit(0)) >= msm)
                total = (
                    F.col("score").cast("double")
                    + F.coalesce(F.col("_should").cast("double"), F.lit(0.0))
                )
                if self._f32:
                    total = total.cast("float")
                out = out.select("doc_id", total.alias("score"))
        elif should_agg is not None:
            out = should_agg.filter(F.col("_cnt") >= max(msm, 1)).select(
                "doc_id", F.col("_should").alias("score")
            )
        else:
            return self._empty_scored()

        for mn in must_nots:
            ex = self._match(mn)
            if self._cost(mn) <= BROADCAST_DOC_LIMIT:
                ex = F.broadcast(ex)
            out = out.join(ex, "doc_id", "left_anti")
        return out

    def _exec_synonym(self, q: SynonymQuery, boost: float) -> DataFrame:
        """SynonymQuery: summed tf scored as one pseudo-term with
        df = max(df_i) (search/SynonymQuery.java)."""
        stats = self.term_statistics(list(q.terms))
        df_max = max((s[0] for s in stats.values()), default=0)
        if df_max == 0:
            return self._empty_scored()
        pl = (
            self._postings_for_terms(list(q.terms))
            .groupBy("doc_id")
            .agg(
                F.sum("tf").alias("freq"),
                F.first("norm_byte").alias("norm_byte"),
                F.first("length").alias("length"),
            )
        )
        # one pseudo-term: df = max(df_i), ttf = Σ ttf_i
        # (SynonymQuery.java:130-147)
        ttf_sum = sum(s[1] for s in stats.values())
        return self._score(boost, [(df_max, ttf_sum)], pl)

    def _exec_dismax(self, q: DisjunctionMaxQuery, boost: float) -> DataFrame:
        """DisjunctionMaxQuery: max(subscores) + tie·(sum − max)
        (search/DisjunctionMaxQuery.java, DisjunctionMaxScorer)."""
        if not q.disjuncts:
            return self._empty_scored()
        union = reduce(
            DataFrame.unionByName, (self._exec(d, boost) for d in q.disjuncts)
        )
        agg = union.groupBy("doc_id").agg(
            F.max(F.col("score").cast("double")).alias("_mx"),
            F.sum(F.col("score").cast("double")).alias("_sm"),
        )
        total = F.col("_mx") + F.lit(float(q.tie_breaker)) * (
            F.col("_sm") - F.col("_mx")
        )
        if self._f32:
            total = total.cast("float")
        return agg.select("doc_id", total.alias("score"))

    def _exec_multiphrase(self, q: MultiPhraseQuery, boost: float) -> DataFrame:
        """MultiPhraseQuery: union each slot's postings (positions
        concatenated per doc), then the standard two-phase position
        intersection (search/MultiPhraseQuery.java)."""
        all_terms = [t for slot in q.slots for t in slot]
        stats = self.term_statistics(list(dict.fromkeys(all_terms)))
        # every slot needs at least one existing term
        for slot in q.slots:
            if all(stats[t][0] == 0 for t in slot):
                return self._empty_scored()
        # MultiPhraseQuery.createWeight builds TermStatistics per live
        # term of the flattened slots
        live_stats = [stats[t] for t in all_terms if stats[t][0] > 0]
        # one union-postings frame per DISTINCT slot key — a repeated
        # slot (same term set) reuses the first frame instead of
        # joining an identical aggregation again
        base: DataFrame | None = None
        built: dict[tuple[str, ...], int] = {}
        for i, slot in enumerate(q.slots):
            live = tuple(sorted(t for t in slot if stats[t][0] > 0))
            if live in built and i > 0:
                continue
            built.setdefault(live, i)
            pl = (
                self._postings_for_terms(list(live))
                .groupBy("doc_id")
                .agg(
                    F.sort_array(
                        F.flatten(F.collect_list("positions"))
                    ).alias(f"_p{i}"),
                    *(
                        [
                            F.first("norm_byte").alias("norm_byte"),
                            F.first("length").alias("length"),
                        ]
                        if i == 0
                        else []
                    ),
                )
            )
            base = pl if base is None else base.join(pl, "doc_id", "inner")
        slot_col = {
            i: built[tuple(sorted(t for t in slot if stats[t][0] > 0))]
            for i, slot in enumerate(q.slots)
        }
        if q.slop > 0:
            # sloppy multi-phrase (MultiPhraseQuery.java:55,83-90 →
            # SloppyPhraseScorer): each slot's UNION postings are one
            # PhrasePositions.  Repeat classification mirrors
            # repeatingPPs (SloppyPhraseScorer.java:467-480): terms in
            # ≥2 slots repeat; hasMultiTermRpts iff a repeating term
            # touches a multi-term slot.  Without multi-term repeats,
            # pps with IDENTICAL slot keys are exactly the reference's
            # repeat groups, so the doc-parallel batch kernel applies
            # with pseudo-term ids; WITH them, the same kernel takes
            # the slots' term sets and runs the full MTP machinery
            # (connected-component groups + vectorized iterative init)
            # doc-parallel — hypothesis-gated bit-exact against the
            # per-doc slots engine.
            from lucene_solr_spark.queries.sloppy import (
                sloppy_phrase_freq_batch,
            )

            offs = [int(p) for p in q.positions]
            slop = int(q.slop)
            live_slots = [
                tuple(t for t in slot if stats[t][0] > 0) for slot in q.slots
            ]
            tcnt: dict[str, int] = {}
            for slot in live_slots:
                for t in slot:
                    tcnt[t] = tcnt.get(t, 0) + 1
            rpt = {t for t, c in tcnt.items() if c >= 2}
            has_mtp = any(len(s) > 1 and set(s) & rpt for s in live_slots)
            # one positions column per DISTINCT slot key (union
            # postings computed once, shared by repeated slots)
            key_ids: dict[tuple[str, ...], int] = {}
            tidx = [
                key_ids.setdefault(tuple(sorted(s)), len(key_ids))
                for s in live_slots
            ]
            ncols = len(key_ids)

            tsets = [frozenset(s) for s in live_slots] if has_mtp else None

            @F.pandas_udf("float")
            def msloppy_udf(*pcols: pd.Series) -> pd.Series:
                cols = [c.to_numpy() for c in pcols]
                return pd.Series(
                    sloppy_phrase_freq_batch(cols, offs, slop, tidx, tsets)
                )

            # map slot columns onto distinct-key columns: _p{i} was
            # built per SLOT above; feed one column per distinct key
            first_col_of_key = {}
            for i, k in enumerate(tidx):
                first_col_of_key.setdefault(k, i)
            cols_in = [
                F.col(f"_p{first_col_of_key[k]}") for k in range(ncols)
            ]
            out = base.withColumn("freq", msloppy_udf(*cols_in)).filter(
                F.col("freq") > 0
            )
            return self._score(boost, live_stats, out)

        def _shift(col_name: str, off: int):
            # NB: F.transform dispatches on lambda arity — bind via closure
            return F.transform(F.col(col_name), lambda x: x - F.lit(off))

        shifted = [
            _shift(f"_p{slot_col[i]}", off)
            for i, off in enumerate(q.positions)
        ]
        inter = reduce(lambda a, b: F.array_intersect(a, b), shifted)
        out = base.withColumn("freq", F.size(inter)).filter(F.col("freq") > 0)
        return self._score(boost, live_stats, out)

    def _exec_phrase(self, q: PhraseQuery, boost: float) -> DataFrame:
        """Two-phase exact phrase: docID conjunction, then JVM-side
        position verification (ExactPhraseScorer.java:60-171).

        phraseFreq = |∩_i (positions_i − offset_i)|, computed with
        chained array_intersect over offset-shifted arrays — stays in
        whole-stage codegen."""
        uniq = list(dict.fromkeys(q.terms))
        stats = self.term_statistics(uniq)
        if any(stats[t][0] == 0 for t in uniq):
            return self._empty_scored()
        # PhraseWeight builds TermStatistics per phrase position,
        # repeats included
        term_stats = [stats[t] for t in q.terms]
        # join rarest-first; broadcast the accumulated (rarest-bounded)
        # side when the lead term is selective enough
        order = sorted(range(len(uniq)), key=lambda i: stats[uniq[i]][0])
        bcast = stats[uniq[order[0]]][0] <= BROADCAST_DOC_LIMIT
        base: DataFrame | None = None
        for rank, i in enumerate(order):
            t = uniq[i]
            pl = self._term_postings(t).select(
                "doc_id",
                F.col("positions").alias(f"_p{i}"),
                *(["norm_byte", "length"] if rank == 0 else []),
            )
            if base is None:
                base = pl
            elif bcast:
                base = pl.join(F.broadcast(base), "doc_id", "inner")
            else:
                base = base.join(pl, "doc_id", "inner")
        # offset-shift each term's positions by its query offset(s) and
        # intersect.  A term repeated at several offsets intersects once
        # per offset.
        if q.slop > 0:
            # SloppyPhraseScorer semantics incl. the repeated-terms
            # machinery (one postings column per unique term; term_idx
            # maps each phrase position to its term's column).  The
            # kernel is the doc-parallel batch state machine — one
            # numpy event loop per Arrow batch, no per-candidate-row
            # Python traversal (sloppy.py sloppy_phrase_freq_batch,
            # hypothesis-gated equivalent to the per-doc reference
            # port).
            from lucene_solr_spark.queries.sloppy import (
                sloppy_phrase_freq_batch,
            )

            offs = [int(p) for p in q.positions]
            tidx = [uniq.index(t) for t in q.terms]
            slop = int(q.slop)

            @F.pandas_udf("float")
            def sloppy_udf(*pcols: pd.Series) -> pd.Series:
                cols = [c.to_numpy() for c in pcols]
                return pd.Series(
                    sloppy_phrase_freq_batch(cols, offs, slop, tidx)
                )

            out = base.withColumn(
                "freq", sloppy_udf(*[F.col(f"_p{i}") for i in range(len(uniq))])
            ).filter(F.col("freq") > 0)
            return self._score(boost, term_stats, out)

        def _shift(col_name: str, off: int):
            # NB: F.transform dispatches on lambda arity — a 2-arg lambda
            # would receive (element, index), so bind the offset via closure.
            return F.transform(F.col(col_name), lambda x: x - F.lit(off))

        shifted = [
            _shift(f"_p{uniq.index(term)}", off)
            for term, off in zip(q.terms, q.positions)
        ]
        inter = reduce(lambda a, b: F.array_intersect(a, b), shifted)
        out = base.withColumn("freq", F.size(inter)).filter(F.col("freq") > 0)
        return self._score(boost, term_stats, out)

    # --------------------------------------------------------- spans
    def _span_candidates(self, q: SpanQuery) -> DataFrame:
        """Approximation phase: the doc-set each span tree can possibly
        match (the ConjunctionDISI/DisjunctionDISIApproximation over
        sub-span iterators — spans/SpanNearQuery.java createWeight);
        position verification happens in the batch kernel."""
        if isinstance(q, SpanTermQuery):
            return self._term_postings(q.term).select("doc_id")
        if isinstance(q, SpanOrQuery):
            union = reduce(
                DataFrame.unionByName,
                (self._span_candidates(c) for c in q.clauses),
            )
            return union.distinct()
        if isinstance(q, SpanNearQuery):
            base: DataFrame | None = None
            for c in sorted(q.clauses, key=self._cost):
                cdf = self._span_candidates(c)
                base = cdf if base is None else base.join(cdf, "doc_id", "left_semi")
            assert base is not None
            return base
        if isinstance(q, SpanNotQuery):
            return self._span_candidates(q.include)
        if isinstance(q, SpanFirstQuery):
            return self._span_candidates(q.match)
        raise TypeError(f"not a span query: {type(q).__name__}")

    def _exec_span(self, q: SpanQuery, boost: float) -> DataFrame:
        """Span execution: the span tree's candidate doc-set, then the
        reference span-iterator traversal per doc
        (spans/SpanScorer.java:84-115) as the positional freq kernel."""
        # float32 freq accumulation in lucene mode (SpanScorer's Java
        # float +=); float64 in exact mode so the SQL oracle's double
        # arithmetic agrees bit-for-bit on dyadic slop factors.
        exact = self.scoring == "exact"

        def span_kernel(lists: dict, n: int):
            from lucene_solr_spark.queries.spans import (
                batch_from_position_lists,
                span_freqs_batch,
            )

            batches = {t: batch_from_position_lists(a) for t, a in lists.items()}
            return span_freqs_batch(q, batches, n, exact)

        return self._exec_positional(
            span_terms(q), lambda live: self._span_candidates(q), span_kernel,
            boost,
        )

    def _exec_positional(
        self, terms: list[str], candidates, kernel, boost: float
    ) -> DataFrame:
        """Positional execution shared by spans and TermAutomatonQuery:
        ``candidates(live_terms)`` is the two-phase approximation doc
        set; each live term's positions are left-joined on, and one
        Arrow-batched ``kernel({term: positions array}, rows) -> freqs``
        verifies them.  The weight sees ALL terms' stats, docFreq=0
        included; only the postings joins skip dead terms
        (spans/SpanWeight.java:126-140)."""
        stats = self.term_statistics(terms)
        live = [t for t in terms if stats[t][0] > 0]
        if not live:
            return self._empty_scored()
        base = candidates(live).join(self._live_norms, "doc_id")
        for i, t in enumerate(live):
            pl = self._term_postings(t).select(
                "doc_id", F.col("positions").alias(f"_p{i}")
            )
            base = base.join(pl, "doc_id", "left")

        @F.pandas_udf("double")
        def freq_udf(*pcols: pd.Series) -> pd.Series:
            lists = {t: c.to_numpy() for t, c in zip(live, pcols)}
            return pd.Series(kernel(lists, len(pcols[0])))

        out = base.withColumn(
            "freq", freq_udf(*[F.col(f"_p{i}") for i in range(len(live))])
        ).filter(F.col("freq") > 0)
        return self._score(boost, [stats[t] for t in terms], out)

    # --------------------------------------------------------- match-only
    def _expand_terms(self, q: Query) -> list[str]:
        """Dictionary expansion for multi-term queries (MultiTermQuery
        rewrites against the term dictionary)."""
        ts = self.tables.term_stats
        if isinstance(q, PrefixQuery):
            cond = F.col("term").startswith(q.prefix)
        elif isinstance(q, WildcardQuery):
            # tokenize the pattern with WILDCARD_ESCAPE semantics
            # (WildcardQuery.java:50,90-97: '\' makes the next char a
            # literal; a trailing '\' is lenient — kept literal)
            parts: list[tuple[str, str]] = []  # (kind, char)
            i = 0
            while i < len(q.pattern):
                ch = q.pattern[i]
                if ch == "*":
                    parts.append(("any_string", ch))
                elif ch == "?":
                    parts.append(("any_char", ch))
                elif ch == "\\" and i + 1 < len(q.pattern):
                    i += 1
                    parts.append(("lit", q.pattern[i]))
                else:
                    parts.append(("lit", ch))
                i += 1
            pat = "^" + "".join(
                ".*" if kind == "any_string"
                else "." if kind == "any_char"
                else re_escape(c)
                for kind, c in parts
            ) + "$"
            cond = F.col("term").rlike(pat)
            # Sargable pre-filters so the regex only touches surviving
            # rows (WildcardQuery.java's automaton common prefix; for
            # leading wildcards, the ReversedWildcardFilterFactory plan
            # — solr/core/.../analysis/ReversedWildcardFilterFactory
            # .java — served here as a prefix on the REVERSED term,
            # which a parquet-resident dictionary with a materialized
            # rterm column turns into a PushedFilter instead of a full
            # vocabulary regex scan).
            lead_chars: list[str] = []
            for kind, c in parts:
                if kind != "lit":
                    break
                lead_chars.append(c)
            lead = "".join(lead_chars)
            if lead:
                cond = F.col("term").startswith(lead) & cond
            else:
                tail_chars: list[str] = []
                for kind, c in reversed(parts):
                    if kind != "lit":
                        break
                    tail_chars.append(c)
                tail = "".join(tail_chars)
                if tail:
                    cond = F.reverse(F.col("term")).startswith(tail) & cond
        elif isinstance(q, RegexpQuery):
            # anchored whole-term match against the FULL Lucene RegExp
            # grammar (util/automaton/RegExp.java, ALL flags): beyond
            # the Java-regex core this covers ~complement,
            # &intersection, <n-m> intervals, @, #.  The compiled DFA
            # walks the term dictionary as a vocabulary-bounded Arrow
            # batch (the CompiledAutomaton-vs-TermsEnum cost class).
            from lucene_solr_spark.queries.luceneregexp import LuceneRegExp

            rx = LuceneRegExp(q.pattern)

            def _rx_match(s):
                return s.map(rx.matches)

            cond = F.pandas_udf(_rx_match, "boolean")(F.col("term"))
        elif isinstance(q, TermRangeQuery):
            cond = F.lit(True)
            if q.lower is not None:
                cond = cond & (
                    F.col("term") >= q.lower if q.include_lower else F.col("term") > q.lower
                )
            if q.upper is not None:
                cond = cond & (
                    F.col("term") <= q.upper if q.include_upper else F.col("term") < q.upper
                )
        elif isinstance(q, FuzzyQuery):
            # Automaton-style pruning (LevenshteinAutomata.java:33 prunes
            # the dictionary walk; here the same cost cut comes from two
            # sound pre-filters that reach the parquet scan, so the
            # expensive distance only touches surviving rows):
            #   1. length window: ed(a,b) >= |len(a)-len(b)| (holds for
            #      classic AND OSA — a transposition preserves length)
            #   2. pigeonhole pieces: split the query into max_edits+1
            #      contiguous pieces — k edits can destroy at most k
            #      pieces, so a match contains >= 1 piece verbatim
            #      (Navarro's partition filter).  Sound ONLY for classic
            #      Levenshtein: an OSA transposition straddling a piece
            #      boundary corrupts TWO pieces, so the transpositions
            #      mode (FuzzyQuery.java:58 defaultTranspositions=true)
            #      skips it and prefilters with classic <= 2k instead
            #      (each transposition costs <= 2 classic edits, so
            #      osa <= k  =>  classic <= 2k); the exact OSA check
            #      runs on the collected candidates below.
            k = int(q.max_edits)
            qlen = len(q.term)
            tlen = F.length(F.col("term"))
            cond = (tlen >= qlen - k) & (tlen <= qlen + k)
            if not q.transpositions and qlen >= k + 1 and k > 0:
                n_pieces = k + 1
                step = qlen // n_pieces
                cuts = [i * step for i in range(n_pieces)] + [qlen]
                pieces = [
                    q.term[cuts[i]: cuts[i + 1]] for i in range(n_pieces)
                ]
                cond = cond & reduce(
                    lambda a, b: a | b,
                    [F.col("term").contains(p) for p in pieces if p],
                )
            lev_cap = 2 * k if q.transpositions else k
            cond = cond & (
                F.levenshtein(F.col("term"), F.lit(q.term)) <= lev_cap
            )
        else:
            raise TypeError(type(q).__name__)
        rows = (
            ts.filter(cond)
            .select("term")
            .orderBy("term")
            .limit(MAX_EXPANSION_TERMS)
            .collect()
        )
        terms = [r["term"] for r in rows]
        if isinstance(q, FuzzyQuery) and q.transpositions:
            # exact OSA on the prefiltered candidates (vocabulary-
            # bounded, after the pushed-down classic<=2k cut)
            terms = [
                t for t in terms if osa_distance(t, q.term) <= q.max_edits
            ]
        return terms

    def _filter_docset(self, q: Query) -> DataFrame:
        """Cached non-scoring DocSet for a FILTER clause — the
        filterCache (SolrIndexSearcher.java:119, getDocSet:783-801;
        fq clauses hit this cache across queries).  The cached entry is
        a persisted doc_id frame (the DocSet bitset analog — persist
        spills to disk where a 10^12-doc bitset could not sit in RAM);
        LRU-bounded with unpersist on eviction."""
        return self._filter_cache.get(repr(q), lambda: self._match(q).persist())

    def _match(self, q: Query) -> DataFrame:
        """Non-scoring doc-set execution → DataFrame(doc_id)."""
        if isinstance(q, MatchNoDocsQuery):
            spark = self.tables.postings.sparkSession
            return local_frame(spark, None, "doc_id long")
        if isinstance(q, MatchAllDocsQuery):
            return self._live_norms.select("doc_id")
        if isinstance(q, (BoostQuery, ConstantScoreQuery)):
            return self._match(q.query)
        if isinstance(q, BoostingQuery):
            return self._match(q.match)  # context never selects (:70)
        if isinstance(q, TermQuery):
            return self._term_postings(q.term).select("doc_id")
        if isinstance(q, SynonymQuery):
            return (
                self._postings_for_terms(list(q.terms))
                .select("doc_id")
                .distinct()
            )
        if isinstance(
            q, (PrefixQuery, WildcardQuery, RegexpQuery, TermRangeQuery, FuzzyQuery)
        ):
            terms = self._expand_terms(q)
            if not terms:
                spark = self.tables.postings.sparkSession
                return local_frame(spark, None, "doc_id long")
            return (
                self._postings_for_terms(terms, bulk=True)
                .select("doc_id")
                .distinct()
            )
        if isinstance(q, PhraseQuery):
            return self._exec_phrase(q, 1.0).select("doc_id")
        if isinstance(q, MultiPhraseQuery):
            return self._exec_multiphrase(q, 1.0).select("doc_id")
        if isinstance(q, DisjunctionMaxQuery):
            union = reduce(
                DataFrame.unionByName, (self._match(d) for d in q.disjuncts)
            )
            return union.distinct()
        if isinstance(q, SpanQuery):
            return self._exec_span(q, 1.0).select("doc_id")
        if isinstance(q, BooleanQuery):
            musts = [
                c.query for c in q.clauses if c.occur in (Occur.MUST, Occur.FILTER)
            ]
            shoulds = [c.query for c in q.clauses if c.occur == Occur.SHOULD]
            must_nots = [c.query for c in q.clauses if c.occur == Occur.MUST_NOT]
            msm = q.minimum_number_should_match
            base: DataFrame | None = None
            for m in sorted(musts, key=self._cost):
                mdf = self._match(m)
                if base is None:
                    base = mdf
                elif self._cost(m) <= BROADCAST_DOC_LIMIT:
                    base = base.join(F.broadcast(mdf), "doc_id", "left_semi")
                else:
                    base = base.join(mdf, "doc_id", "left_semi")
            if shoulds:
                union = reduce(
                    DataFrame.unionByName, (self._match(s) for s in shoulds)
                )
                agg = union.groupBy("doc_id").agg(F.count("*").alias("_cnt"))
                if base is None:
                    base = agg.filter(F.col("_cnt") >= max(msm, 1)).select("doc_id")
                elif msm > 0:
                    base = base.join(
                        agg.filter(F.col("_cnt") >= msm).select("doc_id"),
                        "doc_id",
                        "left_semi",
                    )
            if base is None:
                spark = self.tables.postings.sparkSession
                return local_frame(spark, None, "doc_id long")
            for mn in must_nots:
                ex = self._match(mn)
                if self._cost(mn) <= BROADCAST_DOC_LIMIT:
                    ex = F.broadcast(ex)
                base = base.join(ex, "doc_id", "left_anti")
            return base.select("doc_id")
        raise TypeError(f"cannot match {type(q).__name__}")


def re_escape(ch: str) -> str:
    import re

    return re.escape(ch)
