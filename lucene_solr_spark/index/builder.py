"""Inverted-index construction as DataFrame dataflow.

The write path of the reference (index/DefaultIndexingChain.java:371-790:
analyze → invert → per-term postings hash → sorted flush) becomes:

    corpus ─ mapInPandas(tokenize+invert) ─→ postings(term, doc_id, tf, positions)
           ├ groupBy(term)   ─→ term_stats(term, df, ttf)        [global stats]
           └ groupBy(doc_id) ─→ doc_norms(doc_id, length, norm_byte)

Design notes for 100 TB:

- The analyze+invert step is ONE Arrow-batched pandas pass per input
  partition; the per-(doc, term) aggregation happens inside the kernel
  (numpy sort + run-length reduce), so no exploded per-token rows ever
  cross a shuffle — only already-aggregated (doc, term, tf, positions)
  rows do.  This replaces TermsHashPerField's in-memory hash
  (index/TermsHashPerField.java) with a per-batch sort, exactly like the
  reference's flush sorts terms (index/FreqProxTermsWriter.java:81-117).
- Global statistics (df/ttf/docCount/avgdl) are full-table aggregates —
  per-partition stats would break rank-identity (Solr ExactStatsCache,
  solr/core/.../search/stats/ExactStatsCache.java:56).
- docIDs are assigned deterministically from xxhash64(repo,path,commit)
  bucket + in-bucket rank (never monotonically_increasing_id — it is not
  stable across retries).  Ref analog: doc routing by murmur hash
  (solr/solrj/.../CompositeIdRouter.java:35-87).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.analysis import analyze_batch_flat
from lucene_solr_spark.scoring.bm25 import encode_norm

POSTINGS_SCHEMA = "doc_id long, term string, tf int, positions array<int>"


def invert(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    analyzer="standard",
) -> DataFrame:
    """corpus(id, text) → postings(doc_id, term, tf, positions).

    One vectorized pass; output is pre-aggregated per (doc, term).
    ``analyzer``: "standard" (StandardAnalyzer chain), "english"
    (EnglishAnalyzer: + possessive strip + Porter stem), one of the
    names in ``analysis.more_analyzers.NAMED_ANALYZERS`` ("whitespace",
    "simple", "keyword", "stop", "cjk", the language chains), or any
    picklable callable ``(pd.Series[str]) -> (doc_idx, terms,
    positions)`` flat arrays — the hook for synonym/shingle/hunspell/
    polish chains, mirroring Solr's per-field analyzer config (schema
    fieldType analyzers).  Every shipped chain is a tokenizer plus a
    per-token function run by ``analysis.analyzer.analyze_chain``;
    a custom chain can be ``partial(analyze_chain, tokenizer=...,
    token_fn=...)``.
    """
    from lucene_solr_spark.analysis.more_analyzers import NAMED_ANALYZERS

    if (
        not callable(analyzer)
        and analyzer not in ("standard", "english")
        and analyzer not in NAMED_ANALYZERS
    ):
        raise ValueError(f"unknown analyzer {analyzer!r}")
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("content"))

    def kernel(batches):
        # mapInArrow, not mapInPandas: the per-(doc,term) position lists
        # are assembled as ONE pyarrow ListArray from (values, offsets)
        # — C-level, no np.split / per-group Python list objects
        # (measured: the pandas bridge spent ~25% of the kernel building
        # 400k tiny ndarrays and boxing them into a Series).
        import pyarrow as pa

        from lucene_solr_spark.analysis.analyzer import english_analyze_batch_flat

        from lucene_solr_spark.analysis.more_analyzers import NAMED_ANALYZERS

        if callable(analyzer):
            analyze = analyzer
        elif analyzer == "english":
            analyze = english_analyze_batch_flat
        elif analyzer in NAMED_ANALYZERS:
            analyze = NAMED_ANALYZERS[analyzer]
        else:
            analyze = analyze_batch_flat
        arrow_schema = pa.schema(
            [
                ("doc_id", pa.int64()),
                ("term", pa.string()),
                ("tf", pa.int32()),
                ("positions", pa.list_(pa.int32())),
            ]
        )
        for batch in batches:
            content = batch.column("content").to_pandas()
            doc_id_col = batch.column("doc_id").to_numpy(zero_copy_only=False)
            doc_idx, terms, positions = analyze(content)
            if terms.size == 0:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([], type=f.type) for f in arrow_schema],
                    schema=arrow_schema,
                )
                continue
            doc_ids = doc_id_col[doc_idx]
            positions = positions.astype(np.int32)
            # hash-factorize terms so the sort runs on ints (strings are
            # compared once per unique term, not once per token)
            codes, vocab = pd.factorize(terms, sort=False)
            order = np.lexsort((codes, doc_ids))
            doc_ids, codes, positions = doc_ids[order], codes[order], positions[order]
            boundary = np.ones(doc_ids.size, dtype=bool)
            boundary[1:] = (doc_ids[1:] != doc_ids[:-1]) | (codes[1:] != codes[:-1])
            starts = np.flatnonzero(boundary)
            tfs = np.diff(np.append(starts, doc_ids.size)).astype(np.int32)
            list_offsets = np.empty(starts.size + 1, dtype=np.int32)
            list_offsets[:-1] = starts
            list_offsets[-1] = doc_ids.size
            pos_arr = pa.ListArray.from_arrays(
                pa.array(list_offsets), pa.array(positions)
            )
            # dictionary-decode terms in Arrow (C++), not numpy gather
            term_arr = pa.DictionaryArray.from_arrays(
                pa.array(codes[starts].astype(np.int32)),
                pa.array(np.asarray(vocab, dtype=object), type=pa.string()),
            ).cast(pa.string())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[starts]),
                    term_arr,
                    pa.array(tfs),
                    pos_arr,
                ],
                schema=arrow_schema,
            )

    return src.mapInArrow(kernel, schema=POSTINGS_SCHEMA)


def term_stats_of(postings: DataFrame) -> DataFrame:
    """Global per-term stats — the term dictionary analog
    (codecs/blocktree/BlockTreeTermsWriter.java's docFreq/totalTermFreq)."""
    return postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("ttf")
    )


def doc_norms_of(postings: DataFrame) -> DataFrame:
    """Per-doc field length (= Σtf, kept tokens) + byte315 norm.

    Ref: BM25Similarity.computeNorm (:147-150) via
    DefaultIndexingChain.java:694.  The lossy byte MUST be kept for
    rank-identity.
    """
    lengths = postings.groupBy("doc_id").agg(F.sum("tf").alias("length"))

    @F.pandas_udf("int")
    def norm_byte(length: pd.Series) -> pd.Series:
        return pd.Series(
            encode_norm(length.to_numpy()).astype(np.int32), index=length.index
        )

    return lengths.withColumn("norm_byte", norm_byte("length"))


@dataclass
class CollectionStats:
    """CollectionStatistics analog (search/CollectionStatistics.java:29-34)."""

    doc_count: int
    sum_total_term_freq: int
    sum_doc_freq: int

    @property
    def max_doc(self) -> int:
        return self.doc_count


@dataclass
class IndexTables:
    """The logical index: everything the query layer needs."""

    postings: DataFrame
    term_stats: DataFrame
    doc_norms: DataFrame
    stats: CollectionStats


def assign_doc_ids(
    corpus: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    buckets: int = 256,
) -> DataFrame:
    """Stable, retry-safe docID assignment (SURVEY §7 hard part d).

    doc_key = xxhash64(key cols); docID = bucket offset + rank within
    bucket.  Both are pure functions of the data, so a re-run (resume)
    reproduces identical ids.  Scales: the only coordination is a
    ``buckets``-row count exchange.
    """
    from pyspark.sql import Window

    keyed = corpus.withColumn("doc_key", F.xxhash64(*[F.col(c) for c in key_cols]))
    keyed = keyed.withColumn("bucket", F.pmod(F.col("doc_key"), F.lit(buckets)))
    counts = keyed.groupBy("bucket").count().collect()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["bucket"]):
        offsets[row["bucket"]] = acc
        acc += row["count"]
    spark = corpus.sparkSession
    off_df = spark.createDataFrame(
        [(int(b), int(o)) for b, o in offsets.items()], "bucket long, offset long"
    )
    w = Window.partitionBy("bucket").orderBy("doc_key", *key_cols)
    return (
        keyed.join(F.broadcast(off_df), "bucket")
        .withColumn("doc_id", F.col("offset") + F.row_number().over(w) - 1)
        .drop("bucket", "offset")
    )


def build_keyword_tables(
    df: DataFrame, id_col: str = "doc_id", value_col: str = "lang"
) -> IndexTables:
    """Index an atomic keyword column (StringField analog,
    document/StringField.java: single untokenized token, position 0).

    Pure column expressions — no analyzer, no Python."""
    postings = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(value_col).cast("string").alias("term"),
        F.lit(1).alias("tf"),
        F.array(F.lit(0)).alias("positions"),
    ).filter(F.col("term").isNotNull())
    term_stats = postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("ttf")
    )
    doc_norms = postings.select(
        "doc_id",
        F.lit(1).alias("length"),
        F.lit(int(encode_norm(np.array([1]))[0])).alias("norm_byte"),
    )
    agg = postings.agg(
        F.countDistinct("doc_id").alias("dc"), F.count("*").alias("n")
    ).collect()[0]
    stats = CollectionStats(
        doc_count=int(agg["dc"] or 0),
        sum_total_term_freq=int(agg["n"] or 0),
        sum_doc_freq=int(agg["n"] or 0),
    )
    return IndexTables(postings, term_stats, doc_norms, stats)


def build_tables(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    cache: bool = True,
    analyzer="standard",
    char_filters=None,
) -> IndexTables:
    """Build the logical index tables from a corpus DataFrame.

    ``cache=True`` persists postings (they feed three downstream aggs).
    ``char_filters`` is an optional list of Column→Column transforms
    (e.g. charfilters.html_strip_col, ascii_fold_col) applied to the
    text column BEFORE tokenization — the CharFilter stage of the
    reference's analyzer chain, kept JVM-side as column expressions.
    """
    if char_filters:
        col = F.col(text_col)
        for cf in char_filters:
            col = cf(col)
        corpus = corpus.withColumn(text_col, col)
    postings = invert(corpus, id_col, text_col, analyzer=analyzer)
    if cache:
        postings = postings.persist()
    term_stats = term_stats_of(postings)
    doc_norms = doc_norms_of(postings)
    # One aggregation job for all collection stats.  docCount counts docs
    # with ≥1 posting for the field, matching Lucene's Terms.getDocCount()
    # semantics (all-stopword docs don't count).
    agg = postings.agg(
        F.countDistinct("doc_id").alias("dc"),
        F.sum("tf").alias("sttf"),
        F.count("*").alias("sdf"),
    ).collect()[0]
    stats = CollectionStats(
        doc_count=int(agg["dc"] or 0),
        sum_total_term_freq=int(agg["sttf"] or 0),
        sum_doc_freq=int(agg["sdf"] or 0),
    )
    return IndexTables(postings, term_stats, doc_norms, stats)
