"""MoreLikeThis — find documents similar to a given document.

Ref: lucene/queries/src/java/org/apache/lucene/queries/mlt/
MoreLikeThis.java — select the source doc's highest tf·idf "interesting
terms" (bounded by maxQueryTerms=25, minTermFreq=2, minDocFreq=5
defaults; we parameterize), build a SHOULD disjunction from them, and
score.  Spark-first: term selection is a join of the doc's postings with
term_stats; scoring reuses the standard searcher.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import decode_postings
from lucene_solr_spark.queries.query import (
    BooleanClause,
    BooleanQuery,
    Occur,
    TermQuery,
)
from lucene_solr_spark.queries.searcher import IndexSearcher


def interesting_terms(
    searcher: IndexSearcher,
    doc_id: int,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
) -> list[tuple[str, float]]:
    """The doc's terms ranked by tf·idf (MoreLikeThis.retrieveTerms /
    createQueue semantics), ties broken by term asc."""
    n = searcher.stats.doc_count
    rows = (
        searcher._postings_for_terms_of_doc(doc_id)
        if hasattr(searcher, "_postings_for_terms_of_doc")
        else searcher.tables.postings.filter(F.col("doc_id") == doc_id)
    )
    stats = searcher.tables.term_stats
    scored = (
        rows.select("term", "tf")
        .filter(F.col("tf") >= min_term_freq)
        .join(stats.select("term", "df"), "term")
        .filter(F.col("df") >= min_doc_freq)
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log(
                F.lit(1.0) + (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .orderBy(F.col("tfidf").desc(), F.col("term").asc())
        .limit(max_query_terms)
        .collect()
    )
    return [(r["term"], float(r["tfidf"])) for r in scored]


def more_like_this(
    searcher: IndexSearcher,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = 25,
) -> DataFrame:
    """Top-k similar docs (excluding the source doc)."""
    terms = [t for t, _ in interesting_terms(searcher, doc_id, max_query_terms)]
    if not terms:
        return searcher._empty_scored()
    q = BooleanQuery(
        tuple(BooleanClause(Occur.SHOULD, TermQuery(t)) for t in terms)
    )
    return (
        searcher.docs(q)
        .filter(F.col("doc_id") != doc_id)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def spellcheck(
    searcher: IndexSearcher,
    word: str,
    max_suggestions: int = 3,
    max_edits: int = 2,
    transpositions: bool = True,
) -> DataFrame:
    """Suggestions from the term dictionary: smallest edit distance
    first, then highest docFreq, then term — the DirectSpellChecker
    ranking (lucene/suggest/.../spell/DirectSpellChecker.java), whose
    candidate walk is a FuzzyTermsEnum with transpositions (the OSA
    metric — adjacent swap is ONE edit), default-on like the reference.
    The sargable classic-Levenshtein ≤ 2k cut prunes the dictionary
    JVM-side (osa ≤ k ⇒ classic ≤ 2k); the exact OSA distance then
    runs as a vocabulary-bounded Arrow batch."""
    ts = searcher.tables.term_stats
    if not transpositions:
        dist = F.levenshtein(F.col("term"), F.lit(word))
        cand = ts.withColumn("dist", dist)
    else:
        from lucene_solr_spark.queries.searcher import osa_distance

        def _osa(s):
            return s.map(lambda t: osa_distance(t, word))

        osa_col = F.pandas_udf(_osa, "int")
        cand = ts.filter(
            F.levenshtein(F.col("term"), F.lit(word)) <= 2 * max_edits
        ).withColumn("dist", osa_col(F.col("term")))
    return (
        cand.filter((F.col("dist") <= max_edits) & (F.col("term") != word))
        .select("term", "dist", "df")
        .orderBy(F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
        .limit(max_suggestions)
    )


def spellcheck_collate(
    searcher: IndexSearcher,
    terms: list[str],
    max_edits: int = 2,
) -> tuple[str, int]:
    """Spellcheck collation: rewrite the WHOLE query with the best
    correction per unknown term and verify the rewritten query against
    the index (SpellCheckComponent.collateResults / SpellingQueryConverter
    — a collation is only returned if it actually yields hits).

    Known terms (df>0) are kept verbatim; each unknown term takes its
    top DirectSpellChecker-ranked suggestion (edit distance ASC, docFreq
    DESC, term ASC).  Returns (collated_query, hits) where hits is the
    verified conjunction hit count — 0 if any term has no suggestion.
    The per-term suggestion lookups are dictionary-sized term_stats
    scans; the verification is one boolean count — no per-row driver
    work beyond the ≤|terms| loop."""
    from lucene_solr_spark.queries.query import (
        BooleanClause,
        BooleanQuery,
        Occur,
        TermQuery,
    )

    stats = searcher.term_statistics(list(terms))
    collated: list[str] = []
    for t in terms:
        if stats[t][0] > 0:
            collated.append(t)
            continue
        sug = spellcheck(searcher, t, max_suggestions=1, max_edits=max_edits)
        row = sug.first()
        if row is None:
            return (" ".join(terms), 0)
        collated.append(row["term"])
    q = BooleanQuery(
        tuple(BooleanClause(Occur.MUST, TermQuery(t)) for t in collated)
    )
    return (" ".join(collated), searcher.count(q))


def term_vector(searcher: IndexSearcher, doc_id: int) -> DataFrame:
    """A single document's term vector: (term, tf, positions) — the
    per-doc row view of the inverted index (lucene/index/TermVectors,
    codecs/TermVectorsFormat.java:30).  Spark-first: the postings table
    IS the term-vector store read column-wise; a docID filter recovers
    the row-wise view without a separate .tvd/.tvf file.  On the
    segment path the filter hits the block metadata FIRST
    (base_docid/max_docid — the skip-list bounds), so only blocks whose
    docID range covers the target are ever decoded."""
    enc = getattr(searcher, "_enc", None)
    if enc is not None:
        dec = decode_postings(
            enc.filter(
                (F.col("base_docid") <= doc_id)
                & (F.col("max_docid") >= doc_id)
            )
        )
        return (
            dec.filter(F.col("doc_id") == doc_id)
            .select("term", "tf", "positions")
            .orderBy("term")
        )
    return (
        searcher._postings.filter(F.col("doc_id") == doc_id)
        .select("term", "tf", "positions")
        .orderBy("term")
    )


def wordbreak_suggest(
    searcher: IndexSearcher,
    word: str,
    min_break_length: int = 3,
    max_suggestions: int = 3,
) -> DataFrame:
    """Break-up suggestions — WordBreakSpellChecker
    (lucene/suggest/.../spell/WordBreakSpellChecker.java
    generateBreakUpSuggestions, one change): split ``word`` at every
    position leaving both halves >= min_break_length, keep splits where
    BOTH halves are dictionary terms, ranked by the break's frequency =
    min of the part docFreqs (the SuggestWordFrequencyComparator shape),
    then left part asc.  The candidate set is O(len(word)) — a tiny
    isin pushdown against term_stats, never a dictionary scan."""
    parts = [
        (word[:i], word[i:])
        for i in range(min_break_length, len(word) - min_break_length + 1)
    ]
    if not parts:
        spark = searcher.tables.term_stats.sparkSession
        return spark.createDataFrame([], "a string, b string, freq bigint")
    cand = sorted({t for p in parts for t in p})
    ts = searcher.tables.term_stats
    spark = ts.sparkSession
    pairs = spark.createDataFrame(parts, ["a", "b"])
    dict_df = ts.filter(F.col("term").isin(cand)).select("term", "df")
    return (
        pairs.join(
            dict_df.select(F.col("term").alias("a"), F.col("df").alias("_fa")),
            "a",
        )
        .join(
            dict_df.select(F.col("term").alias("b"), F.col("df").alias("_fb")),
            "b",
        )
        .select(
            "a", "b", F.least("_fa", "_fb").cast("long").alias("freq")
        )
        .orderBy(F.col("freq").desc(), F.col("a").asc())
        .limit(max_suggestions)
    )


def wordcombine_suggest(
    searcher: IndexSearcher,
    terms: list[str],
    max_suggestions: int = 3,
) -> DataFrame:
    """Combine suggestions — WordBreakSpellChecker
    generateCombineSuggestions (maxCombineWordLength default
    unlimited, one evaluation per adjacent pair): concatenate each
    adjacent query-term pair and keep the ones that ARE dictionary
    terms, ranked by docFreq desc."""
    combos = [
        (i, terms[i], terms[i + 1], terms[i] + terms[i + 1])
        for i in range(len(terms) - 1)
    ]
    ts = searcher.tables.term_stats
    spark = ts.sparkSession
    if not combos:
        return spark.createDataFrame(
            [], "pos int, left string, right string, combined string, freq bigint"
        )
    cand = spark.createDataFrame(
        combos, ["pos", "left", "right", "combined"]
    )
    return (
        cand.join(
            ts.select(F.col("term").alias("combined"), "df"), "combined"
        )
        .select(
            "pos", "left", "right", "combined",
            F.col("df").cast("long").alias("freq"),
        )
        .orderBy(F.col("freq").desc(), F.col("pos").asc())
        .limit(max_suggestions)
    )
