"""The scoring modes: one ``SIMILARITIES`` table, one record per mode.

A record is Lucene's ``Similarity.computeWeight(boost, collectionStats,
termStats...)`` seen from the query side: ``f32`` says whether scores
are float32-faithful (Java float arithmetic) or double, and
``score(searcher, boost, stats, frame)`` returns the score Column over
the frame's ``freq`` / ``norm_byte`` / ``length`` (/ ``_c32``) columns
for the term stats ``[(df, ttf), ...]`` the query's weight sees.

- TF-IDF family (BM25Similarity, ClassicSimilarity, SweetSpot): the
  mode's idf is summed in double over ``stats`` in list order
  (BM25Similarity.idfExplain(termStats[]):196-205), the query weight
  is built from that sum, then one per-doc kernel.
- SimilarityBase family (MultiSimilarity.MultiSimScorer:70-84 over
  MultiStats): one per-term kernel per stats entry, each at the same
  freq, summed in float32 left to right.

The SimilarityBase kernels replay the reference's arithmetic
bit-for-bit:

- LM-Dirichlet (similarities/LMDirichletSimilarity.java:34-76 +
  LMSimilarity.DefaultCollectionModel:154-156):
      p(w|C) = (ttf + 1f) / (sumTotalTermFreq + 1f)          [float]
      score  = boost * (float)(log(1 + freq/(mu·p(w|C)))
                               + log(mu/(docLen + mu)))
      clamped at 0 for below-collection-model docs.
- DFR In-L-H2 (similarities/DFRSimilarity.java:110-114,
  BasicModelIn.java:33-37, AfterEffectL.java:32-34,
  NormalizationH2.java:52-54, c = 1):
      tfn    = (float)(freq · log2(1 + avgdl/docLen))
      score  = boost · tfn·(float)log2((N+1)/(df+0.5)) · 1/(tfn+1)

All use the QUANTIZED docLen the reference scores with —
SimilarityBase.decodeNormValue reads NORM_TABLE[norm_byte]
(SimilarityBase.java:220-246, the byte315 table shared with BM25), and
avgdl = (float)sumTotalTermFreq / numberOfDocuments
(SimilarityBase.java:129).  Every kernel takes that docLen as the
``dl`` Column (the searcher's cached NORM_TABLE literal, indexed by
norm byte) and the per-term BasicStats as
``(boost, doc_freq, ttf, num_docs, sum_total_term_freq)``.

Every float32 op is emulated JVM-side as double-op-then-cast-to-float
(bit-exact for +,−,×,÷ on binary32 inputs: binary64 p=53 ≥ 2·24+2);
the kernels stay inside whole-stage codegen — no Python in the hot
path, so the plan shape is identical to the BM25 kernel's.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import partial, reduce
from typing import Callable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from lucene_solr_spark.scoring.bm25 import idf as idf32
from lucene_solr_spark.scoring.sweetspot import baseline_tf, compute_length_norm

_LOG2 = math.log(2.0)


def _f32(col: Column) -> Column:
    """Emulate one Java float op: compute in double, round to binary32."""
    return col.cast("float").cast("double")


def _avgdl(num_docs: int, sum_total_term_freq: int) -> np.float32:
    """SimilarityBase.fillBasicStats:120-129 — avgdl = (float)sttf / N
    (float division), with the degenerate-field fallback of 1."""
    if sum_total_term_freq <= 0:
        return np.float32(1.0)
    return np.float32(np.float32(sum_total_term_freq) / np.float32(num_docs))


def _tfn_h2(
    freq: Column, dl: Column, c: float, num_docs: int, sum_total_term_freq: int
) -> Column:
    """NormalizationH2.tfn: (float)(tf * log2(1 + c*avgdl/len)) — the
    log2 ARGUMENT is all float ops (c·avgdl float mult, float divide
    by len, 1+ float add), promoted to double only at the log2 call;
    tf·log2(..) runs in double and is cast to float ONCE."""
    ca = np.float32(np.float32(c) * _avgdl(num_docs, sum_total_term_freq))
    ratio = _f32(F.lit(float(ca)) / dl)
    one_plus = _f32(F.lit(1.0) + ratio)
    return _f32(freq.cast("double") * (F.log(one_plus) / F.lit(_LOG2)))


def lm_dirichlet_score(
    freq: Column,
    dl: Column,
    boost: float,
    doc_freq: int,
    ttf: int,
    num_docs: int,
    sum_total_term_freq: int,
    mu: float = 2000.0,
) -> Column:
    """LM-Dirichlet float32 score column (LMDirichletSimilarity.java:65-70).

    The per-term constant mu·p(w|C) folds driver-side in float32.
    """
    p_wc = np.float32(np.float32(ttf + 1.0) / np.float32(sum_total_term_freq + 1.0))
    mu32 = np.float32(mu)
    mu_p = np.float32(mu32 * p_wc)
    # term weight: log(1 + freq/(mu·p)) — freq/(mu·p) and 1+x in float,
    # Math.log in double (Java promotes the float arg)
    x = _f32(freq.cast("double") / F.lit(float(mu_p)))
    l1 = F.log(_f32(F.lit(1.0) + x))
    # document norm: log(mu/(docLen + mu)) — float ops, double log
    l2 = F.log(_f32(F.lit(float(mu32)) / _f32(dl + F.lit(float(mu32)))))
    s = (l1 + l2).cast("float").cast("double")
    score = (F.lit(float(np.float32(boost))) * s).cast("float")
    return F.when(score > 0.0, score).otherwise(F.lit(0.0).cast("float"))


def dfr_in_l_h2_score(
    freq: Column,
    dl: Column,
    boost: float,
    doc_freq: int,
    ttf: int,
    num_docs: int,
    sum_total_term_freq: int,
    c: float = 1.0,
) -> Column:
    """DFR(BasicModelIn, AfterEffectL, NormalizationH2) float32 score.

    tfn = (float)(freq·log2(1 + c·avgdl/docLen)); score = boost ·
    tfn·log2((N+1)/(df+0.5)) · 1/(tfn+1), float multiplications in
    reference order (DFRSimilarity.java:110-114)."""
    tfn = _tfn_h2(freq, dl, c, num_docs, sum_total_term_freq)
    # BasicModelIn: tfn * (float)log2((N+1)/(n+0.5)) — float multiply
    in_w = np.float32(math.log((num_docs + 1) / (doc_freq + 0.5)) / _LOG2)
    basic = _f32(tfn * F.lit(float(in_w)))
    # AfterEffectL: 1/(tfn+1) — float ops
    ae = _f32(F.lit(1.0) / _f32(tfn + F.lit(1.0)))
    # stats.getBoost() * basic * ae — left-to-right float multiplies
    score = _f32(_f32(F.lit(float(np.float32(boost))) * basic) * ae)
    return score.cast("float")


def lm_jelinek_mercer_score(
    freq: Column,
    dl: Column,
    boost: float,
    doc_freq: int,
    ttf: int,
    num_docs: int,
    sum_total_term_freq: int,
    lam: float = 0.1,
) -> Column:
    """LM-Jelinek-Mercer float32 score column
    (LMJelinekMercerSimilarity.java:53-58).

        score = boost * (float)log(1 + ((1-λ)·freq/docLen)
                                       / (λ·p(w|C)))

    Java evaluation order: (1-λ) is a float constant, ·freq float,
    /docLen float; λ·p(w|C) folds driver-side in float32; the float
    ratio and 1+x stay float; Math.log promotes to double; one cast
    back to float; boost multiply in float."""
    p_wc = np.float32(np.float32(ttf + 1.0) / np.float32(sum_total_term_freq + 1.0))
    lam32 = np.float32(lam)
    one_minus = np.float32(np.float32(1.0) - lam32)
    denom = np.float32(lam32 * p_wc)
    num = _f32(_f32(F.lit(float(one_minus)) * freq.cast("double")) / dl)
    x = _f32(num / F.lit(float(denom)))
    s = F.log(_f32(F.lit(1.0) + x)).cast("float").cast("double")
    return (F.lit(float(np.float32(boost))) * s).cast("float")


def dfr_pl2_score(
    freq: Column,
    dl: Column,
    boost: float,
    doc_freq: int,
    ttf: int,
    num_docs: int,
    sum_total_term_freq: int,
    c: float = 1.0,
) -> Column:
    """DFR PL2 — the canonical DFR configuration: BasicModelP (Poisson
    approximation, BasicModelP.java:38-44), AfterEffectB (Bernoulli,
    AfterEffectB.java:31-36), NormalizationH2 — float32-faithful.

    λ = (float)(ttf+1) / (N+1); P = (float)(tfn·log2(tfn/λ) +
    (λ + 1/(12·tfn) − tfn)·log2(e) + 0.5·log2(2π·tfn)) with the inner
    divisions/adds in float and the log2 terms in double, exactly the
    reference's promotion points; B = (F+1)/(n·(tfn+1)) in float with
    F = ttf+1, n = df+1; score = boost·P·B left-to-right float
    multiplies (DFRSimilarity.java:110-114)."""
    tfn = _tfn_h2(freq, dl, c, num_docs, sum_total_term_freq)
    # BasicModelP: λ is a float division of a float cast by a long
    lam = np.float32(np.float32(ttf + 1) / np.float32(num_docs + 1))
    # tfn/λ is a FLOAT division, its log2 runs in double, ×tfn double
    t1 = tfn * (F.log(_f32(tfn / F.lit(float(lam)))) / F.lit(_LOG2))
    # (λ + 1/(12·tfn) − tfn): all float ops, then × log2(e) in double
    twelve_tfn = _f32(F.lit(12.0) * tfn)
    inv = _f32(F.lit(1.0) / twelve_tfn)
    t2 = _f32(_f32(F.lit(float(lam)) + inv) - tfn) * F.lit(
        math.log(math.e, 2.0)
    )
    # 0.5·log2(2π·tfn): double throughout (2·Math.PI is a double)
    t3 = F.lit(0.5) * (F.log(F.lit(2.0 * math.pi) * tfn) / F.lit(_LOG2))
    basic = _f32(t1 + t2 + t3)
    # AfterEffectB: longs F+1 / n convert to float at the arithmetic
    ae = _f32(
        F.lit(float(np.float32(ttf + 2)))
        / _f32(F.lit(float(np.float32(doc_freq + 1))) * _f32(tfn + F.lit(1.0)))
    )
    score = _f32(_f32(F.lit(float(np.float32(boost))) * basic) * ae)
    return score.cast("float")


def ib_spl_df_score(
    freq: Column,
    dl: Column,
    boost: float,
    doc_freq: int,
    ttf: int,
    num_docs: int,
    sum_total_term_freq: int,
    c: float = 1.0,
) -> Column:
    """IB(DistributionSPL, LambdaDF, NormalizationH2) float32 score
    (IBSimilarity.java:98-104, DistributionSPL.java:36-42,
    LambdaDF.java:31-34, NormalizationH2.java:52-54).

        tfn    = (float)(freq · log2(1 + c·avgdl/docLen))   [H2, as DFR]
        λ      = (df+1F)/(N+1F)                              [float]
        score  = boost · (float)-log((λ^(tfn/(tfn+1)) − λ)/(1 − λ))

    tfn/(tfn+1) is a float divide; Math.pow/Math.log run in double
    with λ promoted; the subtraction and the (1−λ) divide are double;
    one cast to float, then the float boost multiply."""
    tfn = _tfn_h2(freq, dl, c, num_docs, sum_total_term_freq)
    lam = np.float32(np.float32(doc_freq + 1.0) / np.float32(num_docs + 1.0))
    if float(lam) == 1.0:
        lam = np.float32(0.99)  # DistributionSPL.java:37-39
    lam_d = float(lam)  # double promotion of the float λ
    # (1 − λ) evaluates in FLOAT first (int−float), then promotes
    one_minus = float(np.float32(np.float32(1.0) - lam))
    expo = _f32(tfn / _f32(tfn + F.lit(1.0)))  # float divide
    inner = (F.pow(F.lit(lam_d), expo) - F.lit(lam_d)) / F.lit(one_minus)
    s = (-F.log(inner)).cast("float").cast("double")
    return (F.lit(float(np.float32(boost))) * s).cast("float")


def axiomatic_f2exp_score(
    freq: Column,
    dl: Column,
    boost: float,
    doc_freq: int,
    ttf: int,
    num_docs: int,
    sum_total_term_freq: int,
    s: float = 0.25,
    k: float = 0.35,
) -> Column:
    """Axiomatic F2EXP float32 score (Axiomatic.java:102-109 with
    AxiomaticF2EXP.java:58-93: tf = ln = 1f, gamma = 0f).

        tfln  = freq / ((freq + s) + (s·docLen)/avgdl)       [float]
        idf   = (float)pow((N+1.0)/df, k)                    [double pow]
        score = (float)(1f·1f·tfln·idf) − 0f

    Note the reference's score() does NOT multiply stats.getBoost()
    (Axiomatic.java:102-109 — boost appears only in explain()), so
    ``boost`` is unused; avgdl = (float)sumTotalTermFreq/N
    (SimilarityBase.java:129)."""
    avgdl = _avgdl(num_docs, sum_total_term_freq)
    s32 = np.float32(s)
    fre = freq.cast("double")  # int tf — exact in float32 range here
    denom = _f32(
        _f32(fre + F.lit(float(s32)))
        + _f32(_f32(F.lit(float(s32)) * dl) / F.lit(float(avgdl)))
    )
    tfln = _f32(fre / denom)
    # a docFreq=0 term (a span/automaton weight holds one) divides by
    # zero; Java's double division gives +Infinity
    ratio = (num_docs + 1.0) / doc_freq if doc_freq else math.inf
    idf = np.float32(math.pow(ratio, float(np.float32(k))))
    return _f32(tfln * F.lit(float(idf))).cast("float")


def dfr_ine_b_h1_score(
    freq: Column,
    dl: Column,
    boost: float,
    doc_freq: int,
    ttf: int,
    num_docs: int,
    sum_total_term_freq: int,
    c: float = 1.0,
) -> Column:
    """DFR(BasicModelIne, AfterEffectB, NormalizationH1) float32 score
    (DFRSimilarity.java:110-114, BasicModelIne.java:33-38,
    AfterEffectB.java:32-36, NormalizationH1.java:50-52).

        tfn   = tf·c·avgdl/len                 [H1 — ALL float ops]
        ne    = N·(1 − ((N−1)/N)^F)            [double]
        basic = tfn · (float)log2((N+1)/(ne+0.5))
        B     = (F+1)/(n·(tfn+1))              [float ops; F+1 and n
                                                convert long→float]
        score = boost · basic · B              [left-assoc float mults]
    """
    avgdl = _avgdl(num_docs, sum_total_term_freq)
    # H1: tf * c * avgdl / len — float rounding at every step
    t1 = _f32(freq.cast("double") * F.lit(float(np.float32(c))))
    t2 = _f32(t1 * F.lit(float(avgdl)))
    tfn = _f32(t2 / dl)
    ne = num_docs * (
        1.0 - math.pow((num_docs - 1) / float(num_docs), ttf)
    )
    in_w = np.float32(math.log((num_docs + 1) / (ne + 0.5)) / _LOG2)
    basic = _f32(tfn * F.lit(float(in_w)))
    f_plus_1 = float(np.float32(ttf + 1))  # long→float conversion
    n_f = float(np.float32(doc_freq))
    den = _f32(F.lit(n_f) * _f32(tfn + F.lit(1.0)))
    # n = docFreq = 0 makes den 0: Java's float division gives
    # +Infinity where Spark would raise DIVIDE_BY_ZERO
    ae = F.lit(math.inf) if doc_freq == 0 else _f32(F.lit(f_plus_1) / den)
    score = _f32(_f32(F.lit(float(np.float32(boost))) * basic) * ae)
    return score.cast("float")


def ib_ll_df_h2_score(
    freq: Column,
    dl: Column,
    boost: float,
    doc_freq: int,
    ttf: int,
    num_docs: int,
    sum_total_term_freq: int,
    c: float = 1.0,
) -> Column:
    """IB(DistributionLL, LambdaDF, NormalizationH2) float32 score
    (IBSimilarity.java:98-104, DistributionLL.java:33-35,
    LambdaDF.java:31-34).

        tfn   = (float)(freq · log2(1 + c·avgdl/docLen))   [H2]
        λ     = (df+1F)/(N+1F)                             [float]
        LL    = (float)−log(λ/(tfn+λ))    [float add + float divide,
                                           log in double, one cast]
        score = boost · LL                                 [float]
    """
    tfn = _tfn_h2(freq, dl, c, num_docs, sum_total_term_freq)
    lam = float(
        np.float32(np.float32(doc_freq + 1.0) / np.float32(num_docs + 1.0))
    )
    inner = _f32(F.lit(lam) / _f32(tfn + F.lit(lam)))
    s = (-F.log(inner)).cast("float").cast("double")
    return (F.lit(float(np.float32(boost))) * s).cast("float")


def dfi_score(
    freq: Column,
    dl: Column,
    boost: float,
    doc_freq: int,
    ttf: int,
    num_docs: int,
    sum_total_term_freq: int,
    measure: str = "chi_squared",
) -> Column:
    """DFI (Divergence From Independence) float32 score
    (DFISimilarity.java:41-66 with the three Independence measures:
    IndependenceChiSquared.java:28-30, IndependenceSaturated.java:28-30,
    IndependenceStandardized.java:29-31).

        expected = (ttf+1)·docLen/(numberOfFieldTokens+1)   [the long
                   counts convert to float at the arithmetic — float
                   multiply then float divide, left to right]
        freq <= expected → 0
        measure  = chi2: (f−e)²/e | sat: (f−e)/e | std: (f−e)/(float)√e
        score    = boost · (float)log2(measure + 1)

    docLen is the byte315-quantized value SimilarityBase scores with.
    """
    a = np.float32(ttf + 1.0)  # (long→float) ttf+1
    c = np.float32(sum_total_term_freq + 1.0)  # numberOfFieldTokens+1
    expected = _f32(_f32(F.lit(float(a)) * dl) / F.lit(float(c)))
    fq = freq.cast("double")  # tf as float32 is exact below 2^24
    d = _f32(fq - expected)
    if measure == "chi_squared":
        m = _f32(_f32(d * d) / expected)
    elif measure == "saturated":
        m = _f32(d / expected)
    elif measure == "standardized":
        m = _f32(d / _f32(F.sqrt(expected)))
    else:
        raise ValueError(f"unknown DFI independence measure {measure!r}")
    log2m = (F.log(_f32(m + F.lit(1.0))) / F.lit(_LOG2)).cast("float")
    score = (
        F.lit(float(np.float32(boost))) * log2m.cast("double")
    ).cast("float")
    return F.when(fq > expected, score).otherwise(
        F.lit(0.0).cast("float")
    )


def boolean_score(freq: Column, dl: Column, boost: float, *stats) -> Column:
    """BooleanSimilarity.java:62-75 — score is the query boost,
    independent of tf/norms/collection stats."""
    return F.lit(float(np.float32(boost))).cast("float")


# ------------------------------------------------------------ the table
@dataclass(frozen=True)
class Similarity:
    """One scoring mode.  ``score(searcher, boost, stats, frame)`` is the
    score Column for one weight over ``stats = [(df, ttf), ...]``;
    ``frame`` is only read for which columns it carries.
    ``cached_col(searcher)``, when set, is a per-posting Column the
    searcher materializes once as ``_c32`` on its cached postings.
    ``weight(bm25, doc_count, boost, stats)``, set on the TF-IDF
    records, is the query weight their kernels scale by, so a scorer
    outside Spark (the fused block-max top-k kernel) takes the same one."""

    f32: bool
    score: Callable[..., Column]
    cached_col: Callable[..., Column] | None = None
    weight: Callable[..., float] | None = None


def bm25_idf(doc_freq: int, num_docs: int) -> float:
    """Double BM25 idf, ln(1 + (N − df + 0.5)/(df + 0.5))."""
    return math.log(1.0 + (num_docs - doc_freq + 0.5) / (doc_freq + 0.5))


def _classic_idf(doc_freq: int, num_docs: int) -> float:
    """ClassicSimilarity.idf in double: log((N+1)/(df+1)) + 1
    (ClassicSimilarity.java:138-140); SweetSpotSimilarity extends
    ClassicSimilarity and keeps it (SweetSpotSimilarity.java:40)."""
    return math.log((num_docs + 1) / float(doc_freq + 1)) + 1.0


def _norm_byte_idx() -> Column:
    return F.col("norm_byte").bitwiseAND(F.lit(255)) + F.lit(1)


def _c32(s) -> Column:
    """The BM25 norm cache k1·((1−b)+b·dl/avgdl) per posting row."""
    return F.element_at(s._norm_cache_col(), _norm_byte_idx()).cast("float")


def _bm25_f32_kernel(s, weight: float, frame) -> Column:
    # Pure-JVM float32 kernel: every float32 op is emulated as
    # double-op-then-cast-to-float, which is bit-exact (innocuous
    # double rounding: binary64 p=53 ≥ 2·24+2 for +,−,×,÷ on
    # binary32 inputs).  Stays inside whole-stage codegen — no
    # Python worker in the query hot path.  The 256-entry norm
    # cache (BM25Similarity.java:213-217) becomes an array literal
    # indexed by norm byte, or the plain ``_c32`` column where the
    # cached postings frame already carries it (a tiny plan).
    w32 = float(np.float32(np.float32(weight) * np.float32(s.bm25.k1 + 1)))
    if "_c32" in frame.columns:
        c = F.col("_c32").cast("double")
    else:
        c = F.element_at(s._norm_cache_col(), _norm_byte_idx())
    f = F.col("freq").cast("double")
    num = (F.lit(w32) * f).cast("float").cast("double")
    den = (f + c).cast("float").cast("double")
    return (num / den).cast("float")


def _bm25_kernel(s, weight: float, frame) -> Column:
    # double precision with exact field lengths — fully ANSI-SQL-
    # expressible (whole-stage codegen)
    k1, b = float(s.bm25.k1), float(s.bm25.b)
    return (
        F.lit(float(weight) * (k1 + 1))
        * F.col("freq").cast("double")
        / (
            F.col("freq").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("length").cast("double") / F.lit(s._avgdl64)
            )
        )
    )


def _classic_f32_kernel(s, weight: float, frame) -> Column:
    # ClassicSimilarity float32 kernel (TFIDFSimilarity.java:553-569):
    # raw = (float)sqrt(freq) · queryWeight, then raw ·
    # NORM_TABLE[norm_byte] (decodeNormValue of the byte315-encoded
    # 1/sqrt(length)).  Same emulation as the BM25 float32 kernel.
    w32 = float(np.float32(weight))
    nrm = F.element_at(s._byte315_col(), _norm_byte_idx())
    tf32 = F.sqrt(F.col("freq").cast("double")).cast("float").cast("double")
    raw = (tf32 * F.lit(w32)).cast("float").cast("double")
    return (raw * nrm).cast("float")


def _classic_kernel(s, weight: float, frame) -> Column:
    # double TF-IDF with exact lengths: sqrt(tf)·idf·1/sqrt(dl)
    return (
        F.lit(float(weight))
        * F.sqrt(F.col("freq").cast("double"))
        / F.sqrt(F.col("length").cast("double"))
    )


def _sweetspot_kernel(s, weight: float, frame) -> Column:
    # SweetSpotSimilarity (lucene/misc/SweetSpotSimilarity.java):
    # ClassicSimilarity idf · baselineTf(freq) · computeLengthNorm(length),
    # exact-double / exact-length variant
    ss = s.sweetspot
    return (
        F.lit(float(weight))
        * baseline_tf(F.col("freq"), ss["tf_base"], ss["tf_min"])
        * compute_length_norm(
            F.col("length"), ss["ln_min"], ss["ln_max"], ss["steepness"]
        )
    )


def _tfidf(f32, idf, weight, kernel, cached_col=None) -> Similarity:
    """A TF-IDF-family record: idf summed in double over the stats in
    list order, the query weight boost·idf from that sum (BM25Stats /
    TFIDFSimilarity IDFStats.queryWeight :594-599), then the kernel."""

    def query_weight(bm25, doc_count, boost, stats):
        return weight(bm25, sum(idf(df, doc_count) for df, _ in stats), boost)

    def score(s, boost, stats, frame):
        return kernel(s, query_weight(s.bm25, s.stats.doc_count, boost, stats), frame)

    return Similarity(f32, score, cached_col, query_weight)


def _double_weight(bm25, idf_sum: float, boost: float) -> float:
    return boost * float(idf_sum)


def _sb(kernel) -> Similarity:
    """A SimilarityBase record: one kernel per stats entry at the same
    freq, summed in float32 left to right (MultiSimScorer:70-84)."""

    def score(s, boost, stats, frame):
        dl = F.element_at(s._norm_table_col(), _norm_byte_idx())
        n, sttf = s.stats.doc_count, s.stats.sum_total_term_freq
        cols = [kernel(F.col("freq"), dl, boost, df, ttf, n, sttf) for df, ttf in stats]
        return reduce(
            lambda acc, col: (acc.cast("double") + col.cast("double")).cast("float"),
            cols,
        )

    return Similarity(True, score)


SIMILARITIES: dict[str, Similarity] = {
    # float32 BM25 + byte315-quantized norms, rank-identical to the
    # reference (BM25Similarity.java:213-254)
    "lucene": _tfidf(
        True,
        lambda df, n: float(idf32(df, n)),
        lambda bm25, idf_sum, boost: float(bm25.weight(np.float32(idf_sum), boost)),
        _bm25_f32_kernel,
        cached_col=_c32,
    ),
    # double BM25 with exact lengths (the SQL-oracle mode)
    "exact": _tfidf(False, bm25_idf, _double_weight, _bm25_kernel),
    "classic": _tfidf(
        True,
        lambda df, n: float(np.float32(_classic_idf(df, n))),
        lambda bm25, idf_sum, boost: float(np.float32(np.float32(boost) * np.float32(idf_sum))),
        _classic_f32_kernel,
    ),
    "classic_exact": _tfidf(False, _classic_idf, _double_weight, _classic_kernel),
    "sweetspot_exact": _tfidf(False, _classic_idf, _double_weight, _sweetspot_kernel),
    "lm_dirichlet": _sb(lm_dirichlet_score),
    "lm_jelinek_mercer": _sb(lm_jelinek_mercer_score),
    "dfr_in_l_h2": _sb(dfr_in_l_h2_score),
    "dfr_pl2": _sb(dfr_pl2_score),
    "dfr_ine_b_h1": _sb(dfr_ine_b_h1_score),
    "ib_spl_df": _sb(ib_spl_df_score),
    "ib_ll_df": _sb(ib_ll_df_h2_score),
    "axiomatic_f2exp": _sb(axiomatic_f2exp_score),
    "dfi_chi2": _sb(partial(dfi_score, measure="chi_squared")),
    "dfi_standardized": _sb(partial(dfi_score, measure="standardized")),
    "dfi_saturated": _sb(partial(dfi_score, measure="saturated")),
    "boolean_sim": _sb(boolean_score),
}
