"""Configurable similarity modules (index setting ``similarity``).

Reimplements the reference's per-field similarity registry
(/root/reference/server/src/main/java/org/opensearch/index/similarity/SimilarityService.java
BUILT_IN: BM25 / boolean / LMDirichlet / LMJelinekMercer / DFR / DFI / IB;
SimilarityProviders.java for the per-type parameter parsing) for the four
similarities that cover real usage:

- **BM25(k1, b)** — the default; tunable k1/b
  (SimilarityProviders.createBM25Similarity).
- **boolean** — score = query boost (1.0 here) per matching clause, no
  tf/idf (SimilarityProviders.createBooleanSimilarity; Lucene
  BooleanSimilarity).
- **LMDirichlet(mu=2000)** — Lucene LMDirichletSimilarity:
  ``max(0, log(1 + tf/(mu·p)) + log(mu/(dl+mu)))`` with collection
  probability ``p = (cf+1)/(T+1)`` (LMSimilarity.LMStats smoothing).
- **LMJelinekMercer(lambda=0.1)** — Lucene LMJelinekMercerSimilarity:
  ``max(0, log(1 + ((1-λ)·tf/dl) / (λ·p)))``.

All non-BM25 formulas are Catalyst column expressions over the
per-posting row (tf, dl_q) and literal-map per-term stats (df, cf) — the
same single-scan plan shape as the BM25 path, which scores with the
bm25.py kernel instead. ``dl_q`` is the
SmallFloat-quantized doc length, exactly the decoded norm Lucene feeds its
similarities.

Scope: configurable similarity applies to the term-scored paths (match /
bool / msearch — everything through ``Executor._term_scores``). Positional
and expanded paths (phrase, spans, fuzzy, synonym-blended, MLT) raise
NotImplementedError under a non-BM25 similarity rather than silently
scoring BM25. The block-max WAND path covers any BM25 (k1, b): its stored
impact pairs are raw (max_tf, min_dlq) statistics and the bounds are
re-derived at query time, which is exact because BM25 here rejects
k1 < 0 and b outside [0, 1]. Only non-BM25 similarities fall back to the
plan path.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from sparksearch import bm25

__all__ = ["Similarity", "BM25Similarity", "BooleanSimilarity",
           "LMDirichletSimilarity", "LMJelinekMercerSimilarity",
           "DFRSimilarity", "DFISimilarity", "IBSimilarity",
           "ScriptedSimilarity", "from_config"]


@dataclass(frozen=True)
class Similarity:
    """Scores one (docid, term) posting row. `score_expr` may reference
    the columns ``tf``, ``dl_q`` (posting) and ``df``, ``cf`` (broadcast
    per-term stats) plus the index-level constants passed in."""

    def score_expr(self, tf: Column, dl_q: Column, n_docs: int,
                   avgdl: float, total_tf: int) -> Column:
        raise NotImplementedError

    @property
    def is_default_bm25(self) -> bool:
        return False

    def to_config(self) -> dict:
        raise NotImplementedError


@dataclass(frozen=True)
class BM25Similarity(Similarity):
    """BM25(k1, b). Like Lucene's BM25Similarity, rejects k1 < 0 and b
    outside [0, 1]: WAND's block bounds rely on bm25.tfn rising in tf and
    falling in dl, which only holds in that range. It has no score_expr:
    every BM25 path scores with the bm25.py kernel, whose idf runs on the
    driver (exec._bm25_scores)."""
    k1: float = bm25.K1
    b: float = bm25.B

    def __post_init__(self):
        if not (math.isfinite(self.k1) and self.k1 >= 0):
            raise ValueError(f"illegal k1 value: {self.k1}, must be a "
                             "non-negative finite value")
        if not 0 <= self.b <= 1:
            raise ValueError(f"illegal b value: {self.b}, must be between "
                             "0 and 1")

    @property
    def is_default_bm25(self) -> bool:
        return self.k1 == bm25.K1 and self.b == bm25.B

    def to_config(self) -> dict:
        return {"type": "BM25", "k1": self.k1, "b": self.b}


@dataclass(frozen=True)
class BooleanSimilarity(Similarity):
    def score_expr(self, tf, dl_q, n_docs, avgdl, total_tf):
        return F.lit(1.0)

    def to_config(self) -> dict:
        return {"type": "boolean"}


def _collection_prob(total_tf: int) -> Column:
    # LMSimilarity.LMStats: p = (totalTermFreq + 1) / (sumTotalTermFreq + 1)
    return (F.col("cf").cast("double") + 1.0) / float(total_tf + 1)


@dataclass(frozen=True)
class LMDirichletSimilarity(Similarity):
    mu: float = 2000.0

    def score_expr(self, tf, dl_q, n_docs, avgdl, total_tf):
        p = _collection_prob(total_tf)
        s = (F.log1p(tf.cast("double") / (F.lit(self.mu) * p))
             + F.log(F.lit(self.mu) / (dl_q.cast("double") + self.mu)))
        return F.greatest(s, F.lit(0.0))

    def to_config(self) -> dict:
        return {"type": "LMDirichlet", "mu": self.mu}


@dataclass(frozen=True)
class LMJelinekMercerSimilarity(Similarity):
    lam: float = 0.1

    def score_expr(self, tf, dl_q, n_docs, avgdl, total_tf):
        p = _collection_prob(total_tf)
        s = F.log1p((F.lit(1.0 - self.lam) * tf.cast("double")
                     / dl_q.cast("double")) / (F.lit(self.lam) * p))
        return F.greatest(s, F.lit(0.0))

    def to_config(self) -> dict:
        return {"type": "LMJelinekMercer", "lambda": self.lam}


def _log2(x: Column) -> Column:
    return F.log2(x)


def _tfn_expr(normalization: str, c: float, tf: Column, dl_q: Column,
              avgdl: float) -> Column:
    """DFR/IB term-frequency normalization (Lucene Normalization*.java;
    parameter names per SimilarityProviders.parseNormalization:
    no / h1(c=1) / h2(c=1)).

    - ``no``: tfn = tf
    - ``h1``: tfn = c * tf * avgfl / fl     (NormalizationH1)
    - ``h2``: tfn = tf * log2(1 + c * avgfl / fl)   (NormalizationH2)

    ``h3`` and ``z`` are registered refusals: their exact Lucene
    constants (Dirichlet-prior / Pareto-Zipf forms) are not reproduced
    here and a near-miss formula would silently change every score.
    """
    t = tf.cast("double")
    fl = dl_q.cast("double")
    if normalization == "no":
        return t
    if normalization == "h1":
        return F.lit(c) * t * F.lit(float(avgdl)) / fl
    if normalization == "h2":
        return t * _log2(F.lit(1.0) + F.lit(c) * F.lit(float(avgdl)) / fl)
    raise NotImplementedError(
        f"normalization {normalization!r}: only no/h1/h2 are implemented; "
        "h3 (Dirichlet) and z (Pareto-Zipf) are refused rather than "
        "approximated")


@dataclass(frozen=True)
class DFRSimilarity(Similarity):
    """Divergence-from-randomness (Amati & van Rijsbergen, TOIS 2002;
    Lucene DFRSimilarity + BasicModel{G,IF,In,Ine} / AfterEffect{B,L} /
    Normalization{H1,H2}; the reference parses basic_model/after_effect/
    normalization in SimilarityProviders.createDfrSimilarity:333-352 and
    registers type "DFR" in SimilarityService BUILT_IN).

    Post-LUCENE-8015 form (scores non-decreasing in freq): with
    A = afterEffect.scoreTimes1pTfn(stats), the model score is
    ``A * model(tfn) / (1 + tfn)``:

    - after_effect ``l``: A = 1
    - after_effect ``b``: A = (F + 1) / n with F = ttf + 1, n = df
      (classical B = (F+1)/(n·(tfn+1)) with the (1+tfn) factored out)
    - basic_model ``g``:  λ = F/(N+F), F = ttf + 1;
      model = log2(1+λ) + tfn·log2((1+λ)/λ)
    - basic_model ``if``: model = tfn · log2(1 + (N+1)/(F+0.5)), F = ttf
    - basic_model ``in``: model = tfn · log2((N+1)/(df+0.5))
    - basic_model ``ine``: ne = N·(1-((N-1)/N)^F), F = ttf;
      model = tfn · log2((N+1)/(ne+0.5))
    """
    basic_model: str = "g"
    after_effect: str = "b"
    normalization: str = "h2"
    c: float = 1.0

    def score_expr(self, tf, dl_q, n_docs, avgdl, total_tf):
        N = float(n_docs)
        df = F.col("df").cast("double")
        cf = F.col("cf").cast("double")
        tfn = _tfn_expr(self.normalization, self.c, tf, dl_q, avgdl)
        if self.after_effect == "l":
            A = F.lit(1.0)
        elif self.after_effect == "b":
            A = (cf + 2.0) / df          # (F+1)/n, F = ttf+1
        else:
            raise ValueError(f"after_effect {self.after_effect!r}")
        if self.basic_model == "g":
            lam = (cf + 1.0) / (F.lit(N) + cf + 1.0)
            model = (_log2(F.lit(1.0) + lam)
                     + tfn * _log2((F.lit(1.0) + lam) / lam))
        elif self.basic_model == "if":
            model = tfn * _log2(F.lit(1.0) + F.lit(N + 1.0) / (cf + 0.5))
        elif self.basic_model == "in":
            model = tfn * _log2(F.lit(N + 1.0) / (df + 0.5))
        elif self.basic_model == "ine":
            ne = F.lit(N) * (F.lit(1.0)
                             - F.pow(F.lit((N - 1.0) / N), cf))
            model = tfn * _log2(F.lit(N + 1.0) / (ne + 0.5))
        else:
            raise ValueError(f"basic_model {self.basic_model!r}")
        return F.greatest(A * model / (F.lit(1.0) + tfn), F.lit(0.0))

    def to_config(self) -> dict:
        return {"type": "DFR", "basic_model": self.basic_model,
                "after_effect": self.after_effect,
                "normalization": self.normalization,
                f"normalization.{self.normalization}.c": self.c}


@dataclass(frozen=True)
class DFISimilarity(Similarity):
    """Divergence-from-independence (Kocabas/Dincer/Karaoglan 2011;
    Lucene DFISimilarity + Independence{Standardized,Saturated,
    ChiSquared}; SimilarityProviders.parseIndependence:258-266, type
    "DFI" in SimilarityService BUILT_IN).

    expected = (ttf + 1) · fl / (T + 1); score 0 when tf <= expected,
    else log2(measure + 1) with measure one of
    standardized (tf-e)/sqrt(e) · saturated (tf-e)/e ·
    chisquared (tf-e)²/e.
    """
    independence_measure: str = "chisquared"

    def score_expr(self, tf, dl_q, n_docs, avgdl, total_tf):
        t = tf.cast("double")
        fl = dl_q.cast("double")
        cf = F.col("cf").cast("double")
        e = (cf + 1.0) * fl / float(total_tf + 1)
        if self.independence_measure == "standardized":
            m = (t - e) / F.sqrt(e)
        elif self.independence_measure == "saturated":
            m = (t - e) / e
        elif self.independence_measure == "chisquared":
            m = (t - e) * (t - e) / e
        else:
            raise ValueError(
                f"independence_measure {self.independence_measure!r}")
        return F.when(t <= e, F.lit(0.0)).otherwise(
            _log2(m + F.lit(1.0)))

    def to_config(self) -> dict:
        return {"type": "DFI",
                "independence_measure": self.independence_measure}


@dataclass(frozen=True)
class IBSimilarity(Similarity):
    """Information-based similarity (Clinchant & Gaussier, SIGIR 2010;
    Lucene IBSimilarity + Distribution{LL,SPL} / Lambda{DF,TTF};
    SimilarityProviders.createIBSimilarity parses distribution/lambda/
    normalization, type "IB" in SimilarityService BUILT_IN).

    λ_df = (df+1)/(N+1); λ_ttf = (ttf+1)/(N+1); tfn as in DFR.
    - ``ll``:  score = -log2(λ / (tfn + λ))
    - ``spl``: score = -log2((λ^(tfn/(tfn+1)) - λ) / (1 - λ))
    """
    distribution: str = "ll"
    lam: str = "df"
    normalization: str = "h2"
    c: float = 1.0

    def score_expr(self, tf, dl_q, n_docs, avgdl, total_tf):
        df = F.col("df").cast("double")
        cf = F.col("cf").cast("double")
        tfn = _tfn_expr(self.normalization, self.c, tf, dl_q, avgdl)
        if self.lam == "df":
            lam = (df + 1.0) / float(n_docs + 1)
        elif self.lam == "ttf":
            lam = (cf + 1.0) / float(n_docs + 1)
        else:
            raise ValueError(f"lambda {self.lam!r}")
        if self.distribution == "ll":
            s = -_log2(lam / (tfn + lam))
        elif self.distribution == "spl":
            s = -_log2((F.pow(lam, tfn / (tfn + F.lit(1.0))) - lam)
                       / (F.lit(1.0) - lam))
        else:
            raise ValueError(f"distribution {self.distribution!r}")
        return F.greatest(s, F.lit(0.0))

    def to_config(self) -> dict:
        return {"type": "IB", "distribution": self.distribution,
                "lambda": self.lam, "normalization": self.normalization,
                f"normalization.{self.normalization}.c": self.c}


@dataclass(frozen=True)
class ScriptedSimilarity(Similarity):
    """``scripted`` similarity (ScriptedSimilarityProvider; the script
    context of sv/script/SimilarityScript.java): the user's expression is
    compiled by the Painless-subset compiler to ONE Catalyst column.
    Reference binding names map onto the per-posting join columns:
    ``doc.freq``→tf, ``doc.length``→decoded norm (dl_q),
    ``term.docFreq``→df, ``term.totalTermFreq``→cf;
    ``field.docCount`` and ``field.sumTotalTermFreq`` are inlined as
    literals at plan time."""
    source: str = ""

    def score_expr(self, tf, dl_q, n_docs, avgdl, total_tf):
        from sparksearch.painless import compile_script
        src = (self.source
               .replace("doc.freq", "doc['tf']")
               .replace("doc.length", "doc['dl_q']")
               .replace("term.docFreq", "doc['df']")
               .replace("term.totalTermFreq", "doc['cf']")
               .replace("field.docCount", f"{float(n_docs)!r}")
               .replace("field.sumTotalTermFreq", f"{float(total_tf)!r}"))
        return compile_script(src).col.cast("double")

    def to_config(self) -> dict:
        return {"type": "scripted", "script": {"source": self.source}}


def from_config(cfg: dict | Similarity | None) -> Similarity:
    """Parse an index-settings similarity dict
    (SimilarityProviders.java parameter names)."""
    if cfg is None:
        return BM25Similarity()
    if isinstance(cfg, Similarity):
        return cfg
    typ = cfg.get("type", "BM25")
    if typ == "BM25":
        return BM25Similarity(k1=float(cfg.get("k1", bm25.K1)),
                              b=float(cfg.get("b", bm25.B)))
    if typ == "boolean":
        return BooleanSimilarity()
    if typ == "LMDirichlet":
        return LMDirichletSimilarity(mu=float(cfg.get("mu", 2000.0)))
    if typ == "LMJelinekMercer":
        return LMJelinekMercerSimilarity(
            lam=float(cfg.get("lambda", 0.1)))
    if typ == "scripted":
        return ScriptedSimilarity(source=cfg["script"]["source"])
    if typ == "DFR":
        norm = cfg.get("normalization", "h2")
        return DFRSimilarity(
            basic_model=cfg.get("basic_model", "g"),
            after_effect=cfg.get("after_effect", "b"),
            normalization=norm,
            c=float(cfg.get(f"normalization.{norm}.c", 1.0)))
    if typ == "DFI":
        return DFISimilarity(
            independence_measure=cfg.get("independence_measure",
                                         "chisquared"))
    if typ == "IB":
        norm = cfg.get("normalization", "h2")
        return IBSimilarity(
            distribution=cfg.get("distribution", "ll"),
            lam=cfg.get("lambda", "df"),
            normalization=norm,
            c=float(cfg.get(f"normalization.{norm}.c", 1.0)))
    raise ValueError(f"unknown similarity type: {typ!r}")
