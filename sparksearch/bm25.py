"""Okapi BM25 scoring math, reference-exact: the one BM25 kernel.

Defaults k1=1.2, b=0.75, discount_overlaps=true
(/root/reference/server/src/main/java/org/opensearch/index/similarity/SimilarityProviders.java:308-316;
default similarity selection at sv/index/similarity/SimilarityService.java:72,99-125).

Per query term t and document d (LegacyBM25Similarity — includes the (k1+1)
numerator factor):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn(d)  = tf / (tf + k1 * ((1 - b) + b * dl_q / avgdl))
    s_t(d)  = (idf(t) * (k1 + 1)) * tfn(d)
    score   = sum over the unique query terms t, in sorted order, of
              cnt_t * s_t(d), added left to right

where:
  N      = docCount for the field (global — DFS_QUERY_THEN_FETCH semantics,
           sv/search/dfs/DfsPhase.java:57-104 aggregated at
           sv/action/search/SearchPhaseController.java:106-122)
  df     = number of documents containing t (global)
  avgdl  = sumTotalTermFreq / docCount using RAW token counts
  dl_q   = the *quantized* doc length: SmallFloat decode(encode(raw_dl))
           (norms.py) — this is what makes ranks Lucene-identical.
  cnt_t  = the number of times t occurs in the analyzed query

An exact phrase is one pseudo-term: its weight is (k1 + 1) * Σ idf over the
member terms (sorted, with multiplicity) and its tf the phrase frequency.

Kernel rule — every BM25 scorer (the row-postings plan, both WAND phases
and its block bounds, explain, and oracle.py) calls these functions, so the
scores of one (query, doc) are bit-identical on every path:
  - transcendentals run on the driver only: `idf` is `math.log` over
    Python floats, and a JVM plan receives `weight` as a double literal.
    The JVM's log1p is not Python's log; no logarithm runs on both sides.
  - `tfn` is one expression tree, called with Python floats or with double
    Columns. + - * / are IEEE-exact on both sides and Catalyst does not
    reassociate doubles, so both sides round identically.
  - `combine` adds the per-term values in sorted-term order, left to right,
    never in arrival order (float addition is not associative); the JVM
    folds the same `step` over each doc's term-sorted list.

Ties break by ascending docid (Lucene per-shard doc order, then shard order
in TopDocs.merge — sv/action/search/SearchPhaseController.java:246-249); we
define a deterministic global docid (dense, ordered by url) so the global
tie-break is simply docid asc.
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75

__all__ = ["K1", "B", "idf", "weight", "phrase_weight", "tfn", "step",
           "combine"]


def idf(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def weight(df: int, n_docs: int, k1: float = K1) -> float:
    """idf·(k1+1): the per-term factor of a row value, a driver float."""
    return idf(df, n_docs) * (k1 + 1.0)


def phrase_weight(dfs, n_docs: int, k1: float = K1) -> float:
    """(k1+1)·Σ idf for a phrase pseudo-term; `dfs` holds the member terms'
    dfs in sorted-term order, one entry per occurrence."""
    return (k1 + 1.0) * sum(idf(df, n_docs) for df in dfs)


def tfn(tf, dl_q, avgdl: float, k1: float = K1, b: float = B):
    """tf / (tf + k1·((1−b) + b·dl_q/avgdl)) over Python floats or double
    Columns (callers cast integer columns to double first)."""
    return tf / (tf + k1 * ((1.0 - b) + b * dl_q / avgdl))


def step(total, cnt, s):
    """One term of a doc's score: total + cnt·s, over Python floats or
    Columns."""
    return total + cnt * s


def combine(cnt: dict, scores: dict) -> float:
    """A doc's score from its row values `scores` {term: s_t} (the query
    terms it holds): `step` over the terms in sorted order, from 0.0.
    exec._combine folds the same steps over each doc's (term, score) list
    sorted by term, so the driver and the JVM add in one order."""
    total = 0.0
    for t in sorted(scores):
        total = step(total, cnt[t], scores[t])
    return total
