"""Block-max WAND top-k over packed segments.

The reference's hot query path is Lucene's TopScoreDocCollector with
block-max WAND pruning, enabled because track_total_hits defaults to 10k
(/root/reference/server/src/main/java/org/opensearch/search/query/TopDocsCollectorContext.java:348-363,
/root/reference/server/src/main/java/org/opensearch/search/internal/SearchContext.java:92-94;
the WAND machinery itself is Lucene 9.4 public: impacts +
setMinCompetitiveScore). A batch engine can't do Lucene's doc-at-a-time
cursor dance, so this is the *set-oriented* equivalent with the same
guarantee (provably identical top-k):

  phase A (threshold seed): decode only the J highest-impact blocks per
      query term, aggregate partial scores, take the k-th best → θ.
      Partial sums under-estimate true scores, so θ is a valid lower
      bound of the true k-th score.
  phase B (prune + score): a block of term t can contain a top-k doc only
      if  ub(B) = w_t·max_tfn(B) + Σ_{t'≠t} w_t'·gmax_t' ≥ θ.
      Every doc of a pruned block has true score ≤ ub(B) < θ ≤ true k-th
      score, so pruning is exact; and any true top-k doc (including k-th
      ties) sits only in surviving blocks, so its score and its
      minimum_should_match term count are computed exactly.

Both phases are DataFrame plans: parquet scans pruned by (bucket, term),
block filters on JVM-side metadata columns, and Spark's
TakeOrderedAndProject as the per-partition-top-k + merge
(= per-shard collector + SearchPhaseController.mergeTopDocs,
sv/action/search/SearchPhaseController.java:191-249). Phase A collects
the ≤ j·|terms|·BLOCK_SIZE postings of its seed blocks, decoded with
segments.decode_blocks and stripped of tombstoned docs in the same plan
(the collector-side liveDocs check), and scores them on the driver;
phase B decodes the surviving blocks the same way and scores them with a
Catalyst expression, combined per doc by exec._combine — no Python worker
runs in either phase, with or without deletes. Both phases score with the
bm25.py kernel, so θ and every returned score equal the plan path's bit
for bit.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparksearch import bm25
from sparksearch.analysis import analyze
from sparksearch.exec import _bm25_scores, _combine, _term_lookup
from sparksearch.queries import Match, calculate_min_should_match
from sparksearch.segments import BLOCK_SIZE, decode_blocks

__all__ = ["wand_topk"]

def wand_topk(ix, q: Match, k: int = 10,
              k1: float | None = None,
              b: float | None = None) -> DataFrame:
    """Exact BM25 top-k for a match query via block-max pruning.

    Returns DataFrame(docid, score), score desc / docid asc, ≤ k rows.
    `ix` is an IndexReader with packed segments built; the term-level
    (max_tf, min_dlq) impact pair comes from its stats table.

    ``k1``/``b`` tune the BM25 parameters (default: the reference
    defaults 1.2/0.75). The stored impact pairs are raw per-block
    (max_tf, min_dlq) STATISTICS, not precomputed scores, and
    bm25.tfn is monotone up in tf / down in dl for
    any k1>0, 0≤b≤1 — so the same pairs yield exact upper bounds under
    any parameterization and pruning stays rank-exact.
    """
    k1 = bm25.K1 if k1 is None else float(k1)
    b = bm25.B if b is None else float(b)
    toks = analyze(q.text, q.analyzer or ix.search_analyzer)
    terms = [t for t, _ in toks]
    if len({p for _, p in toks}) != len(toks):
        raise ValueError(
            "wand_topk scores exact terms independently; synonym-stacked "
            "token streams need the blended plan path "
            "(Executor.search mode='plan' falls back automatically)")
    if not terms or k <= 0:
        return ix.docs.select(
            "docid", F.lit(0.0).alias("score")).limit(0)
    cnt = Counter(terms)
    uniq = sorted(cnt)
    if q.operator == "and":
        msm = len(terms)
    else:
        msm = calculate_min_should_match(
            len(terms), q.minimum_should_match, has_required=False)

    stats = ix.stats_for(uniq)
    present = [t for t in uniq if t in stats]
    if not present:
        return ix.docs.select("docid", F.lit(0.0).alias("score")).limit(0)
    # the kernel's per-term weight idf·(k1+1); a doc's score is
    # bm25.combine over cnt·weight·tfn, exactly as on the plan path
    wt = {t: bm25.weight(stats[t][0], ix.n_docs, k1) for t in present}
    avgdl = float(ix.avgdl)

    # buckets are pure-Python xxhash64 (no job)
    blocks = ix.segments.blocks_for(present, ix._buckets_of(present))
    # block upper bound from the stored (max_tf, min_dlq) impact pair and the
    # CURRENT global avgdl — tfn is monotone up in tf, down in dl, so this
    # dominates every doc in the block even after avgdl drifted across
    # generations
    blocks = blocks.withColumn("_tfn_ub", bm25.tfn(
        F.col("max_tf").cast("double"), F.col("min_dlq").cast("double"),
        avgdl, k1, b))

    # phase A seed: the j highest-impact blocks per term, decoded and
    # stripped of tombstoned docs in one JVM-only plan. Only their
    # ≤ j·|terms|·BLOCK_SIZE live postings (bounded at any corpus size)
    # come back to the driver, which scores them and derives θ locally.
    # θ must lower-bound the k-th LIVE score — a deleted doc in the seed
    # would over-prune.
    j = max(1, math.ceil(k / BLOCK_SIZE)) + 1
    wnd = Window.partitionBy("term").orderBy(
        F.col("_tfn_ub").desc(), F.col("salt"), F.col("block_id"))
    seed_rows = ix.live(decode_blocks(
        blocks.withColumn("_rn", F.row_number().over(wnd))
        .filter(F.col("_rn") <= j))) \
        .select("term", "docid", "tf", "dl_q").collect()

    # phase A scoring, driver-local, with the kernel: a seed doc's partial
    # score skips each term whose posting fell outside the seed, so it
    # never exceeds the doc's true score (rounding is monotone)
    seen: dict[int, dict[str, float]] = {}
    for term, d, tf, dl_q in seed_rows:
        seen.setdefault(d, {})[term] = wt[term] * bm25.tfn(
            float(tf), float(dl_q), avgdl, k1, b)
    cand = sorted((bm25.combine(cnt, s) for s in seen.values()
                   if msm <= 1 or sum(cnt[t] for t in s) >= msm),
                  reverse=True)
    theta = cand[k - 1] if len(cand) >= k else 0.0

    # phase B: prune blocks whose best-possible doc can't reach θ, then
    # score the survivors exactly. A block of term t bounds its docs by
    # w_t·tfn_ub + Σ_{t'≠t} w_t'·gm_t' (w = cnt·weight; gm = the
    # term-level bound from the stats table's (max_tf, min_dlq) pair, ≥
    # every block's tfn_ub — zero extra jobs). A sum of positive terms in
    # another operation order than bm25.combine, the bound can round a
    # few ULP (≤ ~2·|terms|) below a doc that attains it, so it is
    # compared against θ with a relative margin: pruning less is always
    # exact.
    w = {t: cnt[t] * wt[t] for t in present}
    gm = {t: bm25.tfn(float(v[2]), float(v[3]), avgdl, k1, b)
          for t, v in stats.items()}
    w_map = _term_lookup(w)
    ub_other = _term_lookup({t: sum((w[u] * gm[u] for u in present
                                     if u != t), 0.0) for t in present})
    survivors = blocks.filter(
        w_map * F.col("_tfn_ub") + ub_other >= F.lit(theta * (1.0 - 1e-12)))
    per = decode_blocks(survivors).select(
        "docid", "term", _bm25_scores(stats, ix.n_docs, avgdl, k1, b)
        .alias("score"))
    # msm counts the analyzed tokens INCLUDING duplicates (an
    # operator='and' query with a repeated term needs msm = len(terms)),
    # which _combine's cnt-weighted match count does
    out = _combine(per, [cnt])
    if msm > 1:
        out = out.filter(F.col("_n0") >= msm)
    return (ix.live(out.select("docid", F.col("_s0").alias("score")))
            .orderBy(F.col("score").desc(), F.col("docid").asc())
            .limit(k))
