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
      if  ub(B) = w_t·idf_t·max_tfn(B) + Σ_{t'≠t} w_t'·idf_t'·gmax_t' ≥ θ.
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
Catalyst expression, summed by groupBy(docid) — no Python worker runs in
either phase, with or without deletes.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparksearch import bm25
from sparksearch.analysis import analyze
from sparksearch.queries import Match, calculate_min_should_match
from sparksearch.segments import BLOCK_SIZE, decode_blocks

__all__ = ["wand_topk"]

def wand_topk(ix, q: Match, k: int = 10,
              k1: float | None = None,
              b: float | None = None) -> DataFrame:
    """Exact BM25 top-k for a match query via block-max pruning.

    Returns DataFrame(docid, score), score desc / docid asc, ≤ k rows.
    `ix` is an IndexReader with packed segments built and the term-level
    (max_tf, min_dlq) impact columns in its stats table; ValueError
    otherwise (Executor.search mode="auto" plans such an index instead).

    ``k1``/``b`` tune the BM25 parameters (default: the reference
    defaults 1.2/0.75). The stored impact pairs are raw per-block
    (max_tf, min_dlq) STATISTICS, not precomputed scores, and
    tf/(tf+k1·(1−b+b·dl/avgdl)) is monotone up in tf / down in dl for
    any k1>0, 0≤b≤1 — so the same pairs yield exact upper bounds under
    any parameterization and pruning stays rank-exact.
    """
    k1 = bm25.K1 if k1 is None else float(k1)
    b = bm25.B if b is None else float(b)
    from sparksearch.index import IMPACT_COLUMNS
    missing = [c for c in IMPACT_COLUMNS if c not in ix.stats.columns]
    if missing:
        raise ValueError(
            f"wand_topk needs the stats columns {missing}; this index's "
            "stats table predates them — rebuild it, or use the plan path")
    ix.segments.require_current("wand_topk")
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
    # (k1+1) folded into the per-term weight: decode emits plain
    # tf/(tf+k1·norm), so score = w·idf·(k1+1)·tfn = LegacyBM25Similarity
    widf = {t: cnt[t] * bm25.idf(stats[t][0], ix.n_docs) * (k1 + 1.0)
            for t in present}

    # buckets are pure-Python xxhash64 (no job)
    blocks = ix.segments.blocks_for(present, ix._buckets_of(present))
    # block upper bound from the stored (max_tf, min_dlq) impact pair and the
    # CURRENT global avgdl — tfn is monotone up in tf, down in dl, so this
    # dominates every doc in the block even after avgdl drifted across
    # generations

    def _tfn_bound(max_tf: float, min_dlq: float) -> float:
        return max_tf / (max_tf + k1 * (1.0 - b + b * min_dlq / ix.avgdl))

    tfn_ub = (F.col("max_tf").cast("double")
              / (F.col("max_tf")
                 + F.lit(k1) * (1.0 - b
                                + b * F.col("min_dlq").cast("double")
                                / float(ix.avgdl))))
    blocks = blocks.withColumn("_tfn_ub", tfn_ub)

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

    # per-term global bound gmax: from the term-level (max_tf, min_dlq)
    # impact pair in the stats table — zero extra jobs.
    # tfn_ub(max over blocks max_tf, min over blocks min_dlq) ≥
    # max over blocks tfn_ub(block) ≥ any doc's tfn, so pruning stays
    # exact (marginally looser than the per-block max).
    gm = {t: _tfn_bound(float(v[2]), float(v[3])) for t, v in stats.items()}
    sum_all = sum(widf[t] * gm[t] for t in present)

    # msm is counted over the analyzed token list INCLUDING duplicates (an
    # operator='and' query with a repeated term needs msm = len(terms)), so
    # clause-match counts must be weighted by the term's multiplicity cnt[t]
    # — mirroring exec._plan_match; countDistinct(term) caps at len(uniq)
    # and would make repeated-term AND queries unsatisfiable.
    cnt_map = F.create_map(*[x for t in present
                             for x in (F.lit(t), F.lit(int(cnt[t])))])
    widf_map = F.create_map(*[x for t in present
                              for x in (F.lit(t), F.lit(widf[t]))])

    def agg_scores(df: DataFrame) -> DataFrame:
        # w·idf·tf/(tf + k1·((1−b) + b·dl_q/avgdl)), in the operation order
        # of the driver-side phase-A scoring below
        tf = F.col("tf").cast("double")
        norm = F.lit(1.0 - b) + F.lit(b) * F.col("dl_q").cast("double") \
            / F.lit(float(ix.avgdl))
        tfn = tf / (tf + F.lit(k1) * norm)
        out = (decode_blocks(df)
               .groupBy("docid")
               .agg(F.sum(F.element_at(widf_map, F.col("term")) * tfn)
                    .alias("score"),
                    F.sum(F.element_at(cnt_map, F.col("term")))
                     .alias("_nt")))
        if msm > 1:
            out = out.filter(F.col("_nt") >= msm)
        return out.select("docid", "score")

    # phase A scoring, driver-local over the collected live seed postings
    acc_s: dict[int, float] = {}
    acc_n: dict[int, int] = {}
    for term, d, tf, dl_q in seed_rows:
        tfn = tf / (tf + k1 * (1.0 - b + b * dl_q / ix.avgdl))
        acc_s[d] = acc_s.get(d, 0.0) + widf[term] * tfn
        acc_n[d] = acc_n.get(d, 0) + cnt[term]
    cand = sorted((s for d, s in acc_s.items()
                   if msm <= 1 or acc_n[d] >= msm), reverse=True)
    theta = cand[k - 1] if len(cand) >= k else 0.0

    # phase B: prune blocks whose best-possible doc can't reach θ, then
    # score the survivors exactly
    gmax_other = {t: sum_all - widf[t] * gm[t] for t in present}
    ub_other = F.create_map(*[x for t in present
                              for x in (F.lit(t), F.lit(gmax_other[t]))])
    survivors = blocks.filter(
        F.element_at(widf_map, F.col("term")) * F.col("_tfn_ub")
        + F.element_at(ub_other, F.col("term")) >= F.lit(theta))
    return (ix.live(agg_scores(survivors))
            .orderBy(F.col("score").desc(), F.col("docid").asc())
            .limit(k))
